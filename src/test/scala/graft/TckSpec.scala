package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * openCypher-TCK-style conformance runner (the reference's primary
 * correctness corpus: community/cypher/compatibility-spec-suite consumes
 * org.opencypher:tck feature files through a Gherkin runner with a
 * per-engine denylist, .../features/tck/BaseTCKTests.scala +
 * .../tck/denylist/interpreted.txt). This suite executes scenarios
 * AUTHORED for graft in the public TCK format (the artifact itself is not
 * vendored; zero egress) from feature files under src/test/resources/tck,
 * covering the implemented Cypher surface. A committed denylist
 * (denylist.txt, reference denylist line format) skips documented
 * divergences; the summary test prints scenario counts. The Gherkin
 * machinery lives in [[TckHarness]], shared with [[AcceptanceSpec]]
 * (which runs the reference's own vendored acceptance corpus).
 */
class TckSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  // from the test classpath: forked test groups run in their own working
  // directories, so a path relative to the project root finds nothing
  private val tckDir = new java.io.File(getClass.getResource("/tck").toURI)
  private val (denylist, deniedFeatures) =
    TckHarness.loadDenylist(new java.io.File(tckDir, "denylist.txt"))

  private val scenarios = TckHarness.loadScenarios(tckDir)

  private val (denied, active) = scenarios.partition(s =>
    denylist((s.feature, s.name)) || deniedFeatures(s.feature))

  active.foreach { sc =>
    test(s"TCK: ${sc.feature} — ${sc.name}") {
      TckHarness.runScenario(spark, sc)
    }
  }

  test("TCK summary: scenario counts") {
    info(s"${scenarios.size} scenarios parsed, ${active.size} active, " +
      s"${denied.size} denylisted")
    assert(active.nonEmpty, "no TCK scenarios found")
  }
}
