package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Runs the reference's own vendored PUBLIC acceptance corpus — the 58
 * `.feature` files under community/cypher/spec-suite-tools/src/test/
 * resources/acceptance/features — against graft, through the shared
 * [[TckHarness]] Gherkin runner. The corpus is read as DATA from the
 * read-only reference checkout (openCypher-format content; no code is
 * vendored). A committed denylist at
 * src/test/resources/acceptance-denylist.txt skips scenarios exercising
 * surface graft does not implement (constraints, kernel procedures,
 * side-effect accounting details, …) with a reason per line; everything
 * else must pass. The summary test prints parsed/active/denylisted
 * counts — the corpus-level conformance number.
 *
 * Set -Dgraft.acceptance.dir to point at a different corpus checkout;
 * when the default directory does not exist the suite auto-skips (the
 * self-authored TckSpec corpus is the always-available baseline).
 */
class AcceptanceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val dir = new java.io.File(sys.props.getOrElse(
    "graft.acceptance.dir",
    "/root/reference/community/cypher/spec-suite-tools/src/test/resources/acceptance/features"))

  // from the test classpath: forked test groups run in their own working
  // directories, so a path relative to the project root finds nothing
  private val (denylist, deniedFeatures) = TckHarness.loadDenylist(
    new java.io.File(getClass.getResource("/acceptance-denylist.txt").toURI))

  private val scenarios: Seq[TckHarness.Scenario] =
    if (dir.isDirectory) TckHarness.loadScenarios(dir) else Nil

  private val (denied, active) = scenarios.partition(s =>
    denylist((s.feature, s.name)) || deniedFeatures(s.feature) ||
      s.unsupported.isDefined)

  active.foreach { sc =>
    test(s"ACC: ${sc.feature} — ${sc.name}") {
      TckHarness.runScenario(spark, sc)
    }
  }

  test("acceptance summary: scenario counts") {
    if (scenarios.isEmpty) {
      info(s"corpus directory not found: $dir — suite skipped")
    } else {
      val unsupported = scenarios.count(_.unsupported.isDefined)
      info(s"${scenarios.size} scenarios parsed, ${active.size} active, " +
        s"${denied.size} denylisted/unsupported ($unsupported of those " +
        "had unsupported step grammar)")
      assert(active.nonEmpty, "no acceptance scenarios found")
    }
  }
}
