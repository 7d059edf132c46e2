package graft

import graft.functions.Bpe
import graft.ops.{Bfs, Centrality, Placement}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The local-vs-distributed probe: on the local side each probed relation
  * is evaluated exactly once — one SQL execution, one job for a
  * single-partition shuffle-free input, every input row read once — and
  * the local branch itself launches nothing; under the override no probe
  * runs at all. */
class PlacementSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private final case class Counts(probeJobs: Int, probeExecs: Int, jobs: Int)

  /** Jobs and SQL executions launched while `body` runs. */
  private def counted(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger
    val probeExecs = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    def isProbe(d: String) =
      d != null && d.startsWith(Placement.ProbeDescription)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (isProbe(e.properties.getProperty("spark.job.description")))
          probeJobs.incrementAndGet()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if isProbe(s.description) =>
          probeExecs.incrementAndGet()
        case _ =>
      }
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    Counts(probeJobs.get, probeExecs.get, jobs.get)
  }

  /** `n` single-partition rows whose every read bumps the returned
    * counter, so the spec sees how often the relation was evaluated. */
  private def countedRange(n: Long)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val reads = spark.sparkContext.longAccumulator
    val tick = udf { (x: Long) => reads.add(1); x }.asNondeterministic()
    (spark.range(0, n, 1, 1).select(tick(col("id")).as("id")), reads)
  }

  test("probe: one job and one execution on the local side, none when forced") {
    val (df, reads) = countedRange(9)
    TestSession.withForcedDistributed(false) {
      var got: Option[Array[org.apache.spark.sql.Row]] = None
      assert(counted { got = Placement.local(df, 100) } == Counts(1, 1, 1))
      assert(got.map(_.length).contains(9) && reads.value == 9)
      assert(counted { got = Placement.local(df, 5) } == Counts(1, 1, 1))
      assert(got.isEmpty, "past the bound")
      assert(counted { got = Placement.local(df, 0) } == Counts(0, 0, 0))
      assert(got.isEmpty, "bound 0")
    }
    TestSession.withForcedDistributed(true) {
      var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
      assert(counted { got = Placement.local(df, 100) } == Counts(0, 0, 0))
      assert(got.isEmpty)
    }
  }

  test("connectedComponents reads its edges once locally; no probe when forced or bound 0") {
    val (ids, reads) = countedRange(9)
    val e = ids.select(col("id").as("src"), (col("id") + 1).as("dst"))
    TestSession.withForcedDistributed(false) {
      assert(counted(Bfs.connectedComponents(e)) == Counts(1, 1, 1))
      assert(reads.value == 9, "edges evaluated once")
      // the benchmark's call: bound 0 takes the distributed side unprobed
      assert(counted(Bfs.connectedComponents(e, localEdgeThreshold = 0))
        .probeJobs == 0)
    }
    TestSession.withForcedDistributed(true) {
      val c = counted(Bfs.connectedComponents(e))
      assert(c.probeJobs == 0 && c.probeExecs == 0 && c.jobs > 0)
    }
  }

  test("closenessHarmonic reads edges and sources once each locally; no probe when forced") {
    val (ids, eReads) = countedRange(9)
    val e = ids.select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (sIds, sReads) = countedRange(3)
    val sources = sIds.select(col("id").as("source"))
    TestSession.withForcedDistributed(false) {
      var out: DataFrame = null
      assert(counted { out = Centrality.closenessHarmonic(e, sources, 5) } ==
        Counts(2, 2, 2))
      assert(eReads.value == 9 && sReads.value == 3, "inputs evaluated once")
      assert(out.count() == 3)
    }
    TestSession.withForcedDistributed(true) {
      val c = counted(Centrality.closenessHarmonic(e, sources, 5).collect())
      assert(c.probeJobs == 0 && c.probeExecs == 0 && c.jobs > 0)
    }
  }

  test("Bpe.train runs its word count once locally; no probe when forced") {
    val (ids, reads) = countedRange(4)
    val docs = ids.select(when(col("id") % 2 === 0, "low lower lowest")
      .otherwise("newest widest").as("text"))
    TestSession.withForcedDistributed(false) {
      // the word count's shuffle makes the one evaluation two jobs under
      // AQE (map stage + result); it is still one execution
      val c = counted(Bpe.train(docs, merges = 3))
      assert(c.probeExecs == 1 && c.jobs == c.probeJobs, c.toString)
      assert(reads.value == 4, "corpus evaluated once")
    }
    TestSession.withForcedDistributed(true) {
      val c = counted(Bpe.train(docs, merges = 3).collect())
      assert(c.probeJobs == 0 && c.probeExecs == 0 && c.jobs > 0)
    }
  }
}
