package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.cypher.Cypher
import graft.graph.PropertyGraph
import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{PlainSession, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Per-template work happens once: the count store once per graph snapshot
 * (`PropertyGraph.stats`), and generated code once per template, whatever
 * its parameter values (`ReferencedLiteral`).
 */
class TemplateReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** Customers 1..4, each PLACED two orders, saved as parquet once: file
    * sizes give the planner fixed join estimates, so every parameter value
    * gets the same physical plan. */
  private lazy val shopDir: String = {
    val nodes = (1L to 4L).map(c => Row(c, Seq("Customer"), c, null)) ++
      (1L to 8L).map(o => Row(100L + o, Seq("Order"), null, 10.0 * o))
    val rels = (1L to 8L).map(o => Row(200L + o, (o + 1) / 2, 100L + o, "PLACED"))
    val dir = java.nio.file.Files.createTempDirectory("graft_template_reuse").toString
    PropertyGraph.save(PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(nodes, 2), StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("labels", ArrayType(StringType), nullable = false),
        StructField("key", LongType, nullable = true),
        StructField("totalprice", DoubleType, nullable = true)))),
      spark.createDataFrame(spark.sparkContext.parallelize(rels, 2), StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("src", LongType, nullable = false),
        StructField("dst", LongType, nullable = false),
        StructField("type", StringType, nullable = false))))), dir)
    dir
  }

  /** A new snapshot of the saved graph. */
  private def shop(): PropertyGraph = PropertyGraph.load(spark, shopDir)

  // both ends labelled and unbound: the planner reads the count store to
  // choose the side to start from
  private val ordersOf =
    "MATCH (c:Customer {key: $k})-[:PLACED]->(o:Order) WHERE o.totalprice > $p " +
      "RETURN count(o) AS orders, sum(o.totalprice) AS total"

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(l)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def plan(g: PropertyGraph, k: Long, p: Double) =
    Cypher.run(spark, g, ordersOf, Map("k" -> k, "p" -> p))

  test("the count store is computed once per snapshot") {
    val g = shop()
    val first = jobsDuring(plan(g, 1L, 0.0))
    assert(first > 0, "the first plan reads the count store")
    val again = jobsDuring(plan(g, 2L, 5.0))
    assert(again == 0, s"re-planning on the same snapshot launched $again jobs")
  }

  test("a write's snapshot reports its own label counts") {
    val g = shop()
    assert(g.stats.nodeCount("Customer") == 4L)
    val (g2, _) = Cypher.execute(spark, g, "CREATE (:Customer {key: 5})")
    assert(g2.stats.nodeCount("Customer") == 5L)
    assert(g.stats.nodeCount("Customer") == 4L)
  }

  test("a second parameter value compiles no new classes and keeps the rows") {
    val g = shop()
    val (d1, d2) = (plan(g, 1L, 5.0), plan(g, 2L, 35.0))
    val first = d1.collect().toSeq
    val c0 = compiles
    val second = d2.collect().toSeq
    assert(compiles == c0, s"${compiles - c0} classes compiled for a new parameter value")
    assert(first == Seq(Row(2L, 30.0)) && second == Seq(Row(1L, 40.0)))

    // the same plans without graft's rules inline the values, so each
    // value compiles its own classes — and they return the same rows
    assert(PlainSession.rerun(d1).collect().toSeq == first)
    val p0 = compiles
    assert(PlainSession.rerun(d2).collect().toSeq == second)
    assert(compiles > p0, "without the rule a new value compiles new classes")
  }
}
