package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.cypher.{Cypher, Planner}
import graft.graph.PropertyGraph
import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DatasetIds, PlainSession, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Per-template work happens once: the count store once per graph snapshot
 * (`PropertyGraph.stats`), the plan once per (query, parameter types,
 * snapshot) (`Cypher`'s plan cache with `ParamSlot`s), and generated code
 * once per template, whatever its parameter values (`ReferencedLiteral`).
 * The cache keeps no executed state.
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

  /** The rows of `q` planned afresh, outside the cache. */
  private def fresh(g: PropertyGraph, q: String, params: Map[String, Any]) =
    Planner.plan(spark, g, Cypher.parse(q), params).collect().toSeq

  test("a second value of a shared template plans with no job and its own rows") {
    val g = shop()
    plan(g, 1L, 5.0).collect()
    val hits0 = Cypher.planCacheHits
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { df = plan(g, 3L, 45.0) }
    assert(jobs == 0, s"planning a second value launched $jobs jobs")
    assert(Cypher.planCacheHits == hits0 + 1, "the second value hits the template")
    val rows = df.collect().toSeq
    assert(rows == Seq(Row(2L, 110.0)))
    assert(rows == fresh(g, ordersOf, Map("k" -> 3L, "p" -> 45.0)))
  }

  test("value-dependent templates keep a plan per value and stay correct") {
    val g = shop()
    val queries = Seq[(String, String, Any, Any)](
      ("MATCH (o:Order) RETURN o.totalprice AS t ORDER BY t LIMIT $n", "n", 2L, 5L),
      ("MATCH (c:Customer) RETURN c[$key] AS v ORDER BY v", "key", "key", "totalprice"),
      ("MATCH (c:Customer) WHERE c.key = $k " +
        "MATCH p = shortestPath((c)-[:PLACED*..2]->(o:Order)) " +
        "RETURN o.totalprice AS t ORDER BY t", "k", 1L, 4L))
    for ((q, name, a, b) <- queries) {
      def req(v: Any) = Cypher.run(spark, g, q, Map(name -> v))
      val first = req(a).collect().toSeq
      val h0 = Cypher.planCacheHits
      val second = req(b).collect().toSeq
      assert(Cypher.planCacheHits == h0, s"a new value of `$q` reused a plan")
      assert(req(a).collect().toSeq == first)
      assert(Cypher.planCacheHits == h0 + 1, s"a repeated value of `$q` re-planned")
      assert(first == fresh(g, q, Map(name -> a)) && second == fresh(g, q, Map(name -> b)))
      assert(first != second, s"`$q` returned the same rows for both values")
    }
  }

  test("a shortestPath template's first request plans once, with its values") {
    val g = shop()
    val q = "MATCH (c:Customer) WHERE c.key = $k " +
      "MATCH p = shortestPath((c)-[:PLACED*..2]->(o:Order)) RETURN o.totalprice AS t"
    def valued() = Planner.plan(spark, g, Cypher.parse(q), Map("k" -> 2L))
    valued() // the snapshot's count store and topology, once per snapshot
    val fresh = jobsDuring(valued())
    assert(fresh > 0, "the shortest-path search runs while the query plans")
    val fallbacks = Planner.templateFallbacks
    val first = jobsDuring(Cypher.run(spark, g, q, Map("k" -> 2L)))
    assert(Planner.templateFallbacks == fallbacks,
      "the first request planned a template that its search could not hold")
    assert(first == fresh, s"the first request launched $first jobs, a valued plan $fresh")
  }

  test("a write's new snapshot misses the plan cache") {
    val g = shop()
    val q = "MATCH (c:Customer) WHERE c.key > $k RETURN count(c) AS n"
    assert(Cypher.run(spark, g, q, Map("k" -> 0L)).collect().toSeq == Seq(Row(4L)))
    val (g2, _) = Cypher.execute(spark, g, "CREATE (:Customer {key: 5})")
    val h0 = Cypher.planCacheHits
    assert(Cypher.run(spark, g2, q, Map("k" -> 0L)).collect().toSeq == Seq(Row(5L)))
    assert(Cypher.planCacheHits == h0, "the new snapshot reused the old snapshot's plan")
    assert(Cypher.run(spark, g, q, Map("k" -> 0L)).collect().toSeq == Seq(Row(4L)))
  }

  test("two live snapshots queried in turn keep one plan each") {
    val a = shop()
    val (b, _) = Cypher.execute(spark, a, "CREATE (:Customer {key: 5})")
    val q = "MATCH (c:Customer) WHERE c.key >= $k RETURN count(c) AS n"
    def hits(g: PropertyGraph, n: Long): Boolean = {
      val h0 = Cypher.planCacheHits
      assert(Cypher.run(spark, g, q, Map("k" -> 1L)).collect().toSeq == Seq(Row(n)))
      Cypher.planCacheHits == h0 + 1
    }
    assert(!hits(a, 4L) && !hits(b, 5L), "a snapshot's first request hit")
    assert(hits(a, 4L), "the third request (snapshot A) re-planned")
    assert(hits(b, 5L), "the fourth request (snapshot B) re-planned")
  }

  test("the executed plan goes with the client's DataFrame") {
    val g = shop()
    def executed(k: Long) = {
      val df = plan(g, k, 0.0)
      df.collect()
      new java.lang.ref.WeakReference(df.queryExecution.executedPlan)
    }
    executed(1L)
    val ref = executed(2L) // a cache hit
    var tries = 0
    while (ref.get != null && tries < 20) { System.gc(); Thread.sleep(100); tries += 1 }
    assert(ref.get == null, "the plan cache keeps a request's executed plan alive")

    // nor does a cached plan collect the id of every Dataset built on it
    val q = "MATCH (c:Customer) RETURN count(c) AS n"
    val roots = (1 to 3).map(_ => Cypher.run(spark, g, q).queryExecution.analyzed.children.head)
    assert(roots.map(DatasetIds.on).max <= 1, "each request left its id on the cached plan")
  }
}
