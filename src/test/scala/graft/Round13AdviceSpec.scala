package graft

import graft.cypher.Cypher
import graft.functions.expressions.CypherCompare
import graft.graph.PropertyGraph
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 advice regressions: DIFFERENT RELATIONSHIPS keeps DEFAULT
  * semantics (relationship uniqueness only — reference MatchMode
  * .DifferentRelationships is the implicit mode), DIFFERENT NODES covers
  * anonymous and pre-bound node bindings, per-row dynamic property access
  * returns typed values (not strings), encoded integers above 2^53
  * compare exactly via repr, and the distributed SHORTEST branch fires
  * the horizon warning like the local fast path. */
class Round13AdviceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def mkGraph(nodes: Seq[Row], rels: Seq[Row]): PropertyGraph = {
    val nodeSchema = StructType(Seq(
      StructField("id", LongType), StructField("labels", ArrayType(StringType))))
    val relSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("type", StringType)))
    PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(nodes, 2), nodeSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(rels, 2), relSchema))
  }

  // 2-cycle: 1 -> 2 -> 1 (distinct relationships, coinciding endpoints)
  private def cycleGraph(): PropertyGraph = mkGraph(
    Seq(Row(1L, Seq("N")), Row(2L, Seq("N"))),
    Seq(Row(10L, 1L, 2L, "T"), Row(11L, 2L, 1L, "T")))

  test("DIFFERENT RELATIONSHIPS keeps default semantics: coinciding node bindings survive") {
    val (_, res) = Cypher.execute(spark, cycleGraph(),
      "MATCH DIFFERENT RELATIONSHIPS (a)-->(b)-->(c) RETURN a, c")
    val rows = res.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a=1,b=2,c=1 and a=2,b=1,c=2 both valid: two different rels, nodes repeat
    assert(rows == Set((1L, 1L), (2L, 2L)))
  }

  test("DIFFERENT NODES rejects coinciding NAMED node bindings") {
    val (_, res) = Cypher.execute(spark, cycleGraph(),
      "MATCH DIFFERENT NODES (a)-->(b)-->(c) RETURN a, c")
    assert(res.get.count() == 0L)
  }

  test("DIFFERENT NODES rejects coinciding ANONYMOUS node bindings") {
    val (_, res) = Cypher.execute(spark, cycleGraph(),
      "MATCH DIFFERENT NODES ()-->(b)-->() RETURN b")
    assert(res.get.count() == 0L)
  }

  test("DIFFERENT NODES covers a PRE-BOUND node variable re-used in the clause") {
    // self-loop 3 -> 3 plus the 2-cycle: (a)-->(b) with a pre-bound
    val g = mkGraph(
      Seq(Row(1L, Seq("N")), Row(2L, Seq("N")), Row(3L, Seq("N"))),
      Seq(Row(10L, 1L, 2L, "T"), Row(12L, 3L, 3L, "T")))
    val (_, res) = Cypher.execute(spark, g,
      "MATCH (a) WITH a MATCH DIFFERENT NODES (a)-[r]->(b) RETURN a, b")
    val rows = res.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 2L))) // the 3->3 self-loop binding is dropped
  }

  test("default MATCH still returns the self-loop the DIFFERENT NODES mode drops") {
    val g = mkGraph(
      Seq(Row(3L, Seq("N"))),
      Seq(Row(12L, 3L, 3L, "T")))
    val (_, res) = Cypher.execute(spark, g, "MATCH (a)-[r]->(b) RETURN a, b")
    assert(res.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((3L, 3L)))
  }

  // ---- typed per-row dynamic property access ----------------------------

  private def propGraph(): PropertyGraph = {
    val nodeSchema = StructType(Seq(
      StructField("id", LongType), StructField("labels", ArrayType(StringType)),
      StructField("num", LongType), StructField("name", StringType)))
    val relSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("type", StringType)))
    PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, Seq("N"), 5L, "x"), Row(2L, Seq("N"), 7L, "y")), 2), nodeSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], relSchema))
  }

  test("per-row dynamic property key returns a TYPED numeric, usable in arithmetic") {
    val (_, res) = Cypher.execute(spark, propGraph(),
      "MATCH (n) UNWIND ['num'] AS k RETURN n[k] + 1 AS x ORDER BY x")
    val got = res.get.collect().map(r => r.getAs[Any]("x"))
    // results decode as INTEGERs 6 and 8 (not strings '51'/'71')
    val decoded = got.map {
      case row: Row => // variant-encoded: repr carries the exact integer
        assert(row.getAs[String]("repr").matches("-?[0-9]+"),
          s"expected integer repr, got $row")
        row.getAs[String]("repr").toLong
      case l: Long => l
      case other => fail(s"unexpected value: $other")
    }
    assert(decoded.toSeq == Seq(6L, 8L))
  }

  test("per-row dynamic property key comparison dispatches on the real type") {
    val (_, res) = Cypher.execute(spark, propGraph(),
      "MATCH (n) UNWIND ['num'] AS k WITH n, k WHERE n[k] > 5 RETURN n['num'] AS v")
    assert(res.get.collect().map(_.getAs[Long]("v")).toSeq == Seq(7L))
  }

  test("per-row dynamic key over mixed-typed properties keeps string vs number apart") {
    val (_, res) = Cypher.execute(spark, propGraph(),
      "MATCH (n) WHERE n.num = 5 UNWIND ['num', 'name'] AS k " +
        "RETURN k, valueType(n[k]) AS t ORDER BY k")
    val rows = res.get.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[String]("t"))).toSeq
    assert(rows == Seq("name" -> "STRING NOT NULL", "num" -> "INTEGER NOT NULL"))
  }

  // ---- exact encoded-integer comparison past 2^53 ------------------------

  test("variant-encoded INTEGER above 2^53 decodes exactly from repr") {
    val l = 9007199254740993L // 2^53 + 1: rounds to 2^53 as a double
    val o = graft.functions.Orderability
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(o.numberAt(0, lit(l)).as("exact"))
    val enc = df.schema("exact").dataType
    val r = df.collect()(0)
    // the exact encoding carries the digits in repr
    assert(r.getAs[Row]("exact").getAs[String]("repr") == l.toString)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(enc)
    val internal = conv(r.getAs[Row]("exact"))
    // eq3/cmp vs the neighboring long (= l as a rounded double) is exact
    val twoTo53 = 9007199254740992L
    assert(CypherCompare.eq3(internal, enc, twoTo53, LongType) ==
      java.lang.Boolean.FALSE)
    assert(CypherCompare.eq3(internal, enc, l, LongType) ==
      java.lang.Boolean.TRUE)
    assert(CypherCompare.cmp(internal, enc, twoTo53, LongType) ==
      CypherCompare.Ord(1))
  }

  // ---- distributed SHORTEST horizon warning ------------------------------

  test("distributed shortestGroups branch fires onHorizon at an alive cap") {
    import org.apache.spark.sql.functions._
    // chain 0 -> 1 -> ... -> 40, cap at 3: frontier alive at the cap
    val edges = spark.range(40).select(
      col("id").as("id"), col("id").as("src"), (col("id") + 1).as("dst"))
    val sources = spark.range(1).select(lit(0L).as("source"))
    val fired = new java.util.concurrent.atomic.AtomicReference[(String, Int)]
    val prev = graft.ops.Trail.onHorizon
    graft.ops.Trail.onHorizon = (w, c) => fired.set((w, c))
    try TestSession.bothPlacements { forced =>
      fired.set(null)
      graft.ops.Trail.shortestGroupsTo(edges, sources, None,
        k = 1, min = 0, maxDepth = 3, capIsHorizon = true).collect()
      assert(fired.get() == ("SHORTEST", 3), s"forced=$forced")
    } finally graft.ops.Trail.onHorizon = prev
  }
}
