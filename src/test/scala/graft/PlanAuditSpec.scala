package graft

import graft.cypher.Cypher
import graft.graph.TpchGraph
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-quality gates (the 100 TB contract, not just correctness): Cypher-
 * compiled plans must push property predicates into the parquet scans
 * (through the hydration joins), prune unread columns, and broadcast small
 * join sides. Failing these means a plan regression even if results match.
 */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val g = TpchGraph.load(spark, "/root/testdata/sf0.001")

  private def executedPlan(q: String): String = {
    val df = Cypher.run(spark, g, q)
    df.queryExecution.executedPlan.toString
  }

  test("far-node property predicate pushes down to the parquet scan") {
    val plan = executedPlan(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WHERE o.totalprice > 100000
        |RETURN c.name AS name, count(o) AS n""".stripMargin)
    // the o.totalprice filter must reach the orders scan as a pushed filter
    // (raw column name o_totalprice after the hydration projection is seen
    // through), not sit above the join
    assert(plan.contains("GreaterThan(o_totalprice,100000"),
      s"totalprice filter not pushed to scan:\n${plan.take(3000)}")
  }

  test("hydration reads only referenced property columns (column pruning)") {
    val df = Cypher.run(spark, g,
      "MATCH (c:Customer) WHERE c.acctbal > 0 RETURN c.name AS name")
    val plan = df.queryExecution.executedPlan.toString
    // the nodes scan must not read unrelated property columns
    val readSchemas = plan.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(!readSchemas.contains("totalprice") && !readSchemas.contains("psize"),
      s"unreferenced columns read:\n$readSchemas")
  }

  test("small side of an expand joins via broadcast") {
    val plan = executedPlan(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN n.name AS nation, r.name AS region""".stripMargin)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"no broadcast in small-dims join:\n${plan.take(2000)}")
  }

  test("endpoints-only var-length compiles to pruning BFS, not trail enumeration") {
    val plan = executedPlan(
      """MATCH (c:Customer)-[*1..2]->(n:Part)
        |WHERE c.key < 50 RETURN DISTINCT n.key AS pkey""".stripMargin)
    // trail enumeration's per-path uniqueness filter is array_contains over the
    // accumulated rel array; the pruning rewrite must not carry paths at all
    assert(!plan.contains("array_contains"),
      s"var-length expansion still enumerates paths:\n${plan.take(3000)}")
  }

  test("path-enumerating var-length still carries the rel array") {
    // rel variable IS read → pruning must NOT kick in
    val plan = executedPlan(
      """MATCH (c:Customer)-[rs*1..2]->(n:Part)
        |WHERE c.key < 50 RETURN DISTINCT n.key AS pkey, size(rs) AS len""".stripMargin)
    assert(plan.contains("array_contains"), "rel-reading var-length lost its paths")
  }

  test("unnamed var-length rel list carries one array column, no node array") {
    import org.apache.spark.sql.catalyst.expressions.ArrayContains
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    val plan = Cypher.run(spark, g,
      """MATCH (c:Customer)-[rs*1..2]->(n)
        |WHERE c.key < 50 RETURN c.key AS ckey, size(rs) AS len""".stripMargin)
      .queryExecution.optimizedPlan
    // the second hop checks rel uniqueness against the carried array (the
    // first hop's check folds away against the empty start array); no
    // join anywhere carries a second array
    val hops = plan.collect {
      case j: Join if j.condition.exists(_.exists(_.isInstanceOf[ArrayContains])) => j
    }
    assert(hops.nonEmpty, s"no rel-uniqueness hop join:\n$plan")
    def arrays(j: Join) =
      j.left.output.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
    hops.foreach(j => assert(arrays(j).size == 1, s"hop carries ${arrays(j)}"))
    plan.collect { case j: Join => j }.foreach(j =>
      assert(arrays(j).size <= 1, s"join carries ${arrays(j)}, want the rel list only"))
  }

  test("relationship property range predicate pushes down to the rel scan") {
    val plan = executedPlan(
      "MATCH ()-[r:CONTAINS]->() WHERE r.qty >= 45 RETURN count(*) AS n")
    // qty aliases l_quantity in the TpchGraph projection; the range filter
    // must reach the lineitem parquet scan (and null-qty union branches
    // should be pruned away entirely)
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45"),
      s"rel property filter not pushed:\n${plan.take(3000)}")
  }

  test("PROFILE executes and reports per-operator row counts") {
    val rows = Cypher.run(spark, g,
      """PROFILE MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)
        |WHERE c.key < 10 RETURN count(*) AS n""".stripMargin).collect()
    assert(rows.nonEmpty)
    val counted = rows.filter(!_.isNullAt(2))
    assert(counted.nonEmpty && counted.exists(_.getLong(2) > 0),
      "no operator reported a runtime numOutputRows metric")
  }

  test("EXPLAIN returns the columnar operator table") {
    val df = Cypher.run(spark, g,
      "EXPLAIN MATCH (c:Customer) WHERE c.key < 10 RETURN c.name AS n")
    assert(df.columns.toSeq == Seq("operator", "details", "estimatedRows"))
    val ops = df.collect().map(_.getString(0))
    assert(ops.nonEmpty && ops.exists(_.contains("Relation")),
      s"no scan operator in: ${ops.mkString(" | ")}")
  }

  test("EXPLAIN under execute plans without side effects, zero result rows") {
    val (g2, res) = Cypher.execute(spark, g, "EXPLAIN CREATE (a:Marker)")
    assert(g2 eq g) // no write happened
    assert(res.isEmpty)
    val (_, res2) = Cypher.execute(spark, g,
      "EXPLAIN MATCH (c:Customer) RETURN c.name AS n, c.key AS k")
    assert(res2.get.columns.toSeq == Seq("n", "k") && res2.get.count() == 0)
  }

  test("funnel join pushes the event-type filters to both scans") {
    val ev = graft.GraftSession.normalizeTs(TestSession.spark.read
      .parquet("/root/testdata/sf0.001/events.parquet"))
    val plan = graft.streaming.EventStreams.funnelJoin(ev, ev)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type,click)") &&
      plan.contains("EqualTo(event_type,purchase)"),
      s"event_type filters not pushed to the scans:\n${plan.take(3000)}")
  }

  test("unbound-target SHORTEST has no cartesian pair seed") {
    val plan = executedPlan(
      """MATCH p = SHORTEST 2 (c:Customer {key: 1})-[:PLACED]->{1,2}(o:Order)
        |RETURN length(p) AS len, o.key AS okey""".stripMargin)
    assert(!plan.contains("CartesianProduct"),
      s"unbound-target SHORTEST seeds sources × all candidate targets:\n${plan.take(3000)}")
  }

  test("tx-batch row numbering has no single-partition global window/sort") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 10000, 1, 8).select(col("id").as("k"))
    val numbered = graft.cypher.Planner.numberRows(df, "rid")
    val plan = numbered.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"numbering funnels through a global window/sort:\n${plan.take(2000)}")
    // still a correct dense 1..N numbering
    val ids = numbered.select("rid").collect().map(_.getLong(0)).sorted
    assert(ids.head == 1L && ids.last == 10000L && ids.distinct.length == 10000)
  }

  test("node-only tx batches leave the rels table un-rematerialized") {
    // a MERGE that only touches nodes must not checkpoint/rewrite rels: at
    // 100 TB that is a full rewrite of an untouched 90 TB table per commit
    val (g2, _) = Cypher.execute(spark, g,
      """MATCH (c:Customer) WHERE c.key <= 80
        |CALL { WITH c
        |  MERGE (seg:Segment {name: c.mktsegment})
        |} IN TRANSACTIONS OF 20 ROWS""".stripMargin)
    assert(g2.rels eq g.rels,
      "node-only write batches re-materialized the rels table")
    assert(!g2.rels.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "rels plan was checkpointed by a node-only write")
    // nodes WERE rewritten (segments exist)
    assert(Cypher.run(spark, g2, "MATCH (s:Segment) RETURN count(*) AS n")
      .collect()(0).getLong(0) > 0)
  }

  test("decontaminate broadcasts the benchmark side; corpus never shuffles by shingle") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val corpus = (0L until 100L).map(i => (i, s"alpha beta gamma delta $i"))
      .toDF("id", "text")
    val bench = Seq((0L, "alpha beta gamma")).toDF("id", "text")
    val plan = graft.functions.Curation.decontaminate(corpus, bench, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"benchmark shingles not broadcast:\n${plan.take(3000)}")
    // the shingle join key must be the 8-byte hash, not the n-gram string
    assert(plan.contains("xxhash64"), "shingles not hashed before the join")
  }

  test("splitLabel and stratifiedSample are pure map-side (no exchange)") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "lang")
    val split = df.select(graft.functions.Curation.splitLabel(col("id")))
      .queryExecution.executedPlan.toString
    assert(!split.contains("Exchange"), s"splitLabel shuffles:\n$split")
    val sampled = graft.functions.Curation.stratifiedSample(
        df, "id", "lang", Map("en" -> 0.5), 0.25)
      .queryExecution.executedPlan.toString
    assert(!sampled.contains("Exchange"), s"stratifiedSample shuffles:\n$sampled")
  }

  test("chunkDocuments is pure map-side (no exchange, no UDF)") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 50L).map(i => (i, "some words " * 40)).toDF("id", "text")
    val plan = graft.functions.Curation.chunkDocuments(df, 64, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunkDocuments shuffles:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"chunkDocuments uses a UDF:\n$plan")
  }

  test("BPE pair counting partial-aggregates before its one shuffle") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq("low lower newest widest").toDF("text")
    val plan = graft.functions.Bpe.pairStats(df, 10)
      .queryExecution.executedPlan.toString
    // two aggregates (word count, pair count), each with a map-side
    // partial before its exchange
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"pairStats uses a UDF:\n$plan")
  }

  test("gopherRules and charEntropy are pure map-side (no exchange, no UDF)") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 50L).map(i => (i, s"the a sample doc number $i with words"))
      .toDF("id", "text")
    val gr = graft.functions.Curation.gopherRules(df)
      .queryExecution.executedPlan.toString
    assert(!gr.contains("Exchange"), s"gopherRules shuffles:\n$gr")
    assert(!gr.contains("BatchEvalPython") && !gr.contains("SQLUDF"),
      "gopherRules must stay UDF-free")
    val ce = df.select(graft.functions.TextFunctions.charEntropy(col("text")))
      .queryExecution.executedPlan.toString
    assert(!ce.contains("Exchange"), s"charEntropy shuffles:\n$ce")
  }

  test("streaming near-dup sketches never shuffle the signature array") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 50L).map(i => (i, s"words for bucket hashing $i"))
      .toDF("id", "text")
    // the banded (id, band, bucket) relation is what reaches the state
    // store exchange — 3 fixed-width columns, no sig/shingle payload
    val banded = graft.streaming.NearDupStream.bandedSketches(df)
    assert(banded.columns.toSeq == Seq("id", "band", "bucket"))
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"banded sketches must be map-side (state op adds its own keyed exchange):\n$plan")
  }

  test("shard/bucket ranking uses range partitioning, never a global single-partition sort") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 1000L).toDF("id")
    // the range repartition sits behind the checkpoint boundary, so the
    // final plan's guarantee is: the rank window partitions by __pid
    // (per-partition, parallel) and nothing funnels into one partition
    val plan = graft.functions.Curation.shuffleShards(df, "id", 8, "e0")
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"),
      s"shuffleShards rank window is not per-partition:\n${plan.take(2000)}")
    assert(!plan.contains("SinglePartition"),
      s"shuffleShards funnels through one partition:\n${plan.take(2000)}")
    val qb = graft.functions.Curation.qualityBuckets(
        df.withColumn("score", col("id") % 7), "id", "score", 4)
      .queryExecution.executedPlan.toString
    assert(qb.contains("windowspecdefinition(__pid"),
      s"qualityBuckets rank window is not per-partition:\n${qb.take(2000)}")
    assert(!qb.contains("SinglePartition"),
      s"qualityBuckets funnels through one partition:\n${qb.take(2000)}")
  }

  test("kmeans assignment ships centroids as broadcast data, not plan literals") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val vecs = (0L until 200L)
      .map(i => (i, Array.fill(8)((i % 5).toFloat))).toDF("id", "vec")
    val assigned = graft.functions.Similarity.kmeansAssign(vecs, 3, 2)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroids not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"kmeans assignment shuffles the corpus:\n${plan.take(2000)}")
  }

  test("node similarity joins pairs on ids; no cartesian product") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val e = (0L until 300L).map(i => (i % 30, i % 50)).toDF("src", "dst")
    val plan = graft.ops.Centrality.nodeSimilarity(e, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"node similarity went cartesian:\n${plan.take(2000)}")
  }

  test("exactSubstrSpans hashes grams and stays off cartesian joins") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val docs = (0L until 50L).map(i => (i, ("x" * 30) + s"unique $i tail " + ("y" * 30)))
      .toDF("id", "text")
    val plan = graft.functions.Dedup.exactSubstrSpans(docs, 40)
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), "grams not reduced to hashes before the shuffle")
    assert(!plan.contains("CartesianProduct"),
      s"substring dedup went cartesian:\n${plan.take(2000)}")
    // exactly one gram-keyed exchange + one doc-keyed exchange feed the two
    // windows — the gram count must NOT aggregate-then-rejoin (twice the
    // explode, twice the shuffle)
    val exchanges = plan.split("\n").count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"extra shuffles in span pipeline ($exchanges):\n${plan.take(3000)}")
  }

  test("semanticDedup's pair stage joins on cluster id with single-dot pairs") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val vecs = (0L until 120L)
      .map(i => (i, Array.tabulate(8)(j => ((i % 4) + j).toFloat))).toDF("id", "vec")
    val plan = graft.functions.Similarity.semanticDedup(vecs, 2, 2, 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"semantic dedup went corpus-cartesian:\n${plan.take(2000)}")
  }

  // The iterative ops checkpoint each round, so the *interesting* joins
  // live inside materialization jobs the final plan string can't show.
  // These gates audit what remains visible post-execution: the final
  // adaptive plan must broadcast its small sides (AQE conversion) and the
  // per-community / per-node aggregates must keep map-side combine.
  test("modularity keeps partial aggregation and AQE-broadcasts the tail join") {
    import spark.implicits._
    val edges = (0L until 2000L).map(i => (i, (i + 1) % 2000)).toDF("src", "dst")
    val assign = (0L until 2000L).map(i => (i, i / 500)).toDF("node", "community")
    val df = graft.ops.Ranking.modularity(edges, assign)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"modularity aggregate lost map-side combine:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"deg/intra join should AQE-broadcast its 4-row side:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), "modularity built a cartesian")
  }

  test("hits final join AQE-broadcasts; rounds never build a cartesian") {
    import spark.implicits._
    val edges = (0L until 3000L).map(i => (i, i % 50 + 10000L)).toDF("src", "dst")
    val df = graft.ops.Centrality.hits(edges, iterations = 1)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hub/authority join should AQE-broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), "hits built a cartesian")
  }

  test("neighborSample windows stay per-(seed,node); no cartesian, no global sort") {
    import spark.implicits._
    val edges = (0L until 5000L).map(i => (i % 100, i)).toDF("src", "dst")
    val seeds = (0L until 100L).toDF("seed")
    val df = graft.ops.Walks.neighborSample(edges, seeds, Seq(3))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "sampler built a cartesian")
    assert(!plan.contains("Exchange SinglePartition"),
      s"sampler collapsed to one partition:\n${plan.take(1500)}")
  }

  test("negativeSamples broadcasts the partition bases; probes never cross-join") {
    import spark.implicits._
    val pairs = (1L to 5000L).map(q => (q, q % 50 + 100L)).toDF("q", "p")
    val pool = (100L to 1099L).toDF("cid")
    val df = graft.functions.Curation.negativeSamples(pairs, "q", "p",
      pool, "cid", k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "sampler built a cartesian")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"partition bases should broadcast:\n${plan.take(1500)}")
  }

  test("whole-stage codegen covers the expression pipeline") {
    val df = Cypher.run(spark, g,
      """MATCH (c:Customer) WHERE c.name ENDS WITH '1'
        |RETURN toUpper(c.name) AS u, c.acctbal * 2 AS b""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark whole-stage-codegen stages in the simple form
    assert(plan.contains("*("), "expression pipeline fell out of codegen")
    // the string predicate itself must also push down
    assert(plan.contains("StringEndsWith(c_name,1)"), "ENDS WITH not pushed")
  }
}
