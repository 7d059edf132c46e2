package graft

import graft.cypher.Cypher
import graft.graph.PropertyGraph
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Cypher write-clause semantics (CREATE/MERGE/SET/REMOVE/DELETE) against
  * the reference's pipe behaviors: MergePipe match-or-create, DELETE fails
  * on attached nodes, DETACH cascades, SET visible to later MATCH. */
class CypherWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def freshGraph: PropertyGraph = {
    val nodeSchema = StructType(Seq(
      StructField("id", LongType), StructField("labels", ArrayType(StringType)),
      StructField("name", StringType), StructField("age", LongType)))
    val relSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("type", StringType),
      StructField("since", LongType)))
    PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, Seq("Person"), "Alice", 30L),
        Row(2L, Seq("Person"), "Bob", 25L),
        Row(3L, Seq("Person"), "Carol", 35L)), 2), nodeSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(10L, 1L, 2L, "KNOWS", 2015L)), 2), relSchema))
  }

  test("CREATE one node per matched row, visible to a later MATCH") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "MATCH (p:Person) WHERE p.age >= 30 CREATE (s:Senior {name: p.name})")
    val names = Cypher.run(spark, g2, "MATCH (s:Senior) RETURN s.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(names.toSeq == Seq("Alice", "Carol"))
    // originals untouched
    assert(g2.nodes.filter(array_contains(col("labels"), "Person")).count() == 3)
  }

  test("CREATE relationship between bound endpoints") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MATCH (a:Person {name: 'Bob'}), (b:Person {name: 'Carol'})
        |CREATE (a)-[:KNOWS {since: 2024}]->(b)""".stripMargin)
    val r = Cypher.run(spark, g2,
      "MATCH (:Person {name: 'Bob'})-[k:KNOWS]->(c) RETURN c.name AS n, k.since AS s")
      .collect()(0)
    assert(r.getString(0) == "Carol" && r.getLong(1) == 2024L)
  }

  test("MERGE matches existing node, creates missing, runs ON CREATE/ON MATCH") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MERGE (p:Person {name: 'Alice'}) ON MATCH SET p.age = 31
        |ON CREATE SET p.age = 1""".stripMargin)
    assert(g2.nodes.filter(col("name") === "Alice").count() == 1)
    assert(g2.nodes.filter(col("name") === "Alice").select("age")
      .collect()(0).getLong(0) == 31L)
    val (g3, _) = Cypher.execute(spark, g2,
      "MERGE (p:Person {name: 'Zed'}) ON CREATE SET p.age = 1")
    val zed = g3.nodes.filter(col("name") === "Zed").collect()
    assert(zed.length == 1 && zed(0).getAs[Long]("age") == 1L)
  }

  test("MERGE ON MATCH SET reads the matched node's existing property") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MERGE (p:Person {name: $n}) ON MATCH SET p.age = p.age + $x
        |ON CREATE SET p.age = $x""".stripMargin,
      Map("n" -> "Alice", "x" -> 5L))
    assert(g2.nodes.filter(col("name") === "Alice").select("age")
      .collect().map(_.get(0)).toSeq == Seq(35L))
    val (g3, _) = Cypher.execute(spark, g2,
      """MERGE (p:Person {name: $n}) ON MATCH SET p.age = p.age + $x
        |ON CREATE SET p.age = $x""".stripMargin,
      Map("n" -> "Dora", "x" -> 5L))
    assert(g3.nodes.filter(col("name") === "Dora").select("age")
      .collect().map(_.get(0)).toSeq == Seq(5L))
  }

  test("MERGE is idempotent per key over UNWIND input") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "UNWIND ['X', 'X', 'Y'] AS nm MERGE (p:Person {name: nm})")
    assert(g2.nodes.filter(col("name").isin("X", "Y")).count() == 2)
  }

  test("relationship MERGE matches existing edge or inserts once") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'})
        |MERGE (a)-[:KNOWS]->(b)""".stripMargin)
    assert(g2.rels.filter(col("type") === "KNOWS").count() == 1) // matched, not duplicated
    val (g3, _) = Cypher.execute(spark, g2,
      """MATCH (a:Person {name: 'Carol'}), (b:Person {name: 'Bob'})
        |MERGE (a)-[:KNOWS]->(b)""".stripMargin)
    assert(g3.rels.filter(col("type") === "KNOWS").count() == 2) // inserted
  }

  test("SET per-row expression values and labels; REMOVE nulls a property") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "MATCH (p:Person) SET p.age = p.age + 100, p:Adult")
    val ages = g2.nodes.select("name", "age").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ages == Map("Alice" -> 130L, "Bob" -> 125L, "Carol" -> 135L))
    assert(g2.nodes.filter(array_contains(col("labels"), "Adult")).count() == 3)
    val (g3, _) = Cypher.execute(spark, g2,
      "MATCH (p:Person {name: 'Bob'}) REMOVE p.age, p:Adult")
    val bob = g3.nodes.filter(col("name") === "Bob").collect()(0)
    assert(bob.isNullAt(bob.fieldIndex("age")))
    assert(g3.nodes.filter(array_contains(col("labels"), "Adult")).count() == 2)
  }

  test("DELETE refuses attached nodes; DETACH DELETE cascades") {
    intercept[IllegalArgumentException] {
      Cypher.execute(spark, freshGraph,
        "MATCH (p:Person {name: 'Alice'}) DELETE p")._1.nodes.count()
    }
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "MATCH (p:Person {name: 'Alice'}) DETACH DELETE p")
    assert(g2.nodes.count() == 2 && g2.rels.count() == 0)
    // unattached node deletes fine without DETACH
    val (g3, _) = Cypher.execute(spark, freshGraph,
      "MATCH (p:Person {name: 'Carol'}) DELETE p")
    assert(g3.nodes.count() == 2)
  }

  test("DELETE a relationship variable keeps its endpoints") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "MATCH (:Person {name: 'Alice'})-[k:KNOWS]->() DELETE k")
    assert(g2.rels.count() == 0 && g2.nodes.count() == 3)
  }

  test("write then read in one query: updated graph flows to later MATCH") {
    val (_, ret) = Cypher.execute(spark, freshGraph,
      """MATCH (p:Person) WHERE p.age < 30 SET p:Young
        |MATCH (y:Young) RETURN count(*) AS n""".stripMargin)
    assert(ret.get.collect()(0).getLong(0) == 1L)
  }

  test("INSERT is the GQL spelling of CREATE, incl. &-conjoined labels") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "INSERT (s:Senior&Retired {name: 'Dora'})")
    val row = Cypher.run(spark, g2,
      "MATCH (s:Senior:Retired) RETURN s.name AS n").collect()
    assert(row.map(_.getString(0)).toSeq == Seq("Dora"))
  }

  test("FINISH terminates with no result; writes still commit") {
    val (g2, ret) = Cypher.execute(spark, freshGraph,
      "MATCH (p:Person) WHERE p.age >= 30 CREATE (s:Senior {name: p.name}) FINISH")
    assert(ret.isEmpty, "FINISH must produce no result rows")
    assert(Cypher.run(spark, g2, "MATCH (s:Senior) RETURN count(*) AS c")
      .collect()(0).getLong(0) == 2L)
    // read-only FINISH: zero rows, no error about a missing RETURN
    assert(Cypher.run(spark, freshGraph, "MATCH (p:Person) FINISH")
      .collect().isEmpty)
  }

  test("NODETACH DELETE is the explicit default: refuses attached nodes") {
    val ex = intercept[Exception] {
      val (g2, _) = Cypher.execute(spark, freshGraph,
        "MATCH (p:Person {name: 'Alice'}) NODETACH DELETE p")
      g2.nodes.count()
    }
    assert(ex.getMessage.contains("incident relationships"),
      s"unexpected: ${ex.getMessage}")
  }

  test("FOREACH applies scoped updates per list element") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "FOREACH (nm IN ['P1', 'P2'] | CREATE (:Tag {name: nm}))")
    val tags = g2.nodes.filter(array_contains(col("labels"), "Tag"))
      .select("name").collect().map(_.getString(0)).sorted
    assert(tags.toSeq == Seq("P1", "P2"))
    // FOREACH over a matched collection, setting per-element
    val (g3, _) = Cypher.execute(spark, freshGraph,
      """MATCH (p:Person)
        |WITH collect(p) AS ps
        |FOREACH (x IN ps | SET x:Visited)""".stripMargin)
    assert(g3.nodes.filter(array_contains(col("labels"), "Visited")).count() == 3)
  }

  test("write-CALL{} without IN TRANSACTIONS runs as one implicit transaction") {
    var commits = 0
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MATCH (p:Person)
        |CALL { WITH p CREATE (:Log {who: p.name}) }""".stripMargin,
      txCommit = { g => commits += 1
        graft.graph.PropertyGraph(g.nodes.localCheckpoint(), g.rels.localCheckpoint()) })
    assert(commits == 1, s"expected a single implicit transaction, got $commits")
    assert(g2.nodes.filter(array_contains(col("labels"), "Log")).count() == 3)
  }

  test("CALL {} IN TRANSACTIONS batches writes with a commit per chunk") {
    var commits = 0
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MATCH (p:Person)
        |CALL { WITH p
        |  CREATE (:Log {who: p.name})
        |} IN TRANSACTIONS OF 1 ROWS""".stripMargin,
      txCommit = { g => commits += 1
        graft.graph.PropertyGraph(g.nodes.localCheckpoint(), g.rels.localCheckpoint()) })
    assert(commits == 3, s"expected one commit per single-row batch, got $commits")
    val logs = g2.nodes.filter(array_contains(col("labels"), "Log"))
      .select("who").collect().map(_.getString(0)).sorted
    assert(logs.toSeq == Seq("Alice", "Bob", "Carol"))
  }

  test("IN CONCURRENT TRANSACTIONS commits once; batches share the start snapshot") {
    var commits = 0
    val (g2, rows) = Cypher.execute(spark, freshGraph,
      """MATCH (p:Person)
        |CALL { WITH p
        |  CREATE (l:Log {who: p.name})
        |  RETURN l.who AS who
        |} IN 2 CONCURRENT TRANSACTIONS OF 1 ROWS
        |RETURN who ORDER BY who""".stripMargin,
      txCommit = { g => commits += 1
        graft.graph.PropertyGraph(g.nodes.localCheckpoint(), g.rels.localCheckpoint()) })
    assert(commits == 1, s"concurrent batches must merge into one commit, got $commits")
    assert(rows.get.collect().map(_.getString(0)).toSeq ==
      Seq("Alice", "Bob", "Carol"))
    assert(g2.nodes.filter(array_contains(col("labels"), "Log")).count() == 3)
  }

  test("a concurrency number without CONCURRENT is rejected") {
    val e = intercept[IllegalArgumentException] {
      Cypher.execute(spark, freshGraph,
        "MATCH (p:Person) CALL { WITH p CREATE (:X) } IN 4 TRANSACTIONS")
    }
    assert(e.getMessage.contains("CONCURRENT"))
  }

  test("IN TRANSACTIONS ON ERROR CONTINUE rolls back the failed batch and reports status") {
    // batch with x=0 fails (ANSI divide-by-zero inside the CREATE); its
    // writes roll back, other batches commit, status reports per row
    val (g2, rows) = Cypher.execute(spark, freshGraph,
      """UNWIND [1, 0, 2] AS x
        |CALL { WITH x
        |  CREATE (:Calc {v: 10 / x})
        |} IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE REPORT STATUS AS s
        |RETURN x, s.started AS started, s.committed AS committed
        |ORDER BY x""".stripMargin)
    val got = rows.get.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((0L, true, false), (1L, true, true), (2L, true, true)))
    val vs = g2.nodes.filter(array_contains(col("labels"), "Calc"))
      .select("v").collect().map(_.getLong(0)).sorted
    assert(vs.toSeq == Seq(5L, 10L)) // x=0's write rolled back
  }

  test("IN TRANSACTIONS ON ERROR BREAK stops starting later batches") {
    val (g2, rows) = Cypher.execute(spark, freshGraph,
      """UNWIND [1, 0, 2] AS x
        |CALL { WITH x
        |  CREATE (:Calc {v: 10 / x})
        |} IN TRANSACTIONS OF 1 ROWS ON ERROR BREAK REPORT STATUS AS s
        |RETURN x, s.started AS started, s.committed AS committed
        |ORDER BY x""".stripMargin)
    val got = rows.get.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((0L, true, false), (1L, true, true), (2L, false, false)))
    val vs = g2.nodes.filter(array_contains(col("labels"), "Calc"))
      .select("v").collect().map(_.getLong(0))
    assert(vs.toSeq == Seq(10L)) // only the first batch committed
  }

  test("IN TRANSACTIONS default ON ERROR FAIL propagates the batch error") {
    intercept[Exception] {
      Cypher.execute(spark, freshGraph,
        """UNWIND [1, 0] AS x
          |CALL { WITH x CREATE (:Calc {v: 10 / x}) }
          |IN TRANSACTIONS OF 1 ROWS""".stripMargin)
    }
  }

  test("IN TRANSACTIONS MERGE sees earlier batches' commits (no duplicates)") {
    var commits = 0
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MATCH (p:Person)
        |CALL { WITH p
        |  MERGE (c:CityTag {name: 'X'})
        |} IN TRANSACTIONS OF 2 ROWS""".stripMargin,
      txCommit = { g => commits += 1
        graft.graph.PropertyGraph(g.nodes.localCheckpoint(), g.rels.localCheckpoint()) })
    assert(commits == 2) // 3 persons / 2-row batches
    assert(g2.nodes.filter(array_contains(col("labels"), "CityTag")).count() == 1)
  }

  test("SET r += map merges relationship properties; null entry removes") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MATCH (:Person {name: 'Alice'})-[r:KNOWS]->()
        |SET r += {weight: 5, since: null}""".stripMargin)
    val r = Cypher.run(spark, g2,
      "MATCH (:Person)-[r:KNOWS]->() RETURN r.weight AS w, r.since AS s").collect()(0)
    assert(r.getLong(0) == 5L && r.isNullAt(1))
  }

  test("SET n = map replaces: unnamed properties null out, labels survive") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      "MATCH (p:Person {name: 'Bob'}) SET p = {nick: 'bobby'}")
    val rows = Cypher.run(spark, g2,
      """MATCH (p:Person) WHERE p.nick = 'bobby'
        |RETURN p.nick AS nick, p.name AS name, p.age AS age""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "bobby")
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
  }

  test("UNION in updating query: both branches write, later sees earlier") {
    val (g2, ret) = Cypher.execute(spark, freshGraph,
      """CREATE (t:Tag {name: 'one'}) RETURN t.name AS name
        |UNION ALL
        |MATCH (t:Tag) CREATE (:Echo {of: t.name})
        |RETURN t.name AS name""".stripMargin)
    // branch 2 MATCHes the Tag created by branch 1 (statement-order
    // visibility within the one transaction)
    assert(ret.get.collect().map(_.getString(0)).toSeq == Seq("one", "one"))
    val echoed = Cypher.run(spark, g2,
      "MATCH (e:Echo) RETURN e.of AS of").collect().map(_.getString(0))
    assert(echoed.toSeq == Seq("one"))
  }

  test("UNION DISTINCT in updating query dedups the returned streams") {
    val (g2, ret) = Cypher.execute(spark, freshGraph,
      """CREATE (:Mark {v: 1}) RETURN 'x' AS tag
        |UNION
        |CREATE (:Mark {v: 2}) RETURN 'x' AS tag""".stripMargin)
    assert(ret.get.collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(Cypher.run(spark, g2, "MATCH (m:Mark) RETURN m.v AS v ORDER BY v")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("MERGE ON MATCH SET += map form applies through merge actions") {
    val (g2, _) = Cypher.execute(spark, freshGraph,
      """MERGE (p:Person {name: 'Alice'})
        |ON MATCH SET p += {vip: true}""".stripMargin)
    val r = Cypher.run(spark, g2,
      "MATCH (p:Person {name: 'Alice'}) RETURN p.vip AS v").collect()(0)
    assert(r.getBoolean(0))
  }
}
