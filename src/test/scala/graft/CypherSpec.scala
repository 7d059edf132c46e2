package graft

import graft.cypher.Cypher
import graft.graph.PropertyGraph
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end Cypher surface tests: each query is compiled by the engine
 * (parse → plan → DataFrame) and checked against hand-computed results on a
 * small fixed graph. Mirrors the shape of the reference's semantic
 * acceptance tests (community/cypher/acceptance-spec-suite).
 *
 * Graph: persons with age/city, KNOWS edges with since, LIKES edges.
 */
class CypherSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private lazy val g: PropertyGraph = {
    val nodeSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("labels", ArrayType(StringType), nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("age", LongType, nullable = true),
      StructField("city", StringType, nullable = true)))
    val relSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("since", LongType, nullable = true)))
    val nodes = Seq(
      Row(1L, Seq("Person"), "Alice", 30L, "Oslo"),
      Row(2L, Seq("Person"), "Bob", 25L, "Bergen"),
      Row(3L, Seq("Person"), "Carol", 35L, "Oslo"),
      Row(4L, Seq("Person", "Admin"), "Dave", 40L, null),
      Row(5L, Seq("City"), "Oslo", null, null))
    val rels = Seq(
      Row(10L, 1L, 2L, "KNOWS", 2015L),  // Alice -> Bob
      Row(11L, 2L, 3L, "KNOWS", 2018L),  // Bob -> Carol
      Row(12L, 1L, 3L, "KNOWS", 2020L),  // Alice -> Carol
      Row(13L, 3L, 4L, "KNOWS", 2021L),  // Carol -> Dave
      Row(14L, 1L, 5L, "LIVES_IN", null),
      Row(15L, 3L, 5L, "LIVES_IN", null))
    PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(nodes, 2), nodeSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(rels, 2), relSchema))
  }

  private def run(q: String, params: Map[String, Any] = Map.empty) =
    Cypher.run(spark, g, q, params)

  test("node scan with label + property filter and projection") {
    val rows = run(
      "MATCH (p:Person) WHERE p.age > 28 RETURN p.name AS name, p.age AS age ORDER BY age")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Alice", 30L), ("Carol", 35L), ("Dave", 40L)))
  }

  test("inline property map in pattern") {
    val rows = run("MATCH (p:Person {city: 'Oslo'}) RETURN p.name AS name ORDER BY name")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Alice", "Carol"))
  }

  test("expand with rel type and far-node predicate") {
    val rows = run(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
        |WHERE k.since >= 2018 RETURN a.name AS a, b.name AS b ORDER BY a, b""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Alice", "Carol"), ("Bob", "Carol"), ("Carol", "Dave")))
  }

  test("incoming and undirected directions") {
    val in = run("MATCH (a)<-[:KNOWS]-(b) RETURN a.name AS a, b.name AS b ORDER BY a, b")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(in.toSeq == Seq(("Bob", "Alice"), ("Carol", "Alice"), ("Carol", "Bob"), ("Dave", "Carol")))
    val both = run("MATCH (a {name: 'Bob'})-[:KNOWS]-(b) RETURN b.name AS b ORDER BY b")
      .collect().map(_.getString(0))
    assert(both.toSeq == Seq("Alice", "Carol"))
  }

  test("aggregation groups by non-aggregate items") {
    val rows = run(
      """MATCH (a:Person)-[:KNOWS]->(b)
        |RETURN a.name AS name, count(b) AS n ORDER BY n DESC, name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Alice", 2L), ("Bob", 1L), ("Carol", 1L)))
  }

  test("count(*), sum, avg, collect, min/max") {
    val r = run(
      """MATCH (p:Person) RETURN count(*) AS cnt, sum(p.age) AS total,
        |avg(p.age) AS mean, min(p.age) AS lo, max(p.age) AS hi""".stripMargin).collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 130 && r.getDouble(2) == 32.5 &&
      r.getLong(3) == 25 && r.getLong(4) == 40)
    val c = run("MATCH (p:Person) RETURN collect(p.name) AS names").collect()(0)
      .getSeq[String](0).sorted
    assert(c == Seq("Alice", "Bob", "Carol", "Dave"))
  }

  test("OPTIONAL MATCH keeps unmatched rows with NULLs") {
    val rows = run(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[:LIVES_IN]->(c:City)
        |RETURN p.name AS name, c.name AS city ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1))))
    assert(rows.toSeq == Seq(
      ("Alice", Some("Oslo")), ("Bob", None), ("Carol", Some("Oslo")), ("Dave", None)))
  }

  test("var-length expand with bounds") {
    val rows = run(
      """MATCH (a {name: 'Alice'})-[:KNOWS*1..2]->(b)
        |RETURN DISTINCT b.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    // 1 hop: Bob, Carol; 2 hops: Carol (via Bob), Dave (via Carol)
    assert(rows.toSeq == Seq("Bob", "Carol", "Dave"))
  }

  test("var-length collects rel ids and size() works") {
    val rows = run(
      """MATCH (a {name: 'Alice'})-[ks:KNOWS*2..2]->(b)
        |RETURN b.name AS name, size(ks) AS hops ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("Carol", 2), ("Dave", 2)))
  }

  test("WITH pipeline: aggregate then filter then return") {
    val rows = run(
      """MATCH (a:Person)-[:KNOWS]->(b)
        |WITH a, count(b) AS n WHERE n >= 2
        |RETURN a.name AS name, n""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Alice", 2L)))
  }

  test("UNWIND a literal list and a parameter") {
    val rows = run("UNWIND [1, 2, 3] AS x RETURN x * 10 AS v ORDER BY v")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(10L, 20L, 30L))
    val p = run("UNWIND $xs AS x RETURN x AS v ORDER BY v", Map("xs" -> Seq(5, 6)))
      .collect().map(_.getLong(0))
    assert(p.toSeq == Seq(5L, 6L))
  }

  test("CASE with mixed-type branches encodes to cross-type orderability") {
    // String < Boolean < Number in the global order; toString decodes
    val rows = run(
      """UNWIND [1, 2, 3] AS x
        |WITH CASE WHEN x = 1 THEN 2 WHEN x = 2 THEN 'one' ELSE true END AS v
        |RETURN toString(v) AS s ORDER BY v""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("one", "true", "2"))
    // no-default mixed CASE yields an encoded null that sorts last
    val withNull = run(
      """UNWIND [1, 2] AS x
        |WITH CASE WHEN x = 1 THEN 'a' WHEN x = 99 THEN 0 END AS v
        |RETURN toString(v) AS s ORDER BY v""".stripMargin)
      .collect().map(_.getString(0))
    assert(withNull.toSeq == Seq("a", "null"))
  }

  test("temporal clock variants and localdatetime.truncate evaluate") {
    val r = run(
      """RETURN datetime.statement() AS a, date.realtime() AS b,
        |localdatetime.transaction() AS c,
        |localdatetime.truncate('month',
        |  localdatetime({year: 2024, month: 5, day: 17})) AS t""".stripMargin)
      .collect().head
    assert(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
    assert(r.getAs[java.time.LocalDateTime](3) ==
      java.time.LocalDateTime.of(2024, 5, 1, 0, 0))
  }

  test("integer parameters are 64-bit (LongType) regardless of Scala literal width") {
    // Cypher integers are 64-bit; Int-valued params must widen to LongType.
    val small = run("RETURN $a + 1 AS v", Map("a" -> 41)).collect()
    assert(small.head.getLong(0) == 42L)
    val big = run("RETURN $b AS v", Map("b" -> 9007199254740993L)).collect()
    assert(big.head.getLong(0) == 9007199254740993L)
    val listed = run("UNWIND $xs AS x RETURN x AS v ORDER BY v",
      Map("xs" -> Seq(2147483648L, 1))).collect().map(_.getLong(0))
    assert(listed.toSeq == Seq(1L, 2147483648L))
  }

  test("UNION and UNION ALL") {
    val d = run(
      """MATCH (p:Person {city: 'Oslo'}) RETURN p.city AS c
        |UNION MATCH (p:Person {city: 'Bergen'}) RETURN p.city AS c""".stripMargin)
      .collect().map(_.getString(0)).sorted
    assert(d.toSeq == Seq("Bergen", "Oslo"))
    val a = run(
      """MATCH (p:Person {city: 'Oslo'}) RETURN p.city AS c
        |UNION ALL MATCH (p:Person {city: 'Oslo'}) RETURN p.city AS c""".stripMargin)
      .collect()
    assert(a.length == 4)
  }

  test("CASE expression, both forms") {
    val rows = run(
      """MATCH (p:Person) RETURN p.name AS name,
        |CASE WHEN p.age < 30 THEN 'young' WHEN p.age < 40 THEN 'mid' ELSE 'senior' END AS band
        |ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Alice", "mid"), ("Bob", "young"), ("Carol", "mid"), ("Dave", "senior")))
    val simple = run(
      "MATCH (p:Person) RETURN CASE p.city WHEN 'Oslo' THEN 1 ELSE 0 END AS isOslo, count(*) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(simple.toSeq == Seq((0L, 2L), (1L, 2L)))
  }

  test("EXISTS and NOT EXISTS pattern predicates") {
    val has = run(
      """MATCH (p:Person) WHERE EXISTS { (p)-[:LIVES_IN]->(:City) }
        |RETURN p.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(has.toSeq == Seq("Alice", "Carol"))
    val hasNot = run(
      """MATCH (p:Person) WHERE NOT EXISTS { (p)-[:LIVES_IN]->(:City) }
        |RETURN p.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(hasNot.toSeq == Seq("Bob", "Dave"))
  }

  test("string predicates and functions") {
    val rows = run(
      """MATCH (p:Person) WHERE p.name STARTS WITH 'C' OR p.name ENDS WITH 'e'
        |RETURN toUpper(p.name) AS u ORDER BY u""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("ALICE", "CAROL", "DAVE"))
    val regex = run("MATCH (p:Person) WHERE p.name =~ '.*o.*' RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(regex.toSeq == Seq("Bob", "Carol"))
  }

  test("IS NULL / IS NOT NULL three-valued logic") {
    val rows = run("MATCH (p:Person) WHERE p.city IS NULL RETURN p.name AS n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Dave"))
  }

  test("labels(), type(), id(), startNode(), endNode()") {
    val l = run("MATCH (p {name: 'Dave'}) RETURN labels(p) AS ls").collect()(0)
      .getSeq[String](0)
    assert(l == Seq("Person", "Admin"))
    val t = run(
      "MATCH (a {name: 'Alice'})-[r]->(b {name: 'Bob'}) RETURN type(r) AS t, id(r) AS i, startNode(r) AS s, endNode(r) AS e")
      .collect()(0)
    assert(t.getString(0) == "KNOWS" && t.getLong(1) == 10L &&
      t.getLong(2) == 1L && t.getLong(3) == 2L)
  }

  test("list comprehension and IN") {
    val rows = run(
      "RETURN [x IN range(1, 5) WHERE x % 2 = 0 | x * 10] AS evens")
      .collect()(0).getSeq[Long](0)
    assert(rows == Seq(20L, 40L))
    val in = run("MATCH (p:Person) WHERE p.name IN ['Bob', 'Dave'] RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(in == 2)
  }

  test("SKIP / LIMIT / DISTINCT") {
    val rows = run(
      "MATCH (p:Person) RETURN p.name AS name ORDER BY name SKIP 1 LIMIT 2")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Bob", "Carol"))
    val d = run("MATCH (p:Person)-[:KNOWS]->() RETURN DISTINCT p.city AS c ORDER BY c")
      .collect().map(_.getString(0))
    assert(d.toSeq == Seq("Bergen", "Oslo"))
  }

  test("relationship uniqueness within a MATCH") {
    // two-hop paths cannot reuse the same rel: Alice-KNOWS->X-KNOWS->Y
    val rows = run(
      """MATCH (a {name: 'Alice'})-[r1:KNOWS]->(x)-[r2:KNOWS]->(y)
        |RETURN x.name AS x, y.name AS y ORDER BY x, y""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Bob", "Carol"), ("Carol", "Dave")))
    // undirected 2-hop from Bob must not bounce back over the same rel
    val noBounce = run(
      """MATCH (a {name: 'Bob'})-[r1:KNOWS]-(x)-[r2:KNOWS]-(y)
        |RETURN DISTINCT y.name AS y ORDER BY y""".stripMargin)
      .collect().map(_.getString(0))
    assert(!noBounce.contains("Bob"))
  }

  test("multi-pattern MATCH joins on shared variables") {
    val rows = run(
      """MATCH (a)-[:KNOWS]->(b), (a)-[:LIVES_IN]->(c:City)
        |RETURN DISTINCT a.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Alice", "Carol"))
  }

  test("expression arithmetic, power, modulo, unary minus") {
    val r = run("RETURN 2 ^ 10 AS p, 7 % 3 AS m, -(3 - 5) AS neg, 10 / 4.0 AS d").collect()(0)
    assert(r.getDouble(0) == 1024.0 && r.getLong(1) == 1L &&
      r.getLong(2) == 2L && r.getDouble(3) == 2.5)
  }

  test("coalesce, head, last, slice, index") {
    val r = run(
      "RETURN coalesce(null, 'x') AS c, head([1,2,3]) AS h, last([1,2,3]) AS l, [10,20,30][1] AS i, [1,2,3,4][1..3] AS s")
      .collect()(0)
    assert(r.getString(0) == "x" && r.getLong(1) == 1L && r.getLong(2) == 3L &&
      r.getLong(3) == 20L && r.getSeq[Long](4) == Seq(2L, 3L))
  }

  test("shortestPath between bound endpoints binds length(p)") {
    val rows = run(
      """MATCH (a {name: 'Alice'}), (b:Person)
        |MATCH p = shortestPath((a)-[:KNOWS*..6]->(b))
        |RETURN b.name AS name, length(p) AS hops ORDER BY hops, name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // Alice->Bob (1), Alice->Carol (1, direct beats via-Bob), Alice->..->Dave (2);
    // zero-length self-path excluded (var-length min defaults to 1)
    assert(rows.toSeq == Seq(("Bob", 1), ("Carol", 1), ("Dave", 2)))
  }

  test("shortestPath with unbound far node returns reachable set with distances") {
    val rows = run(
      """MATCH (a {name: 'Bob'})
        |MATCH p = shortestPath((a)-[:KNOWS*..6]->(x))
        |WHERE x.name <> 'Bob'
        |RETURN x.name AS name, length(p) AS hops ORDER BY hops""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("Carol", 1), ("Dave", 2)))
  }

  test("shortestPath walks only rels matching the inline property map") {
    // only Alice->Bob is since 2015: Carol (direct since 2020) and Dave
    // are unreachable over matching rels
    def reached(fn: String, ret: String) = run(
      s"""MATCH (a {name: 'Alice'})
         |MATCH p = $fn((a)-[:KNOWS*..3 {since: 2015}]->(x))
         |RETURN x.name AS name, $ret AS v""".stripMargin)
      .collect().map(r => (r.getString(0), r.get(1).toString)).toSeq
    assert(reached("shortestPath", "length(p)") == Seq(("Bob", "1")))
    assert(reached("allShortestPaths", "length(p)") == Seq(("Bob", "1")))
    assert(reached("shortestPath", "[r IN relationships(p) | r.since]") ==
      Seq(("Bob", "ArraySeq(2015)")))
  }

  test("shortestPath with both endpoints unbound seeds from AllNodesScan") {
    val rows = run(
      """MATCH p = shortestPath((a)-[:KNOWS*2..6]->(b))
        |RETURN a.name AS src, b.name AS dst, length(p) AS hops
        |ORDER BY src, dst""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // min 2 hops keeps it to genuine multi-hop shortest pairs:
    // Alice⇒Dave via Carol (2), Bob⇒Dave via Carol (2)
    assert(rows.toSeq == Seq(("Alice", "Dave", 2), ("Bob", "Dave", 2)))
    // SHORTEST k form with an unbound start
    val k = run(
      """MATCH p = SHORTEST 1 (a)-[:KNOWS*2..3]->(b)
        |WHERE b.name = 'Dave'
        |RETURN a.name AS src, length(p) AS hops ORDER BY src""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(k.toSeq == Seq(("Alice", 2), ("Bob", 2)))
  }

  test("quantified path pattern collects group variables") {
    val rows = run(
      """MATCH (a {name: 'Alice'}) ((x)-[r:KNOWS]->(y)){2,2} (b)
        |RETURN b.name AS name, size(r) AS hops, size(y) AS ys ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq == Seq(("Carol", 2, 2), ("Dave", 2, 2)))
  }

  test("QPP quantifiers: {n}, +, * parse and bound correctly") {
    val plus = run(
      """MATCH (a {name: 'Alice'}) ((x)-[r:KNOWS]->(y))+ (b)
        |RETURN DISTINCT b.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(plus.toSeq == Seq("Bob", "Carol", "Dave"))
    val star = run(
      """MATCH (a {name: 'Carol'}) ((x)-[r:KNOWS]->(y))* (b)
        |RETURN DISTINCT b.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(star.toSeq == Seq("Carol", "Dave")) // zero-length includes Carol
  }

  test("doubly-unbound labeled path anchors on the smaller label (stats)") {
    // City(1) is smaller than Person(4): planner should flip to start at City;
    // correctness must be identical either way
    val rows = run(
      "MATCH (p:Person)-[:LIVES_IN]->(c:City) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Alice", "Carol"))
  }

  test("pattern predicate under OR lowers to a flag (SelectOrSemiApply)") {
    val rows = run(
      """MATCH (p:Person)
        |WHERE p.age > 38 OR EXISTS { (p)-[:LIVES_IN]->(:City) }
        |RETURN p.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Alice", "Carol", "Dave"))
    val anti = run(
      """MATCH (p:Person)
        |WHERE p.age < 26 OR NOT EXISTS { (p)-[:LIVES_IN]->(:City) }
        |RETURN p.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    assert(anti.toSeq == Seq("Bob", "Dave"))
  }

  test("RETURN * and WITH *, extra AS") {
    val cols = run("MATCH (p:Person)-[k:KNOWS]->(q) RETURN *").columns.sorted
    assert(cols.toSeq == Seq("k", "p", "q"))
    val rows = run(
      """MATCH (p:Person {name: 'Alice'})
        |WITH *, p.age AS a RETURN p.name AS n, a""".stripMargin).collect()(0)
    assert(rows.getString(0) == "Alice" && rows.getLong(1) == 30L)
  }

  test("COUNT {} subquery in projection and WHERE") {
    val rows = run(
      """MATCH (p:Person)
        |RETURN p.name AS name, COUNT { (p)-[:KNOWS]->() } AS friends
        |ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Alice", 2L), ("Bob", 1L), ("Carol", 1L), ("Dave", 0L)))
    val filtered = run(
      """MATCH (p:Person) WHERE COUNT { (p)-[:KNOWS]->() } >= 2
        |RETURN p.name AS name""".stripMargin)
      .collect().map(_.getString(0))
    assert(filtered.toSeq == Seq("Alice"))
  }

  test("duration() and point() functions through Cypher") {
    val d = run("RETURN duration('P1Y2M3DT4H') AS d").collect()(0)
      .getStruct(0)
    assert(d.getLong(0) == 14 && d.getLong(1) == 3 && d.getLong(2) == 4 * 3600)
    val dist = run(
      "RETURN distance(point({x: 0, y: 0}), point({x: 3, y: 4})) AS m").collect()(0)
      .getDouble(0)
    assert(dist == 5.0)
    val geo = run(
      "RETURN distance(point({longitude: 0, latitude: 0}), point({longitude: 1, latitude: 0})) AS m")
      .collect()(0).getDouble(0)
    assert(math.abs(geo - 111319.0) < 100)
  }

  test("CALL procedure with YIELD joins results into the pipeline") {
    val rows = run(
      "CALL db.labels() YIELD label RETURN label ORDER BY label")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Admin", "City", "Person"))
    val counts = run(
      "CALL graft.stats.labels() YIELD label, nodeCount " +
        "RETURN label, nodeCount ORDER BY label")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(counts.toSeq == Seq(("Admin", 1L), ("City", 1L), ("Person", 4L)))
  }

  test("map projection and properties()/keys()") {
    val m = run(
      "MATCH (p:Person {name: 'Alice'}) RETURN p {.name, .age, double_age: p.age * 2} AS m")
      .collect()(0).getStruct(0)
    assert(m.getString(0) == "Alice" && m.getLong(1) == 30L && m.getLong(2) == 60L)
    val k = run("MATCH (p:Person {name: 'Dave'}) RETURN keys(p) AS ks")
      .collect()(0).getSeq[String](0)
    assert(k.contains("name") && k.contains("age") && !k.contains("city"))
    val pr = run("MATCH (p:Person {name: 'Bob'}) RETURN properties(p) AS pm")
      .collect()(0).getStruct(0)
    assert(pr.getAs[String]("name") == "Bob" && pr.getAs[String]("city") == "Bergen")
  }

  test("CALL { subquery } joins an uncorrelated aggregate to every row") {
    val rows = run(
      """MATCH (p:Person)
        |CALL { MATCH (q:Person) RETURN max(q.age) AS oldest }
        |RETURN p.name AS name, oldest ORDER BY name LIMIT 2""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("Alice", 40L), ("Bob", 40L)))
  }

  test("temporal construction, truncation and component access") {
    val r = run(
      """RETURN date({year: 2024, month: 2, day: 29}) AS d,
        |datetime({year: 2024, month: 2, day: 29, hour: 12}) AS ts,
        |date('2024-03-15').year AS y, date('2024-03-15').month AS m,
        |date.truncate('month', date('2024-03-15')) AS tm""".stripMargin).collect()(0)
    assert(r.get(0).toString == "2024-02-29")
    assert(r.get(1).toString.startsWith("2024-02-29 12:00"))
    assert(r.getLong(2) == 2024L && r.getLong(3) == 3L)
    assert(r.get(4).toString == "2024-03-01")
  }

  test("correlated CALL aggregation preserves zero-match rows (count 0)") {
    val rows = run(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:KNOWS]->(f)
        |       RETURN count(f) AS friends, sum(f.age) AS total }
        |RETURN p.name AS name, friends, total ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // Dave knows nobody: row survives with count 0 and NULL sum
    assert(rows.toSeq == Seq(("Alice", 2L, 60L), ("Bob", 1L, 35L),
      ("Carol", 1L, 40L), ("Dave", 0L, -1L)))
  }

  test("correlated CALL { WITH x ... } runs per imported key") {
    val rows = run(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:KNOWS]->(q) RETURN max(q.age) AS oldestFriend }
        |RETURN p.name AS name, oldestFriend ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
    // Dave has no outgoing KNOWS → row survives with NULL max
    assert(rows.toSeq == Seq(("Alice", 35L), ("Bob", 35L), ("Carol", 40L),
      ("Dave", -1L)))
  }

  test("all/any/none/single iterator predicates and reduce()") {
    val r = run(
      """RETURN all(x IN [2, 4, 6] WHERE x % 2 = 0) AS a,
        |any(x IN [1, 3, 4] WHERE x > 3) AS b,
        |none(x IN [1, 3] WHERE x > 5) AS c,
        |single(x IN [1, 2, 3] WHERE x = 2) AS d,
        |reduce(acc = 0, x IN [1, 2, 3, 4] | acc + x) AS s,
        |reduce(acc = 1, x IN [1, 2, 3, 4] | acc * x) AS prod""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(r.getLong(4) == 10L && r.getLong(5) == 24L)
  }

  test("shortestPath exposes relationships(p) when requested (path output)") {
    val rows = run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = shortestPath((a)-[:KNOWS*..6]->(x))
        |WHERE x.name = 'Dave'
        |RETURN length(p) AS hops, relationships(p) AS rels""".stripMargin)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getInt(0) == 2)
    // Alice -12-> Carol -13-> Dave is the unique 2-hop path
    assert(r.getSeq[Long](1) == Seq(12L, 13L))
  }

  test("SHORTEST k selector returns the k best trails per pair") {
    val rows = run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = SHORTEST 2 (a)-[:KNOWS*1..3]->(x)
        |WHERE x.name = 'Carol'
        |RETURN length(p) AS hops, relationships(p) AS rels
        |ORDER BY hops""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toList))
    // direct 1-hop (rel 12) beats Alice->Bob->Carol (rels 10, 11)
    assert(rows.toSeq == Seq((1, List(12L)), (2, List(10L, 11L))))
    // nodes(p) is carried for SHORTEST k paths too
    val ns = run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = SHORTEST 1 (a)-[:KNOWS*1..3]->(x)
        |WHERE x.name = 'Dave' RETURN nodes(p) AS ns""".stripMargin)
      .collect()(0).getSeq[Long](0).toList
    assert(ns == List(1L, 3L, 4L)) // Alice -> Carol -> Dave
  }

  test("unbounded var-length enumerates every trail to exhaustion") {
    val rows = run(
      """MATCH p = (a {name: 'Alice'})-[:KNOWS*]->(x)
        |RETURN x.name AS name, length(p) AS hops ORDER BY name, hops""".stripMargin)
      .collect().map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSeq
    // every KNOWS trail from Alice: B(1), C(1 direct, 2 via B),
    // D(2 via direct C, 3 via B-C) — rel-uniqueness terminates the loop
    assert(rows == Seq(("Bob", 1), ("Carol", 1), ("Carol", 2),
      ("Dave", 2), ("Dave", 3)))
    // lower bound applies: *2.. drops the 1-hop trails
    val lo = run(
      """MATCH p = (a {name: 'Alice'})-[:KNOWS*2..]->(x)
        |RETURN x.name AS name, length(p) AS hops ORDER BY name, hops""".stripMargin)
      .collect().map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSeq
    assert(lo == Seq(("Carol", 2), ("Dave", 2), ("Dave", 3)))
  }

  test("SHORTEST supports alternation between path shapes") {
    // s -X(10)-> m1 -X(11)-> t   and   s -Y(20)-> m2 -Z(21)-> t
    val ag = GraphFixtures.graph(spark,
      Seq((1L, Seq("N"), "s"), (2L, Seq("N"), "m1"), (3L, Seq("N"), "m2"),
        (5L, Seq("N"), "t")),
      Seq((10L, 1L, 2L, "X"), (11L, 2L, 5L, "X"),
        (20L, 1L, 3L, "Y"), (21L, 3L, 5L, "Z")))
    val rows = Cypher.run(spark, ag,
      """MATCH p = SHORTEST 2 (a {name: 's'}) (-[:X]->()|-[:Y]->()-[:Z]->()){1,2} (b {name: 't'})
        |RETURN length(p) AS hops, relationships(p) AS rels
        |ORDER BY rels""".stripMargin)
      .collect().map(r => (r.getAs[Number](0).intValue, r.getSeq[Long](1).toList))
    assert(rows.toSeq == Seq((2, List(10L, 11L)), (2, List(20L, 21L))))
    // the quantifier counts BRANCH TRAVERSALS: {1,1} fits only the
    // two-rel Y-Z branch (the X route needs two traversals)
    val one = Cypher.run(spark, ag,
      """MATCH p = SHORTEST 2 (a {name: 's'}) (-[:X]->()|-[:Y]->()-[:Z]->()){1,1} (b {name: 't'})
        |RETURN relationships(p) AS rels""".stripMargin)
      .collect().map(_.getSeq[Long](0).toList)
    assert(one.toSeq == Seq(List(20L, 21L)))
  }

  test("SHORTEST alternation branches may take bounded var-length hops") {
    // s -X(10)-> m -X(11)-> t   and   s -Y(20)-> t
    val ag = GraphFixtures.graph(spark,
      Seq((1L, Seq("N"), "s"), (2L, Seq("N"), "m"), (5L, Seq("N"), "t")),
      Seq((10L, 1L, 2L, "X"), (11L, 2L, 5L, "X"), (20L, 1L, 5L, "Y")))
    val rows = Cypher.run(spark, ag,
      """MATCH p = SHORTEST 2 (a {name: 's'}) (-[:X*1..2]->()|-[:Y]->()){1,1} (b {name: 't'})
        |RETURN length(p) AS hops, relationships(p) AS rels
        |ORDER BY hops""".stripMargin)
      .collect().map(r => (r.getAs[Number](0).intValue, r.getSeq[Long](1).toList))
    // one traversal each: Y direct (1 rel) and the X*2 chain (2 rels)
    assert(rows.toSeq == Seq((1, List(20L)), (2, List(10L, 11L))))
    // the X route needs its full var-length range: [*1..1] can't reach t
    val capped = Cypher.run(spark, ag,
      """MATCH p = SHORTEST 2 (a {name: 's'}) (-[:X*1..1]->()|-[:Y]->()){1,1} (b {name: 't'})
        |RETURN relationships(p) AS rels""".stripMargin)
      .collect().map(_.getSeq[Long](0).toList)
    assert(capped.toSeq == Seq(List(20L)))
  }

  test("SHORTEST k interior node inline WHERE constrains the boundary") {
    val viaCarol = run(
      """MATCH p = SHORTEST 1 (a {name: 'Alice'})-[:KNOWS*1..2]->(x WHERE x.name = 'Carol')-[:KNOWS*1..2]->(b {name: 'Dave'})
        |RETURN length(p) AS hops""".stripMargin).collect()
    assert(viaCarol.map(_.getAs[Number](0).intValue).toSeq == Seq(2))
    // forcing the interior through Bob lengthens the path to 3
    val viaBob = run(
      """MATCH p = SHORTEST 1 (a {name: 'Alice'})-[:KNOWS*1..2]->(x WHERE x.name = 'Bob')-[:KNOWS*1..2]->(b {name: 'Dave'})
        |RETURN length(p) AS hops""".stripMargin).collect()
    assert(viaBob.map(_.getAs[Number](0).intValue).toSeq == Seq(3))
  }

  test("SHORTEST k and shortestPath accept inline WHERE on endpoints") {
    val k = run(
      """MATCH p = SHORTEST 1 (a WHERE a.name = 'Alice')-[:KNOWS*1..3]->(b WHERE b.name = 'Dave')
        |RETURN length(p) AS hops""".stripMargin).collect()
    assert(k.map(_.getAs[Number](0).intValue).toSeq == Seq(2))
    // unbound target selected by its WHERE (boundary-set semi-join, no
    // post-hoc cartesian)
    val sp = run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = shortestPath((a)-[:KNOWS*..6]->(x WHERE x.name = 'Dave'))
        |RETURN x.name AS n, length(p) AS hops""".stripMargin).collect()
    assert(sp.map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSeq ==
      Seq(("Dave", 2)))
    // a predicate nothing satisfies yields no rows, like a failed MATCH
    assert(run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = shortestPath((a)-[:KNOWS*..6]->(x WHERE x.name = 'Nobody'))
        |RETURN length(p) AS hops""".stripMargin).count() == 0)
  }

  test("nodes(p) exposes the node sequence of a shortest path") {
    val r = run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = shortestPath((a)-[:KNOWS*..6]->(x))
        |WHERE x.name = 'Dave'
        |RETURN nodes(p) AS ns, relationships(p) AS rs""".stripMargin)
      .collect()(0)
    // Alice(1) -> Carol(3) -> Dave(4), rels 12, 13
    assert(r.getSeq[Long](0) == Seq(1L, 3L, 4L))
    assert(r.getSeq[Long](1) == Seq(12L, 13L))
  }

  test("allShortestPaths returns every tie") {
    // two minimal 2-hop routes Alice->..->Dave? only one exists; use Bob:
    // Alice-KNOWS->Bob and Alice-KNOWS->Carol are both 1-hop minimal to
    // distinct nodes; for ties to the SAME node: Alice->Carol directly (1)
    // beats Alice->Bob->Carol (2), so Carol has a single tie. Check counts.
    val rows = run(
      """MATCH (a {name: 'Alice'})
        |MATCH p = allShortestPaths((a)-[:KNOWS*..4]->(x))
        |RETURN x.name AS name, length(p) AS hops, relationships(p) AS rels
        |ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("Bob", 1), ("Carol", 1), ("Dave", 2)))
    // two parallel shortest routes n0->n1->n3 / n0->n2->n3 plus a self-loop
    // at n0: both ties reach n3, no path takes the loop
    val routes = GraphFixtures.graph(spark,
      (0L to 3L).map(i => (i, Seq("N"), s"n$i")),
      Seq((10L, 0L, 1L, "T"), (11L, 0L, 2L, "T"), (12L, 1L, 3L, "T"),
        (13L, 2L, 3L, "T"), (14L, 0L, 0L, "T")))
    val ties = Cypher.run(spark, routes,
      """MATCH (a {name: 'n0'})
        |MATCH p = allShortestPaths((a)-[:T*..4]->(x))
        |RETURN x.name AS name, length(p) AS hops, relationships(p) AS rels""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Long](2))).toSet
    assert(ties == Set(("n1", 1, Seq(10L)), ("n2", 1, Seq(11L)),
      ("n3", 2, Seq(10L, 12L)), ("n3", 2, Seq(11L, 13L))))
  }

  test("pattern comprehension collects per-row lists, [] on no match") {
    val rows = run(
      """MATCH (a:Person)
        |RETURN a.name AS name, [(a)-[:KNOWS]->(b) | b.name] AS friends
        |ORDER BY name""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList)
    assert(rows.toSeq == Seq(
      "Alice" -> List("Bob", "Carol"), "Bob" -> List("Carol"),
      "Carol" -> List("Dave"), "Dave" -> List()))
  }

  test("pattern comprehension WHERE filters inside the sub-pattern") {
    val rows = run(
      """MATCH (a:Person {name: 'Alice'})
        |RETURN [(a)-[:KNOWS]->(b) WHERE b.age > 26 | b.name] AS older""".stripMargin)
      .collect()(0).getSeq[String](0).toList
    assert(rows == List("Carol"))
  }

  test("COLLECT subquery equals the comprehension form") {
    val rows = run(
      """MATCH (a:Person)
        |RETURN a.name AS name,
        |  COLLECT { MATCH (a)-[:KNOWS]->(b) RETURN b.name } AS friends
        |ORDER BY name""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList)
    assert(rows.toSeq == Seq(
      "Alice" -> List("Bob", "Carol"), "Bob" -> List("Carol"),
      "Carol" -> List("Dave"), "Dave" -> List()))
  }

  test("pattern comprehension usable inside expressions (size)") {
    val n = run(
      """MATCH (a:Person {name: 'Alice'})
        |RETURN size([(a)-[:KNOWS]->(b) | b.name]) AS n""".stripMargin)
      .collect()(0).getInt(0)
    assert(n == 2)
  }

  test("inline WHERE inside node patterns (Cypher 5)") {
    val rows = run(
      "MATCH (p:Person WHERE p.age > 28) RETURN p.name AS n ORDER BY n")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Alice", "Carol", "Dave"))
    // far-node inline WHERE may reference earlier pattern variables
    val cross = run(
      """MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(b WHERE b.age < a.age)
        |RETURN b.name AS n ORDER BY n""".stripMargin)
      .collect().map(_.getString(0))
    assert(cross.toSeq == Seq("Bob")) // Carol(35) is not younger than Alice(30)
  }

  test("inline WHERE inside relationship patterns (Cypher 5)") {
    val rows = run(
      """MATCH (a:Person)-[r:KNOWS WHERE r.since >= 2018]->(b)
        |RETURN a.name AS a, b.name AS b ORDER BY a, b""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Alice", "Carol"), ("Bob", "Carol"), ("Carol", "Dave")))
  }

  test("var-length rel with inline property map filters every step") {
    // only Bob->Carol carries since=2018: a var-length walk restricted to
    // that property reaches Carol from Bob and nothing deeper
    val fromBob = run(
      """MATCH (a {name: 'Bob'})-[rs:KNOWS*1..3 {since: 2018}]->(b)
        |RETURN b.name AS nm, size(rs) AS len""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(fromBob == Set(("Carol", 1)))
    // Alice has no qualifying out-edge → empty, even though unfiltered
    // 1..3-hop walks reach everyone
    assert(run(
      """MATCH (a {name: 'Alice'})-[rs:KNOWS*1..3 {since: 2018}]->(b)
        |RETURN b.name AS nm""".stripMargin).collect().isEmpty)
  }

  test("label expressions :A|B, :A&B, :!A") {
    assert(run("MATCH (n:Person|City) RETURN count(*) AS c")
      .collect()(0).getLong(0) == 5)
    assert(run("MATCH (n:Person&!Admin) RETURN count(*) AS c")
      .collect()(0).getLong(0) == 3)
    assert(run("MATCH (n:Person&Admin) RETURN n.name AS nm")
      .collect().map(_.getString(0)).toSeq == Seq("Dave"))
    // far-node label expression filters the expand target
    assert(run("MATCH (a {name: 'Carol'})-[:KNOWS]->(b:Person&Admin) " +
      "RETURN b.name AS nm").collect().map(_.getString(0)).toSeq == Seq("Dave"))
  }

  test("round() modes and elementId()") {
    val r = run(
      """RETURN round(1.249, 1, 'UP') AS up, round(-1.251, 1, 'UP') AS upn,
        |  round(1.25, 1, 'HALF_DOWN') AS hd, round(1.35, 1, 'HALF_EVEN') AS he,
        |  round(-1.21, 1, 'CEILING') AS ce, round(1.29, 1, 'FLOOR') AS fl,
        |  round(1.25, 1, 'DOWN') AS dn""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.3 && r.getDouble(1) == -1.3)
    assert(r.getDouble(2) == 1.2 && r.getDouble(3) == 1.4)
    assert(r.getDouble(4) == -1.2 && r.getDouble(5) == 1.2 && r.getDouble(6) == 1.2)
    val e = run("MATCH (p:Person {name: 'Alice'}) RETURN elementId(p) AS eid")
      .collect()(0).getString(0)
    assert(e == "1")
  }

  test("plan cache: repeated query on the same snapshot skips parse/plan") {
    val q = "MATCH (n:Person) WHERE n.age > 20 RETURN count(*) AS c"
    val d1 = Cypher.run(spark, g, q)
    val hits0 = Cypher.planCacheHits
    val d2 = Cypher.run(spark, g, q)
    assert(Cypher.planCacheHits == hits0 + 1)
    // the cache hands back a plan, not the DataFrame that ran it: each
    // request gets its own QueryExecution
    assert(d2.queryExecution ne d1.queryExecution)
    assert(d2.collect().toSeq == d1.collect().toSeq)
    // a NEW graph snapshot must re-plan (no stale reads)
    val g2 = g.copy(nodes = g.nodes.filter(lit(true)))
    val d3 = Cypher.run(spark, g2, q)
    assert(!(d3 eq d1))
    // different params share the template, each with its own value
    val qp = "MATCH (n:Person) WHERE n.age > $min RETURN count(*) AS c"
    val p1 = Cypher.run(spark, g, qp, Map("min" -> 20L))
    val p2 = Cypher.run(spark, g, qp, Map("min" -> 30L))
    assert(!(p1 eq p2))
    def count(min: Long): Long =
      run(s"MATCH (n:Person) WHERE n.age > $min RETURN count(*) AS c").head.getLong(0)
    assert(p1.head.getLong(0) == count(20L) && p2.head.getLong(0) == count(30L))
    assert(count(20L) != count(30L))
  }

  test("plan cache: an array parameter hits on a repeat with equal content") {
    val q = "MATCH (n:Person) WHERE n.age IN $ages RETURN count(*) AS c"
    val d1 = Cypher.run(spark, g, q, Map("ages" -> Array(30L, 25L)))
    val hits0 = Cypher.planCacheHits
    val d2 = Cypher.run(spark, g, q, Map("ages" -> Array(30L, 25L)))
    assert(Cypher.planCacheHits == hits0 + 1)
    assert(d2.collect().toSeq == d1.collect().toSeq)
    // other content is another entry, with its own rows
    val d3 = Cypher.run(spark, g, q, Map("ages" -> Array(30L)))
    assert(Cypher.planCacheHits == hits0 + 1)
    assert(d3.head.getLong(0) < d1.head.getLong(0))
  }

  test("PROFILE after repeated runs reports one run's row counts") {
    val q = "MATCH (n:Person) WHERE n.age > $min RETURN n.name AS name"
    val ps = Map[String, Any]("min" -> 26L)
    Cypher.clearCaches()
    val once = Cypher.run(spark, g, "PROFILE " + q, ps).collect().toSeq
    Cypher.run(spark, g, q, ps).collect()
    Cypher.run(spark, g, q, ps).collect()
    val hits0 = Cypher.planCacheHits
    val again = Cypher.run(spark, g, "PROFILE " + q, ps).collect().toSeq
    assert(Cypher.planCacheHits == hits0 + 1, "PROFILE plans through the cache")
    assert(again == once)
    assert(once.exists(r => !r.isNullAt(2) && r.getLong(2) > 0))
  }

  test("min/max over mixed-type values follow orderability, skipping null") {
    val r = run(
      """UNWIND [3, 'b', null, true, 'a'] AS x
        |RETURN toString(min(x)) AS lo, toString(max(x)) AS hi""".stripMargin)
      .collect()(0)
    // String < Boolean < Number; null never wins either side
    assert(r.getString(0) == "a" && r.getString(1) == "3")
  }

  test("mixed-type ORDER BY follows Cypher orderability type ranks") {
    // reference order: String < Boolean < Number, null LAST ascending
    val asc = run(
      """UNWIND [3, 'b', null, 1.5, true, 'a', 2] AS x
        |RETURN toString(x) AS s ORDER BY x""".stripMargin)
      .collect().map(_.getString(0))
    assert(asc.toSeq == Seq("a", "b", "true", "1.5", "2", "3", "null"))
    // descending reverses, null first
    val desc = run(
      """UNWIND [3, 'b', null, 1.5, true, 'a', 2] AS x
        |RETURN toString(x) AS s ORDER BY x DESC""".stripMargin)
      .collect().map(_.getString(0))
    assert(desc.toSeq == Seq("null", "3", "2", "1.5", "true", "b", "a"))
  }

  test("ORDER BY on a plain column puts nulls last ASC, first DESC") {
    val asc = run("MATCH (p:Person) RETURN p.city AS c ORDER BY c")
      .collect().map(r => Option(r.getString(0)))
    assert(asc.last.isEmpty && asc.init.forall(_.isDefined)) // Dave's null city last
    val desc = run("MATCH (p:Person) RETURN p.city AS c ORDER BY c DESC")
      .collect().map(r => Option(r.getString(0)))
    assert(desc.head.isEmpty)
  }

  test("endpoints-only unbounded * walks a 12-deep chain to exhaustion") {
    val nodeSchema = StructType(Seq(
      StructField("id", LongType), StructField("labels", ArrayType(StringType)),
      StructField("name", StringType)))
    val relSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("type", StringType)))
    val chain = PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0L to 12L).map(i => Row(i, Seq("N"), s"n$i")), 2), nodeSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(
        (0L until 12L).map(i => Row(100L + i, i, i + 1, "NEXT")), 2), relSchema))
    val names = Cypher.run(spark, chain,
      "MATCH (a:N {name: 'n0'})-[*]->(b) RETURN DISTINCT b.name AS name")
      .collect().map(_.getString(0)).toSet
    assert(names == (1 to 12).map(i => s"n$i").toSet) // depth 12 reached, no cap
  }

  test("path-enumerating unbounded * with a rel variable runs to exhaustion") {
    // rs binds the rel list, so this can't take the endpoints-only pruning
    // rewrite — it enumerates trails until the frontier dies (Trail.trail
    // with no upper bound)
    val rows = run(
      "MATCH (a {name: 'Alice'})-[rs:KNOWS*]->(b) " +
        "RETURN b.name AS n, size(rs) AS len ORDER BY n, len")
      .collect().map(r => (r.getString(0), r.getAs[Number](1).intValue)).toSeq
    assert(rows == Seq(("Bob", 1), ("Carol", 1), ("Carol", 2),
      ("Dave", 2), ("Dave", 3)))
  }

  test("cycle back to the source satisfies [*1..] under the pruning rewrite") {
    val nodeSchema = StructType(Seq(
      StructField("id", LongType), StructField("labels", ArrayType(StringType)),
      StructField("name", StringType)))
    val relSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("type", StringType)))
    // triangle 1->2->3->1: every node reaches ITSELF via the 3-cycle
    val tri = PropertyGraph(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, Seq("N"), "a"), Row(2L, Seq("N"), "b"), Row(3L, Seq("N"), "c")), 2), nodeSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(10L, 1L, 2L, "T"), Row(11L, 2L, 3L, "T"), Row(12L, 3L, 1L, "T")), 2), relSchema))
    val reached = Cypher.run(spark, tri,
      "MATCH (s:N {name: 'a'})-[*1..3]->(b) RETURN DISTINCT b.name AS name")
      .collect().map(_.getString(0)).toSet
    assert(reached == Set("a", "b", "c")) // includes the source via the cycle
  }

  test("function tail: normalize/isNaN/randomUUID/timestamp/list coercions") {
    val r = run(
      """MATCH (p:Person {name: 'Alice'})
        |RETURN normalize('café', NFC) AS nfc,
        |       normalize('café', NFD) AS nfd,
        |       isNaN(sqrt(-1.0)) AS nan,
        |       randomUUID() AS uuid,
        |       timestamp() AS ts,
        |       toIntegerList(['1', 'x', '3']) AS til,
        |       toBooleanList(['true', 'nope']) AS tbl,
        |       valueType(p.age) AS vt""".stripMargin).collect().head
    assert(r.getString(0) == "café")           // NFC composes
    assert(r.getString(1) == "café")          // NFD decomposes
    assert(r.getBoolean(2))
    assert(r.getString(3).matches("[0-9a-f-]{36}"))
    assert(r.getLong(4) > 1600000000000L)           // millis since epoch
    assert(r.getSeq[Any](5) == Seq(1L, null, 3L))
    assert(r.getSeq[Any](6) == Seq(true, null))
    assert(r.getString(7) == "INTEGER NOT NULL")
  }

  test("IS :: type predicates fold against the static schema") {
    val r = run(
      """MATCH (p:Person {name: 'Alice'})
        |RETURN p.age IS :: INTEGER AS a,
        |       p.name IS :: STRING NOT NULL AS b,
        |       p.age IS :: STRING AS c,
        |       p.age IS NOT :: STRING AS d,
        |       [1, 2] IS :: LIST<INTEGER> AS e,
        |       p.missing IS :: INTEGER AS f""".stripMargin).collect().head
    assert((r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
      r.getBoolean(4), r.getBoolean(5)) == (true, true, false, true, true, true))
  }

  test("SHOW FUNCTIONS lists the function catalog") {
    val names = run("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    assert(Set("collect", "percentileCont", "vector.similarity.cosine",
      "duration.between", "char_length", "normalize").subsetOf(names))
  }

  test("USING hints are accepted and ignored") {
    val rows = run(
      """MATCH (p:Person)
        |USING INDEX p:Person(age)
        |WHERE p.age > 28
        |RETURN count(*) AS n""".stripMargin).collect()
    assert(rows.head.getLong(0) == 3L)
  }

  test("named path over fixed hops binds nodes/relationships/length") {
    val rows = run(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b)-[:KNOWS]->(c)
        |RETURN c.name AS name, length(p) AS len,
        |       relationships(p) AS rels, nodes(p) AS ns
        |ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getSeq[Long](2), r.getSeq[Long](3)))
    assert(rows.toSeq == Seq(
      ("Carol", 2, Seq(10L, 11L), Seq(1L, 2L, 3L)),
      ("Dave", 2, Seq(12L, 13L), Seq(1L, 3L, 4L))))
  }

  test("named path with a var-length hop enumerates per-path sequences") {
    val rows = run(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS*1..2]->(x)
        |RETURN x.name AS name, nodes(p) AS ns, relationships(p) AS rels,
        |       length(p) AS len
        |ORDER BY len, name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(rows.toSeq == Seq(
      ("Bob", Seq(1L, 2L), Seq(10L)),
      ("Carol", Seq(1L, 3L), Seq(12L)),
      ("Carol", Seq(1L, 2L, 3L), Seq(10L, 11L)),
      ("Dave", Seq(1L, 3L, 4L), Seq(12L, 13L))))
  }

  test("RETURN p materializes the path as a {nodes, rels, length} struct") {
    val rows = run(
      """MATCH p = (a:Person {name: 'Bob'})-[:KNOWS]->(c)
        |RETURN p""".stripMargin).collect()
    assert(rows.length == 1)
    val p = rows.head.getStruct(0)
    assert(p.getSeq[Long](p.fieldIndex("nodes")) == Seq(2L, 3L))
    assert(p.getSeq[Long](p.fieldIndex("rels")) == Seq(11L))
    assert(p.getInt(p.fieldIndex("length")) == 1)
  }

  test("WITH passes a named path through; accessors still work after") {
    val rows = run(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b)
        |WITH p, b
        |WHERE b.age < 30
        |RETURN nodes(p) AS ns, length(p) AS len""".stripMargin)
      .collect().map(r => (r.getSeq[Long](0), r.getInt(1)))
    assert(rows.toSeq == Seq((Seq(1L, 2L), 1)))
  }

  test("mixed named path: fixed hop then var-length hop concatenates in order") {
    val rows = run(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b {name: 'Bob'})-[:KNOWS*1..2]->(x)
        |RETURN x.name AS name, nodes(p) AS ns, relationships(p) AS rels
        |ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(rows.toSeq == Seq(
      ("Carol", Seq(1L, 2L, 3L), Seq(10L, 11L)),
      ("Dave", Seq(1L, 2L, 3L, 4L), Seq(10L, 11L, 13L))))
  }

  // Per-step WHERE inside var-length patterns (Cypher 5 inline form;
  // reference VarLengthExpandPipe relationship predicate): every traversed
  // rel must satisfy it. KNOWS edges: 10(1→2 @2015) 11(2→3 @2018)
  // 12(1→3 @2020) 13(3→4 @2021).
  test("var-length per-step WHERE prunes every traversal step") {
    val rows = run(
      """MATCH (a:Person {name: 'Alice'})-[rs:KNOWS*1..2 WHERE rs.since >= 2018]->(x)
        |RETURN x.name AS name, size(rs) AS depth ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // edge 10 (2015) is pruned, so Bob is unreachable; Carol via 12, Dave on
    assert(rows.toSeq == Seq(("Carol", 1), ("Dave", 2)))
  }

  test("shortestPath per-step WHERE forces the detour, not the pruned direct edge") {
    val rows = run(
      """MATCH p = shortestPath((a:Person {name: 'Alice'})-[r:KNOWS*..4 WHERE r.since < 2020]->(x))
        |RETURN x.name AS name, length(p) AS hops ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // direct Alice→Carol (edge 12 @2020) is pruned: Carol now costs 2 hops
    // via Bob; Dave is unreachable (edge 13 @2021)
    assert(rows.toSeq == Seq(("Bob", 1), ("Carol", 2)))
  }

  test("named-path var-length per-step WHERE runs through Trail") {
    val rows = run(
      """MATCH p = (a:Person {name: 'Alice'})-[rs:KNOWS*1..3 WHERE rs.since >= 2018]->(x)
        |RETURN x.name AS name, relationships(p) AS rels ORDER BY name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(rows.toSeq == Seq(("Carol", Seq(12L)), ("Dave", Seq(12L, 13L))))
  }

  test("undirected var-length per-step WHERE filters both orientations") {
    val rows = run(
      """MATCH (b:Person {name: 'Bob'})-[rs:KNOWS*1..1 WHERE rs.since >= 2018]-(x)
        |RETURN x.name AS name ORDER BY name""".stripMargin)
      .collect().map(_.getString(0))
    // edge 11 (2→3 @2018) passes in the out direction; edge 10 (@2015)
    // would have reached Alice but is pruned
    assert(rows.toSeq == Seq("Carol"))
  }

  test("per-step WHERE may only reference the rel variable itself") {
    val e = intercept[IllegalArgumentException] {
      run("""MATCH (a:Person)-[rs:KNOWS*1..2 WHERE rs.since > a.age]->(x)
            |RETURN x.name AS name""".stripMargin).collect()
    }
    assert(e.getMessage.contains("only the relationship variable"))
  }

  private lazy val selfLoop = GraphFixtures.graph(spark, Seq((0L, Seq("N"), "n0")),
    Seq((100L, 0L, 0L, "T")))

  test("an undirected hop matches a self-loop once") {
    val rows = Cypher.run(spark, selfLoop, "MATCH ()-[r]-() RETURN type(r) AS t")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("T"))
  }

  test("an undirected var-length pattern matches a self-loop once") {
    val rows = Cypher.run(spark, selfLoop,
      "MATCH (a)-[rs*1..1]-(b) RETURN size(rs) AS n").collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(1))
  }
}
