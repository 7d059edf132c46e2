package graft.queries

import graft.functions.{Durations, Spatial}
import graft.sources.LoadCsv
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Value-type surface: the 4-field duration type, spatial points/distance,
 * unicode normalize() (native Expression via session extensions), LOAD CSV,
 * exact percentileDisc and one-pass fused percentiles. Every oracle
 * mirrors the exact component formulas in DuckDB.
 */
object TypeQueries {
  import QueryDef.t

  val defs: Seq[QueryDef] = Seq(

    // duration.between(first order, last order) per customer — whole
    // calendar months + leftover days, the reference's DurationValue
    // component semantics.
    QueryDef("q_duration_between",
      (s, d) => {
        val mm = t(s, d, "orders").groupBy(col("o_custkey").as("custkey"))
          .agg(min(col("o_orderdate")).as("a"), max(col("o_orderdate")).as("b"))
        val dur = Durations.betweenDates(col("a"), col("b"))
        mm.select(col("custkey"), dur.getField("months").as("months"),
          dur.getField("days").as("days"))
      },
      Some("""WITH mm AS (SELECT o_custkey AS custkey, min(o_orderdate) AS a,
             |    max(o_orderdate) AS b FROM orders GROUP BY o_custkey)
             |SELECT custkey,
             |  CAST(datediff('month', a, b)
             |    - CASE WHEN day(b) < day(a) THEN 1 ELSE 0 END AS BIGINT) AS months,
             |  CAST(datediff('day', a + to_months(CAST(datediff('month', a, b)
             |    - CASE WHEN day(b) < day(a) THEN 1 ELSE 0 END AS INT)), b) AS BIGINT) AS days
             |FROM mm""".stripMargin)),

    // ISO-8601 duration parsing + arithmetic + component-wise SUM aggregate
    // (duration-aware sum, SURVEY §2.5): per order priority, sum of
    // (shipdate-ready lag as days-duration scaled by 2).
    QueryDef("q_duration_sum",
      (s, d) => {
        val li = t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
        val base = li.join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"),
            Durations.times(Durations.inDays(col("o_orderdate"), col("l_shipdate")), lit(2)).as("dur"))
        base.groupBy(col("l_orderkey").as("okey"))
          .agg(Durations.sumDuration(col("dur")).as("total"))
          .select(col("okey"), col("total.days").as("days"))
      },
      Some("""SELECT l_orderkey AS okey,
             |  CAST(sum(2 * datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS days
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |WHERE l_orderkey < 2000 GROUP BY l_orderkey""".stripMargin)),

    // duration AVG aggregate — component-wise floored mean (SURVEY §2.5
    // duration-aware aggregation, reference AvgFunction duration path).
    QueryDef("q_duration_avg",
      (s, d) => {
        val li = t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
        val base = li.join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"),
            Durations.inDays(col("o_orderdate"), col("l_shipdate")).as("dur"))
        base.groupBy(col("l_orderkey").as("okey"))
          .agg(Durations.avgDuration(col("dur")).as("a"))
          .select(col("okey"), col("a.days").as("days"))
      },
      Some("""SELECT l_orderkey AS okey,
             |  CAST(floor(avg(datediff('day', o_orderdate, l_shipdate))) AS BIGINT) AS days
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |WHERE l_orderkey < 2000 GROUP BY l_orderkey""".stripMargin)),

    // spatial: deterministic WGS-84 points derived from customer keys,
    // haversine distance to the origin + cartesian bbox filter.
    QueryDef("q_spatial_distance",
      (s, d) => {
        val pts = t(s, d, "customer").select(col("c_custkey").as("key"),
          Spatial.geoPoint((col("c_custkey") % 360) - 180.0,
            (col("c_custkey") % 171) - 85.0).as("p"))
        val origin = Spatial.geoPoint(lit(0.0), lit(0.0))
        pts
          .filter(Spatial.withinBBox(col("p"),
            Spatial.geoPoint(lit(-90.0), lit(-60.0)), Spatial.geoPoint(lit(90.0), lit(60.0))))
          .select(col("key"), round(Spatial.distance(col("p"), origin), 2).as("dist_m"))
      },
      Some("""WITH pts AS (SELECT c_custkey AS key,
             |    CAST(c_custkey % 360 - 180 AS DOUBLE) AS x,
             |    CAST(c_custkey % 171 - 85 AS DOUBLE) AS y
             |  FROM customer)
             |SELECT key, round(2.0 * 6378140.0 * asin(sqrt(
             |    pow(sin(radians(0 - y) / 2), 2) +
             |    cos(radians(y)) * cos(radians(0.0)) * pow(sin(radians(0 - x) / 2), 2))), 2) AS dist_m
             |FROM pts
             |WHERE x BETWEEN -90 AND 90 AND y BETWEEN -60 AND 60""".stripMargin)),

    // unicode normalize(): NFC over text with a decomposed suffix
    // (e + COMBINING ACUTE) — native codegen'd Expression, injected via
    // SparkSessionExtensions; DuckDB nfc_normalize is the oracle.
    QueryDef("q_normalize_unicode",
      (s, d) => t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          md5(call_function("unicode_normalize",
            concat(substring(col("text"), 1, 40), lit("café")), lit("NFC"))).as("h")),
      Some("SELECT doc_id, md5(nfc_normalize(substr(text, 1, 40) || 'café')) AS h\n" +
        "FROM documents WHERE doc_id < 100")),

    // LOAD CSV roundtrip: nation → CSV (sorted) → LoadCsv with headers,
    // strings + linenumber() + file(), vs the nation table re-derived.
    QueryDef("q_load_csv",
      (s, d) => {
        val tmp = s"/tmp/graft_loadcsv_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
        t(s, d, "nation").orderBy(col("n_nationkey"))
          .select(col("n_nationkey"), col("n_name"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
        val file = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".csv")).head.getAbsolutePath
        LoadCsv.load(s, file, withHeaders = true)
          .select(col("n_nationkey").as("key_str"), col("n_name").as("name"),
            col("linenumber"))
      },
      Some("""SELECT CAST(n_nationkey AS VARCHAR) AS key_str, n_name AS name,
             |  CAST(row_number() OVER (ORDER BY n_nationkey) + 1 AS BIGINT) AS linenumber
             |FROM nation""".stripMargin)),

    // exact percentileDisc (smallest value with cumulative rank ≥ p) —
    // identical row-pick formula on both sides.
    QueryDef("q_percentile_disc",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
        val cw = Window.partitionBy(col("o_orderpriority"))
        t(s, d, "orders")
          .select(col("o_orderpriority").as("priority"), col("o_totalprice"),
            row_number().over(w).as("rn"), count(lit(1)).over(cw).as("n"))
          .filter(col("rn") === ceil(col("n") * 0.5).cast("long"))
          .select(col("priority"), col("o_totalprice").as("p50"))
      },
      Some("""WITH r AS (SELECT o_orderpriority AS priority, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
             |    count(*) OVER (PARTITION BY o_orderpriority) AS n
             |  FROM orders)
             |SELECT priority, o_totalprice AS p50 FROM r
             |WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)""".stripMargin)),

    // percentiles() fusion (reference percentiles() multi-in-one-pass,
    // SURVEY §2.5): three quartiles in ONE exact percentile aggregation.
    QueryDef("q_percentiles_fused",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
        .select(col("priority"),
          round(element_at(col("qs"), 1), 2).as("p25"),
          round(element_at(col("qs"), 2), 2).as("p50"),
          round(element_at(col("qs"), 3), 2).as("p75")),
      Some("""SELECT o_orderpriority AS priority,
             |  round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
             |  round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
             |  round(quantile_cont(o_totalprice, 0.75), 2) AS p75
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // procedure surface: db.labels() / db.relationshipTypes() names
    // (reference BuiltInProcedures — single-column results) joined with
    // their count-store cardinalities — the introspection a driver/UI calls.
    QueryDef("q_procedures_introspect",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        graft.functions.Procedures.call(s, g, "db.labels")
          .join(g.stats.labelCounts, Seq("label"))
          .select(col("label").as("name"), col("cnt"))
          .unionByName(graft.functions.Procedures.call(s, g, "db.relationshipTypes")
            .join(g.rels.groupBy(col("type").as("relationshipType"))
                .agg(count(lit(1)).as("cnt")), Seq("relationshipType"))
            .select(col("relationshipType").as("name"), col("cnt")))
      },
      Some("""SELECT 'Region' AS name, count(*) AS cnt FROM region
             |UNION ALL SELECT 'Nation', count(*) FROM nation
             |UNION ALL SELECT 'Customer', count(*) FROM customer
             |UNION ALL SELECT 'Supplier', count(*) FROM supplier
             |UNION ALL SELECT 'Part', count(*) FROM part
             |UNION ALL SELECT 'Order', count(*) FROM orders
             |UNION ALL SELECT 'IN_REGION', count(*) FROM nation
             |UNION ALL SELECT 'FROM', (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
             |UNION ALL SELECT 'PLACED', count(*) FROM orders
             |UNION ALL SELECT 'CONTAINS', count(*) FROM lineitem
             |UNION ALL SELECT 'SUPPLIED_BY', count(*) FROM lineitem""".stripMargin)),

    // db.schema.nodeTypeProperties / relTypeProperties (reference
    // BuiltInProcedures schema introspection): per (label/type, property)
    // the observed value type and mandatory flag, computed FROM DATA by
    // one wide aggregate — the oracle pins the expected catalog, so a
    // drift in type mapping, union-schema null handling, or property
    // presence breaks the hash.
    QueryDef("q_schema_type_props",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        graft.functions.Procedures.call(s, g, "db.schema.nodeTypeProperties")
          .select(col("nodeType").as("entity"), col("propertyName"),
            col("propertyTypes"), col("mandatory"))
          .unionByName(
            graft.functions.Procedures.call(s, g, "db.schema.relTypeProperties")
              .select(col("relType").as("entity"), col("propertyName"),
                col("propertyTypes"), col("mandatory")))
      },
      Some("""SELECT * FROM (VALUES
             |  (':`Customer`', 'acctbal', 'Double', true),
             |  (':`Customer`', 'key', 'Long', true),
             |  (':`Customer`', 'mktsegment', 'String', true),
             |  (':`Customer`', 'name', 'String', true),
             |  (':`Nation`', 'key', 'Long', true),
             |  (':`Nation`', 'name', 'String', true),
             |  (':`Order`', 'key', 'Long', true),
             |  (':`Order`', 'orderdate', 'LocalDateTime', true),
             |  (':`Order`', 'priority', 'String', true),
             |  (':`Order`', 'status', 'String', true),
             |  (':`Order`', 'totalprice', 'Double', true),
             |  (':`Part`', 'brand', 'String', true),
             |  (':`Part`', 'key', 'Long', true),
             |  (':`Part`', 'name', 'String', true),
             |  (':`Part`', 'psize', 'Long', true),
             |  (':`Part`', 'ptype', 'String', true),
             |  (':`Part`', 'retailprice', 'Double', true),
             |  (':`Region`', 'key', 'Long', true),
             |  (':`Region`', 'name', 'String', true),
             |  (':`Supplier`', 'acctbal', 'Double', true),
             |  (':`Supplier`', 'key', 'Long', true),
             |  (':`Supplier`', 'name', 'String', true),
             |  (':`CONTAINS`', 'discount', 'Double', true),
             |  (':`CONTAINS`', 'price', 'Double', true),
             |  (':`CONTAINS`', 'qty', 'Double', true),
             |  (':`CONTAINS`', 'shipdate', 'LocalDateTime', true),
             |  (':`CONTAINS`', 'tax', 'Double', true),
             |  (':`SUPPLIED_BY`', 'qty', 'Double', true)
             |) AS t(entity, propertyName, propertyTypes, mandatory)""".stripMargin)),

    // mixed-type COLUMN orderability (reference community/values AnyValues
    // global comparator): a CALL {} union of string / long / boolean
    // columns lifts into the orderability encoding, so min is the smallest
    // STRING and max the largest NUMBER (String < Boolean < Number), with
    // the outer aggregation running on the encoded column.
    QueryDef("q_mixed_order",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        graft.cypher.Cypher.run(s, g,
          """CALL { MATCH (c:Customer) WHERE c.key <= 5 RETURN c.name AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key <= 5 RETURN c.key * 10 AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key <= 4 RETURN c.key % 2 = 0 AS v }
            |RETURN toString(min(v)) AS lo, toString(max(v)) AS hi,
            |       count(*) AS n""".stripMargin)
      },
      Some("""SELECT
             |  (SELECT min(c_name) FROM customer WHERE c_custkey <= 5) AS lo,
             |  CAST((SELECT max(c_custkey * 10) FROM customer
             |        WHERE c_custkey <= 5) AS VARCHAR) AS hi,
             |  (SELECT count(*) FROM customer WHERE c_custkey <= 5)
             |    + (SELECT count(*) FROM customer WHERE c_custkey <= 5)
             |    + (SELECT count(*) FROM customer WHERE c_custkey <= 4) AS n""".stripMargin)),

    // LIST columns in the cross-type order (reference AnyValues: List rank
    // below String/Number; lists compare element-wise): min over a
    // list/string/number mixed column is the smallest LIST, max the
    // largest number. Keys 1..5 exist at every SF, so the extremes are the
    // closed-form literals the oracle states.
    QueryDef("q_mixed_order_list",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        graft.cypher.Cypher.run(s, g,
          """CALL { MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN [c.key, c.key * 2] AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN c.name AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN c.key AS v }
            |RETURN toString(min(v)) AS lo, toString(max(v)) AS hi,
            |       count(*) AS n""".stripMargin)
      },
      Some("""SELECT '[1, 2]' AS lo, '5' AS hi,
             |  CAST(3 * (SELECT count(*) FROM customer WHERE c_custkey BETWEEN 1 AND 5)
             |    AS BIGINT) AS n""".stripMargin)),

    // NESTED orderability (reference AnyValues total order incl. virtual
    // values): lists-of-lists compare element-wise recursively, maps rank
    // BELOW lists (Map < List < String < Number) and compare size → sorted
    // keys → values (MapValue.unsafeCompareTo). min over the five-way mix
    // is the smallest MAP, max the largest number — closed form since keys
    // 1..5 exist at every SF.
    QueryDef("q_mixed_order_nested",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        graft.cypher.Cypher.run(s, g,
          """CALL { MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN [[c.key], [c.key, 9]] AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN [c.key, c.key * 2] AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN {k: c.key} AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN c.name AS v
            |  UNION ALL MATCH (c:Customer) WHERE c.key >= 1 AND c.key <= 5 RETURN c.key AS v }
            |RETURN toString(min(v)) AS lo, toString(max(v)) AS hi,
            |       count(*) AS n""".stripMargin)
      },
      Some("""SELECT '{k: 1}' AS lo, '5' AS hi,
             |  CAST(5 * (SELECT count(*) FROM customer WHERE c_custkey BETWEEN 1 AND 5)
             |    AS BIGINT) AS n""".stripMargin))
  )
}
