package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Where a guarded graph operator runs: on the driver over rows it has
 * collected, or as distributed rounds. Every operator with a driver-local
 * fast path asks [[local]] for each input relation; the relation's
 * observed size picks the branch (the Pregelix shape — the physical plan
 * follows from sizes seen at run time, decided in one place).
 *
 * The probe reads at most `bound + 1` rows in ONE evaluation of the
 * relation (`limit(bound + 1).collect()`; Spark's incremental take may
 * split that evaluation over a few jobs on a many-partition input, but
 * never scans a partition twice) and the local branch works on exactly
 * those rows — the caller's subtree is never re-run to count and then
 * to collect. Past the bound the distributed branch runs unchanged. Probe
 * jobs and SQL executions carry the [[ProbeDescription]] job description.
 *
 * One bound per cost shape, each the value its operators were tuned to:
 *  - [[Walk]] — collect once, then one linear walk (components, SCC,
 *    coreness, topological layers, list ranking, earliest arrival,
 *    closeness, betweenness). Coreness, timed on deduplicated
 *    `Walks.rmatEdges` graphs (local[4] on 4 vCPUs, median of 3 warm
 *    calls, equal outputs): collect plus driver peel against the forced
 *    [[Rounds.step]] rounds —
 *    {{{
 *    edges     local    rounds
 *     45,686   0.24 s   1.12 s
 *    188,419   0.67 s   1.80 s
 *    769,311   3.29 s   2.56 s
 *    }}}
 *    so the local side stays below the bound;
 *  - [[RoundDp]] — round-iterated DPs whose frontier grows with
 *    sources × fan-out: the path-search family (SHORTEST k / GROUPS,
 *    shortestK, allShortestPaths, kCheapest), decided once in
 *    `TrailRdd.search`, which probes each segment's edges and boundary
 *    set, then the sources, and runs the same round step on the driver or
 *    as RDD rounds; A* and all-pairs. Raising it to 200k was measured
 *    7–20× slower on the 15k-edge sf0.1 Trail fixtures: past ~10k edges
 *    the distributed rounds win;
 *  - [[Louvain]] — the sequential greedy over a collected edge list;
 *  - [[BpeDict]] — the word dictionary of the BPE merge loop.
 *
 * `spark.graft.forceDistributed=true` — a session conf
 * (`spark.conf.set`), or `-Dspark.graft.forceDistributed=true` for a whole
 * JVM — sends every operator down its distributed branch without a probe
 * job. Specs run each guarded operator with it on and off, and the oracle
 * sweep runs under it to check the distributed branches on fixtures the
 * local side would otherwise absorb.
 */
object Placement {

  val ForceDistributed = "spark.graft.forceDistributed"

  val Walk = 200000
  val RoundDp = 10000
  val Louvain = 20000
  val BpeDict = 500000

  val ProbeDescription = "graft placement probe"

  def forced(spark: SparkSession): Boolean =
    spark.conf.getOption(ForceDistributed).exists(_.trim.equalsIgnoreCase("true"))

  /** Some(rows) when `df` has at most `bound` rows, else None; None without
    * a job when the bound is ≤ 0 or the distributed branch is forced. */
  def local(df: DataFrame, bound: Int): Option[Array[Row]] =
    if (bound <= 0 || forced(df.sparkSession)) None
    else {
      val sc = df.sparkSession.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$ProbeDescription (bound $bound)")
      val rows = try df.limit(bound + 1).collect()
        finally sc.setJobDescription(prev)
      if (rows.length <= bound) Some(rows) else None
    }
}
