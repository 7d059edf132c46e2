package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory with the engine's baseline configuration (BASELINE.md):
  * AQE on, shuffle partitions sized to local cores (not 200), UTC, and
  * nanos-as-long so the driver's `events` table (TIMESTAMP(NANOS) parquet,
  * which Spark has no native type for) is readable. */
object GraftSession {
  def builder(master: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // SIZE-based AQE coalescing (guide §2.2 "fewer, larger reduce
      // partitions"): the default parallelismFirst=true keeps ~one
      // post-shuffle partition per core however tiny the data, so every
      // stage of a small shuffle schedules `cpus` near-empty tasks.
      // The advisory size is SCALE-ADAPTIVE (guide §2: derive partitioning
      // from the deployment, not a constant tuned for one mode): local[...]
      // masters — single-box data volumes where per-row compute, not
      // partition bytes, is the cost — get 2m (A/B'd r15: 64m serialized
      // the compute-dense small-byte stages, q_node_similarity 3x slower);
      // any non-local master gets the scale-safe 64m (2m at cluster scale
      // would be a partition-count explosion).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        if (master.startsWith("local")) "2m" else "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Kryo for RDD shuffle/broadcast data (guide §2.3 — shuffle fewer
      // bytes, cheaper per-record serialization): the iterative RDD ops
      // (pageRank family, listRanks, components) shuffle (Long, (Long,
      // Double))-shaped tuples every round; the JavaSerializer default
      // pays ObjectInputStream reflection per record and was the top
      // stack in the r16 full-suite profile. SQL exchanges use Spark's
      // Unsafe row format either way; this only upgrades the RDD paths.
      .config("spark.serializer",
        "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      // the status listeners run even with the UI off; default retention
      // (1000 executions / jobs / stages, each with a full metrics graph)
      // accumulates real heap across a 166-query bench JVM — cap it
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      // Spark's codegen cache keeps 100 classes by default; one block of
      // the 8 tpch_read templates compiles ~260, so every template's
      // classes were evicted before it ran again. 2000 holds the workload.
      // A static conf: JVM-wide, read once when codegen is first used.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // engine extensions: native expressions (unicode_normalize, …),
      // filter constants the generated code reads by reference, and no
      // physical plan for a Cypher plan template's unbound parameters
      .withExtensions(graft.functions.expressions.NormalizeUnicode.inject)
      .withExtensions(graft.functions.expressions.IntArrayMaxAgg.inject)
      .withExtensions(graft.functions.expressions.ReferencedLiteral.inject)
      .withExtensions(graft.functions.expressions.ParamSlot.inject)

  /** events.ts read under nanosAsLong is LONG nanos → TimestampType (µs).
    * Integer division (`div`), not `/`: epoch nanos exceed double's 2^53
    * exact range, so float division could be ±1µs off vs DuckDB. */
  def nanosToTimestamp(tsNanos: Column): Column =
    timestamp_micros((tsNanos.cast("decimal(20,0)") / lit(1000)).cast("long"))

  /** Normalize an event-time column to TimestampType whatever physical type
    * the driver generated this round: TIMESTAMP(NANOS) parquet arrives as
    * LONG nanos (under nanosAsLong), tz-naive TIMESTAMP(MICROS) arrives as
    * TIMESTAMP_NTZ (session timezone is UTC, so the cast is
    * value-preserving), native TIMESTAMP passes through. */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType         => df.withColumn(c, nanosToTimestamp(col(c)))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }
}
