package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.cypher.Cypher
import graft.graph.{PropertyGraph, TpchGraph}
import graft.ops.{Bfs, Centrality, Ranking, Walks}

/**
 * The benchmark's JVM program. Reads one JSON config written by `run.py` (the workload,
 * its generated inputs, the run length), calls graft's public API the way a
 * client would, and writes raw timings and outputs to `<out_dir>/result.json`
 * for `run.py` to check and summarize. One closed-loop client: each request
 * starts when the previous one has returned.
 *
 * Phases of a run: set-up (repeated `setup_reps` times, each in a fresh
 * SparkSession; the last one is kept), the cold phase (the first call of
 * each template or operator), then the timed window (at least two whole blocks or passes, more until
 * `seconds` of window time have been spent). Outputs go to the result for
 * the reference checks, which run after the JVM has exited.
 */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Req(id: Long, template: String, text: String,
      params: Map[String, Any])

  private def params(n: JsonNode): Map[String, Any] =
    n.elements().asScala.map { p =>
      val name = p.get(0).asText
      name -> (p.get(1).asText match {
        case "long"   => p.get(2).asLong: Any
        case "double" => p.get(2).asDouble: Any
        case _        => p.get(2).asText: Any
      })
    }.toMap

  private def req(n: JsonNode): Req = Req(
    n.get("id").asLong, n.get("template").asText, n.get("text").asText,
    params(n.get("params")))

  private def jsonValue(v: Any): Any = v match {
    case null                   => null
    case x: java.lang.Long      => x
    case x: java.lang.Integer   => x.toLong
    case x: java.lang.Double    => x
    case x: java.lang.Float     => x.toDouble
    case x: java.lang.Boolean   => x
    case x: String              => x
    case x: scala.collection.Seq[_] => x.map(jsonValue)
    case x                      => x.toString
  }
  private def rows(rs: Array[Row]): Seq[Seq[Any]] =
    rs.toSeq.map(_.toSeq.map(jsonValue))

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val workload = cfg.get("workload").asText
    val out = cfg.get("out_dir").asText
    val seconds = cfg.get("seconds").asDouble
    val traced = cfg.get("trace").asBoolean
    val cores = cfg.get("cores").asInt
    val reps = cfg.get("setup_reps").asInt
    val result = mutable.LinkedHashMap.empty[String, Any]

    def session(): SparkSession = {
      val s = GraftSession.builder(s"local[$cores]", cores.toString)
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up, repeated; the last session and inputs are kept ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    val loadS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var setupState: Any = null
    for (rep <- 1 to reps) {
      if (spark != null) {
        setupState match {
          case e: DataFrame => e.unpersist(blocking = true)
          case _            =>
        }
        Cypher.clearCaches()
        TpchGraph.clearMemo()
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = session()
      val (state, load) = workload match {
        case "rmat_analytics" => Rmat.setup(spark, cfg.get("rmat"))
        case _                => Tpch.setup(spark, cfg.get("data_dir").asText,
          cfg.get("warmup").asText)
      }
      setupState = state
      setupS += (System.nanoTime() - t0) / 1e9
      loadS += load
    }
    result("setup_s") = setupS.toSeq
    result("graph_load_s") = loadS.toSeq

    val probe = if (traced) Some(new Probe(spark)) else None
    val run = new Runner(spark, probe)
    workload match {
      case "tpch_read" =>
        Tpch.read(run, setupState.asInstanceOf[PropertyGraph],
          cfg.get("cold").elements().asScala.map(req).toSeq,
          cfg.get("requests").elements().asScala.map(req).toSeq,
          seconds, result)
      case "rmat_analytics" =>
        Rmat.run(run, setupState.asInstanceOf[DataFrame], cfg.get("rmat"),
          seconds, s"$out/verify", result)
      case w => sys.error(s"unknown workload $w")
    }
    result("requests") = run.records.toSeq
    probe.foreach { p =>
      p.close()
      result("trace_overhead_s") = p.overheadS
      val w = Files.newBufferedWriter(Paths.get(s"$out/spans.jsonl"))
      try p.spans.foreach { s => w.write(mapper.writeValueAsString(s)); w.newLine() }
      finally w.close()
    }
    Files.writeString(Paths.get(s"$out/result.json"),
      mapper.writeValueAsString(result))
    spark.stop()
  }

  /** Times requests, counts window time, and records one entry per request. */
  final class Runner(val spark: SparkSession, val probe: Option[Probe]) {
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var windowNs = 0L
    def windowS: Double = windowNs / 1e9

    def span[A](req: Long, name: String)(f: => A): A = probe match {
      case Some(p) => p.span(req, name)(f)
      case None    => f
    }

    /** Run one request; `body` returns extra fields (outputs) to record.
      * Requests of the "window" phase count toward window time. */
    def request(id: Long, template: String, phase: String)(
        body: => Map[String, Any]): Unit = {
      val mark = probe.map(_.begin(id))
      val t0 = System.nanoTime()
      val (ok, extra) =
        try (true, span(id, "request")(body))
        catch { case e: Throwable =>
          (false, Map[String, Any]("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500)))
        }
      val ns = System.nanoTime() - t0
      if (phase == "window") windowNs += ns
      val layers = (probe zip mark).headOption
        .map { case (p, m) => p.end(id, m) }.getOrElse(Map.empty)
      records += (Map[String, Any]("id" -> id, "template" -> template,
        "phase" -> phase, "latency_s" -> ns / 1e9, "ok" -> ok) ++ extra ++
        (if (layers.isEmpty) Map.empty else Map("layers" -> layers)))
    }
  }

  /** Heap in use after full collections: what the run leaves live. Taken
    * after the window's first block (pass), between requests and outside
    * window time, so it reflects a fixed amount of work: the heap grows
    * with every distinct query the plan cache keeps, and a window's length
    * in blocks depends on the speed of the machine. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    // Spark's ContextCleaner frees the blocks of collected RDDs and
    // broadcasts asynchronously: give it time between collections
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The timed window: whole blocks of `block` requests (one per template),
    * at least two, then more while window time is below `seconds`, so every
    * window has the same template mix. Returns the live heap after the first
    * block. */
  def window(run: Runner, reqs: Seq[Req], block: Int, seconds: Double)(
      one: Req => Unit): Double = {
    var heap = 0.0
    for ((b, i) <- reqs.grouped(block).zipWithIndex
         .takeWhile { case (_, i) => i < 2 || run.windowS < seconds }) {
      b.foreach(one)
      if (i == 0) heap = liveHeapMb()
    }
    heap
  }

  object Tpch {
    def setup(spark: SparkSession, dir: String, warmup: String)
        : (PropertyGraph, Double) = {
      val t0 = System.nanoTime()
      val g = TpchGraph.load(spark, dir)
      val load = (System.nanoTime() - t0) / 1e9
      Cypher.run(spark, g, warmup).collect()
      (g, load)
    }

    def read(run: Runner, g: PropertyGraph, cold: Seq[Req], reqs: Seq[Req],
        seconds: Double, result: mutable.Map[String, Any]): Unit = {
      val spark = run.spark
      // the client reads its rows: collect() evaluates every output column
      // like a noop write, and the rows are what the DuckDB twin checks
      def one(r: Req, phase: String): Unit =
        run.request(r.id, r.template, phase) {
          run.span(r.id, "cypher.parse")(Cypher.parse(r.text))
          val df = run.span(r.id, "cypher.plan")(Cypher.run(spark, g, r.text, r.params))
          Map("rows" -> rows(run.span(r.id, "cypher.execute")(df.collect())))
        }
      cold.foreach(one(_, "cold"))
      val hits0 = Cypher.planCacheHits
      result("live_heap_mb") = window(run, reqs, cold.size, seconds)(one(_, "window"))
      result("window_s") = run.windowS
      result("plan_cache_hits") = Cypher.planCacheHits - hits0
    }
  }

  object Rmat {
    def setup(spark: SparkSession, c: JsonNode): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      val e = Walks.rmatEdges(spark, c.get("scale").asInt, c.get("edges").asLong,
          c.get("seed").asLong, c.get("a").asDouble, c.get("b").asDouble,
          c.get("c").asDouble)
        .filter(col("src") =!= col("dst")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      (e, (System.nanoTime() - t0) / 1e9)
    }

    def run(run: Runner, e: DataFrame, c: JsonNode, seconds: Double,
        verifyDir: String, result: mutable.Map[String, Any]): Unit = {
      val spark = run.spark
      val seed = c.get("seed").asLong
      // BFS sources: a seeded choice among nodes with an out-edge
      val sources = e.select(col("src")).distinct()
        .orderBy(xxhash64(col("src"), lit(seed)), col("src"))
        .limit(c.get("bfs_sources").asInt).collect().map(_.getLong(0)).toSeq
      val srcDf = spark.createDataFrame(sources.map(Tuple1(_))).toDF("source")
      val depth = c.get("bfs_depth").asInt
      val iters = c.get("pagerank_iterations").asInt
      val topK = c.get("similarity_topk").asInt
      val ops: Seq[(String, () => DataFrame)] = Seq(
        "bfs" -> (() => Bfs.distances(e, srcDf, depth)),
        "pagerank" -> (() => Ranking.pageRank(e, iters)),
        // threshold 0: the distributed branch at any graph size
        "cc" -> (() => Bfs.connectedComponents(e, localEdgeThreshold = 0)),
        "triangles" -> (() => Ranking.triangleCounts(e)),
        "similarity" -> (() => Centrality.nodeSimilarity(e, topK)))
      // The first pass is each operator's first call in the JVM (the cold
      // phase); then whole window passes, at least two, more while window
      // time is below `seconds`. A call is forced by writing its output as
      // Parquet, which the reference check reads.
      var pass = 0
      var id = 0L
      while (pass < 3 || run.windowS < seconds) {
        pass += 1
        for ((op, build) <- ops) {
          id += 1
          run.request(id, op, if (pass == 1) "cold" else "window") {
            val df = run.span(id, s"ops.$op.build")(build())
            run.span(id, s"ops.$op.force")(
              df.write.mode("overwrite").parquet(s"$verifyDir/$op"))
            Map.empty
          }
        }
        if (pass == 2) result("live_heap_mb") = liveHeapMb()
      }
      result("window_s") = run.windowS
      result("passes") = pass
      result("sources") = sources
      e.write.mode("overwrite").parquet(s"$verifyDir/edges")
    }
  }
}
