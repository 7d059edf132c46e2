package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Spans of one request share `req`;
  * `parent` is the id of the enclosing span (-1 at the root). Times are
  * wall-clock microseconds since the epoch. */
final case class Span(req: Long, id: Int, parent: Int, name: String,
    startUs: Long, endUs: Long)

/** Counter readings taken when a request starts. */
final case class Mark(compileNs: Long, classes: Long, gc: Long)

/**
 * The traced run's instruments, all outside graft: spans around each layer
 * call made by the benchmark, a SparkListener for the `exec` layer (jobs are
 * tagged per request with setJobGroup), a QueryExecutionListener for the
 * Catalyst phases from `QueryExecution.tracker`, and deltas of Spark's
 * codegen counters, JVM GC time and persisted-block memory.
 *
 * Untraced runs never construct a Probe, so they run no listener.
 */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private def nowUs(ns: Long): Long = baseUs + (ns - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  /** client-thread time spent in the probe itself (bus drains, snapshots) */
  private var overheadNs = 0L

  def span[A](req: Long, name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(req, id, parent, name, nowUs(t0), nowUs(t1))
    }
  }

  // ---- exec layer: task and stage events of the current job group ----
  private final class Acc {
    var jobs, tasks, emptyTasks = 0L
    var runMs, delayMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var peakMem = 0L
    var skewWeighted, skewWeight = 0.0
    var analysisMs, optimizationMs, planningMs = 0L
  }
  @volatile private var group: String = ""
  private var acc = new Acc
  private val stageGroup = mutable.Map.empty[(Int, Int), String]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private val execListener = new SparkListener {
    private def mine(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (mine(e.properties)) acc.jobs += 1

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (mine(e.properties)) {
        val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        stageGroup(k) = group
        stageTaskMs(k) = mutable.ArrayBuffer.empty
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = (e.stageId, e.stageAttemptId)
      val m = e.taskMetrics
      if (stageGroup.get(k).contains(group) && m != null) {
        val a = acc
        val info = e.taskInfo
        a.tasks += 1
        a.runMs += m.executorRunTime
        stageTaskMs(k) += m.executorRunTime
        a.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        a.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
        a.shuffleWrite += sw.bytesWritten
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0 &&
            sw.recordsWritten == 0) a.emptyTasks += 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageGroup.remove(k)
      stageTaskMs.remove(k).foreach { ms =>
        if (ms.size >= 2) {
          val sorted = ms.sorted
          val median = sorted(sorted.size / 2).toDouble
          val total = ms.sum.toDouble
          if (median > 0 && total > 0) {
            acc.skewWeighted += sorted.last / median * total
            acc.skewWeight += total
          }
        }
      }
    }
  }

  // ---- catalyst layer: phase times of every executed query ----
  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      acc.analysisMs += ms("analysis")
      acc.optimizationMs += ms("optimization")
      acc.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  sc.addSparkListener(execListener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    sc.removeSparkListener(execListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Start attributing Spark events to request `req`. */
  def begin(req: Long): Mark = {
    val t0 = System.nanoTime()
    BenchBus.drain(sc)
    acc = new Acc
    group = s"req-$req"
    sc.setJobGroup(group, group)
    val m = Mark(CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, gcMs)
    overheadNs += System.nanoTime() - t0
    m
  }

  /** Finish request `req`: wait for its listener events, then return its
    * layer counters. */
  def end(req: Long, m: Mark): Map[String, Double] = {
    val t0 = System.nanoTime()
    BenchBus.drain(sc)
    sc.clearJobGroup()
    group = ""
    val a = acc
    val mb = 1024.0 * 1024.0
    val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val out = Map(
      "catalyst.analysis_s" -> a.analysisMs / 1e3,
      "catalyst.optimization_s" -> a.optimizationMs / 1e3,
      "catalyst.planning_s" -> a.planningMs / 1e3,
      "codegen.compile_s" -> (CodeGenerator.compileTime - m.compileNs) / 1e9,
      "codegen.classes" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - m.classes).toDouble,
      "exec.jobs" -> a.jobs.toDouble,
      "exec.tasks" -> a.tasks.toDouble,
      "exec.empty_tasks" -> a.emptyTasks.toDouble,
      "exec.task_run_s" -> a.runMs / 1e3,
      "exec.scheduler_delay_s" -> a.delayMs / 1e3,
      "exec.shuffle_write_mb" -> a.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> a.shuffleRead / mb,
      "exec.spill_mb" -> a.spill / mb,
      "exec.peak_exec_mem_mb" -> a.peakMem / mb,
      "exec.skew_weighted" -> a.skewWeighted,
      "exec.skew_weight" -> a.skewWeight,
      "storage.cached_mb" -> cachedBytes / mb,
      "jvm.gc_s" -> (gcMs - m.gc) / 1e3)
    overheadNs += System.nanoTime() - t0
    out
  }

  def overheadS: Double = overheadNs / 1e9
}
