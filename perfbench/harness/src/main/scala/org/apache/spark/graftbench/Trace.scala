package org.apache.spark.graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read at operation boundaries: they cost a few
  * JMX reads, so untraced runs take them too (process CPU is an
  * end-to-end metric).
  */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def processCpuS: Double = os.getProcessCpuTime / 1e9
  def threadCpuS: Double = threads.getCurrentThreadCpuTime / 1e9
  def gcS: Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this process in MB (`VmHWM`). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Stolen CPU ticks, summed over all CPUs (`/proc/stat`). */
  def stealTicks: Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
    finally src.close()
  }

  def loadAvg1: Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }
}

/** One traced call into a layer: name, wall interval and parent span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

/** The traced run's recorder. Spans and counters stay in memory and are
  * written to one file when the run ends. With `enabled = false` every
  * span is a plain call and no listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, op, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Seconds spent in spans of `name` during operation `opIdx`. */
  def spanSeconds(opIdx: Int, name: String): Double =
    spans.iterator.filter(s => s.op == opIdx && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  // ---- listener-fed counters, reset at each operation start ----
  private val lock = new Object
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = lock.synchronized { counters(k) += v }

  def reset(): Unit = lock.synchronized { counters.clear(); jobIntervals.clear() }

  /** (counters, job intervals in epoch ms) since the last reset. */
  def snapshot(): (Map[String, Double], Seq[(Long, Long)]) =
    lock.synchronized { (counters.toMap, jobIntervals.toList) }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        jobStarts(e.jobId) = e.time
        counters("sched.jobs") += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobStarts.remove(e.jobId).foreach(st => jobIntervals += ((st, e.time)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("sched.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        lock.synchronized {
          counters("sched.tasks") += 1
          if (m != null) {
            counters("exec.task_cpu_s") += m.executorCpuTime / 1e9
            counters("exec.task_run_s") += m.executorRunTime / 1e3
            counters("exec.task_gc_s") += m.jvmGCTime / 1e3
            counters("exec.input_mb") += m.inputMetrics.bytesRead / 1e6
            counters("exec.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
            counters("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
            counters("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
            counters("exec.output_mb") += m.outputMetrics.bytesWritten / 1e6
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit = {
        val p = qe.tracker.phases
        lock.synchronized {
          p.get("analysis").foreach(s => counters("catalyst.analysis_s") += s.durationMs / 1e3)
          p.get("optimization").foreach(s => counters("catalyst.optimization_s") += s.durationMs / 1e3)
          p.get("planning").foreach(s => counters("catalyst.planning_s") += s.durationMs / 1e3)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        lock.synchronized {
          counters("streaming.add_batch_s") += ms("addBatch")
          counters("streaming.wal_commit_s") += ms("walCommit")
          counters("streaming.commit_offsets_s") += ms("commitOffsets")
          counters("streaming.query_planning_s") += ms("queryPlanning")
        }
      }
    })
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = if (enabled) sc.listenerBus.waitUntilEmpty()

  /** Seconds of [startMs, endMs] during which no Spark job was running. */
  def noJobSeconds(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (endMs - startMs) - covered) / 1e3
  }

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("{\"spans\": [")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    }
    sb.append("]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
