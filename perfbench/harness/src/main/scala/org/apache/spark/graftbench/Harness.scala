package org.apache.spark.graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.Caches

/** One benchmark run in one JVM.
  *
  * Usage: Harness <workload> <workDir> <seconds> <trace 0|1> <warmupOps> <minTimedOps> <cpus>
  *
  * `workDir/in/op_NNN/` holds each operation's inputs, made by `gen.py`
  * before this JVM starts. Warm-up operations take the first
  * indices; timed operations follow while fewer than `seconds` have passed
  * or fewer than `minTimedOps` have run, until the inputs run out.
  * Outputs for the checker go to `workDir/out/`, the run's figures to
  * `workDir/result.json` and, traced, spans to `workDir/trace.json`.
  */
object Harness {

  /** The closed-loop client's fixed mix, in pass order: eight of the
    * star-schema queries, the two `graft.plans` rules and five of the
    * reference-DAG composites. */
  val queryMix: Seq[String] = Seq(
    "q1_revenue_agg", "q3_shipping_priority", "q5_local_supplier", "q6_forecast",
    "q9_profit_shape", "q13_custdist", "q18_large_orders", "q21_waiting_supplier",
    "r4_range_join_binned", "r8_topk_grouped",
    "dag_etl_clean", "dag_complex_union_gate", "dag_kafka_validate_enrich_upsert",
    "l5_upsert_last_wins", "a4_dlq_routing")

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsS, traceS, warmupArg, minTimedArg, cpus) = args
    val seconds = secondsS.toDouble
    val tr = new Tracer(traceS == "1")
    val warmups = warmupArg.toInt
    val minTimed = minTimedArg.toInt
    val stealStart = Jvm.stealTicks

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(e => new graft.functions.GraftExtensions()(e))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tr.install(spark)

    val inputs = new File(s"$work/in").listFiles().filter(_.getName.startsWith("op_"))
      .map(_.getPath).sorted.toSeq
    val wl: Workload = workload match {
      case "query_mix" => new QueryMix(spark, tr, work)
      case "ingest" => new Ingest(spark, tr, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tBoot = System.nanoTime()
    tr.op = -2
    tr.span("setup.bootstrap")(wl.bootstrap())
    val bootstrapS = (System.nanoTime() - tBoot) / 1e9

    def release(): Unit = {
      Caches.releaseScoped()
      spark.catalog.clearCache()
    }

    val tWarm = System.nanoTime()
    inputs.take(warmups).zipWithIndex.foreach { case (dir, i) =>
      tr.op = -1
      tr.span("setup.warmup")(wl.op(i, dir, timed = false))
      release()
    }
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    // ---- the timed window ----
    val stealWindowStart = Jvm.stealTicks
    val loadStart = Jvm.loadAvg1
    val firstOpEpochMs = System.currentTimeMillis()
    val windowStart = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    val timed = inputs.drop(warmups).iterator.zipWithIndex
    while (timed.hasNext &&
      (ops.size < minTimed || (System.nanoTime() - windowStart) / 1e9 < seconds)) {
      val (dir, j) = timed.next()
      val i = warmups + j
      tr.op = i
      tr.drain(spark.sparkContext)
      tr.reset()
      val gc0 = Jvm.gcS; val jit0 = Jvm.jitS; val cg0 = Jvm.codegenCompiles
      val thr0 = Jvm.threadCpuS
      val cpu0 = Jvm.processCpuS
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      wl.op(i, dir, timed = true)
      release()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Jvm.processCpuS - cpu0
      val t1Ms = System.currentTimeMillis()
      val m = mutable.Map[String, Double]("wall_s" -> wall, "cpu_s" -> cpu)
      if (tr.enabled) {
        tr.drain(spark.sparkContext)
        val (c, jobs) = tr.snapshot()
        m ++= c
        m("driver.cpu_s") = Jvm.threadCpuS - thr0
        m("driver.no_job_s") = tr.noJobSeconds(t0Ms, t1Ms, jobs)
        m("jvm.gc_s") = Jvm.gcS - gc0
        m("jvm.jit_s") = Jvm.jitS - jit0
        m("codegen.compiles") = (Jvm.codegenCompiles - cg0).toDouble
        m ++= wl.layerMetrics(i)
        tr.spans.iterator.filter(_.op == i).map(_.name).toSet
          .foreach((n: String) => m(n + "_s") = tr.spanSeconds(i, n))
      }
      ops += m.toMap
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val stealWindow = Jvm.stealTicks - stealWindowStart
    val loadEnd = Jvm.loadAvg1

    // ---- outputs for the checker (untimed) ----
    new File(s"$work/out").mkdirs()
    wl.writeOutputs(s"$work/out")
    val peakRss = Jvm.peakRssMb
    if (tr.enabled) tr.writeJson(s"$work/trace.json")

    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val json =
      s"""{"first_op_epoch_ms": $firstOpEpochMs, "bootstrap_s": ${num(bootstrapS)},
         |"warmup_s": ${num(warmupS)}, "warmup_ops": ${math.min(warmups, inputs.size)},
         |"window_s": ${num(windowS)}, "attempted": ${wl.attempted}, "failed": ${wl.failed},
         |"failures": [${wl.failures.distinct.map(Json.q).mkString(", ")}],
         |"peak_rss_mb": ${num(peakRss)}, "steal_setup_ticks": ${stealWindowStart - stealStart},
         |"steal_window_ticks": $stealWindow, "load_start": $loadStart, "load_end": $loadEnd,
         |"ops": [${ops.map(obj).mkString(",\n")}]}
         |""".stripMargin
    Files.writeString(Paths.get(s"$work/result.json"), json)
    spark.stop()
  }
}

/** A workload: its unit of work is [[op]], run on `dir`'s fresh inputs. */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val work: String) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Results kept for the checker: (relative out path, schema, rows). */
  protected val kept = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]

  def bootstrap(): Unit = ()
  def op(i: Int, dir: String, timed: Boolean): Unit
  /** Per-operation layer metrics that are not spans or listener counters. */
  def layerMetrics(i: Int): Map[String, Double] = Map.empty

  def writeOutputs(out: String): Unit = kept.foreach { case (rel, schema, rows) =>
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/$rel")
  }

  protected def opName(i: Int): String = f"op_$i%03d"
}

/** One pass of a single closed-loop client over [[Harness.queryMix]]. */
final class QueryMix(s: SparkSession, t: Tracer, w: String) extends Workload(s, t, w) {
  def op(i: Int, dir: String, timed: Boolean): Unit = Harness.queryMix.foreach { key =>
    if (timed) attempted += 1
    try {
      val (schema, rows) = tr.span(s"query.$key") {
        val df = SparkEntry.queries(key)(spark, dir)
        (df.schema, df.collect())
      }
      if (timed) kept += ((s"${opName(i)}/$key", schema, rows))
    } catch {
      case e: Exception =>
        if (timed) { failed += 1; failures += s"$key: ${e.getClass.getSimpleName}" }
    }
  }

  override def writeOutputs(out: String): Unit = {
    super.writeOutputs(out)
    val sql = Harness.queryMix.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Json.writeStringMap(s"$out/oracle_sql.json", sql)
  }
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeStringMap(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}\n"))
}
