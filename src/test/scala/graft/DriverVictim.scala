package graft

import org.apache.spark.sql.SparkSession

/** Subprocess side of ChaosSpec's DRIVER-kill tests (VERDICT r14 #2):
  * a separate driver JVM that runs exactly one maintenance entry — and
  * gets SIGKILLed by the parent mid-flight. Round 14 proved the stores
  * survive EXECUTOR loss; this is the remaining cluster failure mode:
  * the driver itself dies holding a generation fence / mid-staging /
  * mid-drain, and a FRESH driver (the test JVM) must reclaim the stale
  * fence and converge — complete-or-rebuild, hash-equal from scratch,
  * no torn generation.
  *
  * Protocol: prints `VICTIM-START` before the maintenance call and
  * `VICTIM-DONE` after it — the parent verifies the kill landed
  * in-flight by the absence of the DONE marker. The parent owns all
  * paths and corpus preparation; this main only runs the victim call.
  *
  * Modes:
  *   - `label <corpusDir> <storeDir>` — LabelStore.ensureCurrentIncremental
  *   - `ivf   <corpusDir> <storeDir>` — IvfStore.ensureCurrentIncremental
  *   - `drain <topicDir> <storeDir> <admittedDir> <checkpointDir>` —
  *     Streams.dedupAdmitDrain over a file-per-micro-batch topic
  *   - `dateingest <topicDir> <storeDir> <checkpointDir>` —
  *     DateStore.ingestSink over a file-per-micro-batch event topic
  *   - `bandcompact <storeDir> <k=v,k=v,...>` — BandStore
  *     .compactSliceIfNeeded under the given session confs (the parent
  *     passes the gauge threshold plus a failpoint sleep so the SIGKILL
  *     lands inside a chosen half-published window)
  */
object DriverVictim {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = Sessions.start(Sessions.recipe(
      SparkSession.builder().master("local[4]").appName("graft-driver-victim"), 4), "ERROR")
    println("VICTIM-START")
    mode match {
      case "label" =>
        val m = graft.operators.LabelStore.ensureCurrentIncremental(spark, args(1), args(2))
        println(s"VICTIM-DONE:$m")
      case "ivf" =>
        val m = graft.operators.IvfStore.ensureCurrentIncremental(spark, args(1), args(2))
        println(s"VICTIM-DONE:$m")
      case "drain" =>
        val Array(_, topic, store, admitted, ckpt) = args
        val src = spark.readStream.schema(Fixtures.docSchema)
          .option("maxFilesPerTrigger", "1").json(topic)
        graft.streaming.Streams.dedupAdmitDrain(src, store, admitted, ckpt)
        println("VICTIM-DONE")
      case "dateingest" =>
        val Array(_, topic, store, ckpt) = args
        val src = spark.readStream.schema(Fixtures.eventSchema)
          .option("maxFilesPerTrigger", "1").json(topic)
        graft.sources.DateStore.ingestSink(src, store, ckpt).awaitTermination()
        println("VICTIM-DONE")
      case "bandcompact" =>
        val Array(_, store, confs) = args
        confs.split(",").filter(_.nonEmpty).foreach { kv =>
          val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
        }
        val r = graft.streaming.BandStore.compactSliceIfNeeded(spark, store)
        println(s"VICTIM-DONE:$r")
      case other => sys.error(s"unknown victim mode: $other")
    }
    spark.stop()
  }
}
