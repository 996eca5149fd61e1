package org.apache.spark.graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Exact
import graft.operators.IvfStore
import graft.sources.DateStore
import graft.streaming.{BandStore, Streams}

/** Streaming ingest beside served reads.
  *
  * Set-up drains the base corpus (`in/base/`) through every sink, which
  * bootstraps each store. One operation appends its micro-batch to the
  * file-backed topics, drains it through the sinks one after another,
  * then serves a date rollup of the batch's days and an IVF probe.
  */
final class Ingest(s: SparkSession, t: Tracer, w: String) extends Workload(s, t, w) {
  private val root = s"$work/ingest"
  private def topic(name: String) = s"$root/topics/$name"
  private def store(name: String) = s"$root/stores/$name"
  private def ckpt(name: String) = s"$root/ckpt/$name"
  private val serve = s"$root/serve"
  private val storeNames = Seq("collection", "dates", "ivf", "bands", "admitted")
  private val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
  private var bandCompactS = 0.0
  private var inputBytes = 0L
  private var storeBytesBefore = 0L

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val vectorSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  override def bootstrap(): Unit = {
    // the compaction gauge fires at the second admitted batch: the first
    // operation after set-up compacts, set-up itself does not
    spark.conf.set(BandStore.CompactAfterBatchesConf, "2")
    Seq("events_json", "events", "vectors", "docs").foreach(n => new File(topic(n)).mkdirs())
    val base = s"$work/in/base"
    // the probe's queries: the base corpus's vectors 0..9
    spark.read.parquet(s"$base/vectors.parquet").filter(col("vec_id") < 10)
      .coalesce(1).write.parquet(s"$serve/embeddings.parquet")
    deliver(base, "base")
    drain()
    serveReads(base)
  }

  /** Appends one batch to every topic (write under a hidden name, then
    * rename, so a file source never lists a half-written file). */
  private def deliver(dir: String, tag: String): Unit = {
    def put(src: String, dest: String): Unit = {
      val tmp = Paths.get(s"$dest/.$tag.tmp")
      Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
      inputBytes += Files.size(tmp)
      Files.move(tmp, Paths.get(s"$dest/$tag${src.substring(src.lastIndexOf('.'))}"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    put(s"$dir/events.json", topic("events_json"))
    put(s"$dir/events.parquet", topic("events"))
    put(s"$dir/vectors.parquet", topic("vectors"))
    put(s"$dir/documents.parquet", topic("docs"))
    delivered += new File(dir).getName
  }

  /** Drains every topic through its sink, one sink after another. */
  private def drain(): Unit = {
    tr.span("streaming.upsert_drain") {
      Streams.upsertSink(Streams.transform(Streams.subscribe(spark, topic("events_json"))),
        "user_id", "event_id", store("collection"), ckpt("upsert")).awaitTermination()
    }
    tr.span("streaming.date_drain") {
      DateStore.ingestSink(spark.readStream.schema(eventSchema).parquet(topic("events")),
        store("dates"), ckpt("dates")).awaitTermination()
    }
    tr.span("streaming.ivf_drain") {
      IvfStore.ingestSinkVectors(spark.readStream.schema(vectorSchema).parquet(topic("vectors")),
        store("ivf"), ckpt("ivf")).awaitTermination()
    }
    tr.span("streaming.dedup_admit_drain") {
      bandCompactS = Streams.dedupAdmitDrain(
        spark.readStream.schema(docSchema).parquet(topic("docs")),
        store("bands"), store("admitted"), ckpt("bands")).getOrElse(0.0)
    }
  }

  def op(i: Int, dir: String, timed: Boolean): Unit = {
    if (timed) attempted += 1
    inputBytes = 0L
    storeBytesBefore = if (tr.enabled) Ingest.treeSize(storeNames.map(store))._1 else 0L
    try {
      deliver(dir, opName(i))
      drain()
      val (rollup, probe) = serveReads(dir)
      if (timed) {
        kept += ((s"${opName(i)}/rollup", rollup._1, rollup._2))
        kept += ((s"${opName(i)}/probe", probe._1, probe._2))
      }
    } catch {
      case e: Exception =>
        if (timed) { failed += 1; failures += s"ingest: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
  }

  /** The served reads, each collected: a rollup of the batch's days and
    * the IVF probe. */
  private def serveReads(dir: String) = {
    val days = spark.read.parquet(s"$dir/events.parquet")
      .select(to_date(col("ts")).as("d")).distinct().collect().map(_.getDate(0)).toSeq
    val rollup = tr.span("serve.date_rollup") {
      val df = dailyRollup(DateStore.readEvents(spark, store("dates"))
        .filter(col("event_date").isin(days: _*))).orderBy("event_date")
      (df.schema, df.collect())
    }
    val probe = tr.span("serve.ivf_probe") {
      val df = IvfStore.probe(spark, serve, store("ivf"))
      (df.schema, df.collect())
    }
    (rollup, probe)
  }

  private def dailyRollup(events: DataFrame): DataFrame =
    events.groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))

  override def layerMetrics(i: Int): Map[String, Double] = {
    val (bytes, files) = Ingest.treeSize(storeNames.map(store))
    Map("stores.band_compact_s" -> bandCompactS,
      "stores.write_mb_per_input_mb" -> (bytes - storeBytesBefore).toDouble / math.max(1L, inputBytes),
      "stores.disk_mb" -> bytes / 1e6, "stores.files" -> files.toDouble)
  }

  override def writeOutputs(out: String): Unit = {
    super.writeOutputs(out)
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    dump(spark.read.parquet(store("collection")).drop("__bucket"), "collection")
    dump(dailyRollup(DateStore.readEvents(spark, store("dates"))), "rollup_all")
    dump(graft.BenchAccess.ivfLiveIds(spark, store("ivf")), "ivf_ids")
    dump(spark.read.parquet(store("admitted")), "admitted")
    Files.writeString(Paths.get(s"$out/delivered.txt"), delivered.mkString("\n") + "\n")
  }
}

object Ingest {
  /** (bytes, regular files) under the given directories. */
  def treeSize(dirs: Seq[String]): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { bytes += f.length(); files += 1 }
    dirs.foreach(d => walk(new File(d)))
    (bytes, files)
  }
}
