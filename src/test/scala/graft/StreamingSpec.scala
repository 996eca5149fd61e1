package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.{BandStore, Streams}
import Fixtures.{doc, docSchema, dropLatestCommit}

/** Live Structured Streaming runs over a file-backed topic
  * (deterministic `Trigger.AvailableNow` micro-batches — SURVEY.md §5.2.5).
  */
class StreamingSpec extends SparkSpec {

  private def writeTopic(lines: Seq[String]): String = {
    val dir = tmpDir("topic")
    Files.writeString(Paths.get(s"$dir/part-0.json"), lines.mkString("\n"))
    dir
  }

  private def msg(id: Long, user: Long, typ: String, v: Double, k: Int): String =
    s"""{"event_id":$id,"user_id":$user,"event_type":"$typ","value":$v,"k":$k}"""

  test("T1/T2: AvailableNow drains the whole topic from earliest, then stops") {
    val topic = writeTopic(Seq(msg(0, 1, "click", 1.0, 5), msg(1, 2, "view", 2.0, 6)))
    val out = tmpDir("out")
    val q = Streams.drainAvailableNow(
      Streams.transform(Streams.subscribe(spark, topic)), out, tmpDir("ckpt"))
    q.awaitTermination(60000)
    val res = spark.read.parquet(out)
    assert(res.count() == 2)
    // T4: transform ran per record
    assert(res.select("event_type").collect().map(_.getString(0)).toSet == Set("CLICK", "VIEW"))
    assert(res.select("source").distinct().collect().head.getString(0) == "topic")
  }

  test("T3: checkpoint makes re-drain a no-op (exactly-once progress)") {
    val topic = writeTopic(Seq(msg(0, 1, "click", 1.0, 5)))
    val out = tmpDir("out")
    val ckpt = tmpDir("ckpt")
    val q1 = Streams.drainAvailableNow(Streams.subscribe(spark, topic), out, ckpt)
    q1.awaitTermination(60000)
    val q2 = Streams.drainAvailableNow(Streams.subscribe(spark, topic), out, ckpt)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 1) // offsets committed, no reprocess
  }

  test("T5: streaming upsert sink — last write per key wins; untouched buckets byte-identical") {
    val store = tmpDir("store")
    val topic1 = writeTopic(Seq(msg(10, 1, "a", 1.0, 1), msg(11, 1, "b", 2.0, 1), msg(12, 2, "c", 3.0, 1)))
    val q1 = Streams.upsertSink(Streams.subscribe(spark, topic1), "user_id", "event_id", store, tmpDir("ck1"))
    q1.awaitTermination(60000)

    // fingerprint every bucket-partition file (path -> sha256) after batch 1
    def fingerprint(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val base = Paths.get(store)
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.contains("__bucket="))
        .map { p =>
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
          base.relativize(p).toString -> sha
        }.toMap
    }
    val before = fingerprint()

    val topic2 = writeTopic(Seq(msg(13, 2, "d", 4.0, 1)))
    val q2 = Streams.upsertSink(Streams.subscribe(spark, topic2), "user_id", "event_id", store, tmpDir("ck2"))
    q2.awaitTermination(60000)

    val out = spark.read.parquet(store).orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).toSeq
    assert(out == Seq((1L, "b"), (2L, "d")))

    // dynamic partition overwrite: the only bucket batch 2 touched is
    // user 2's — every other bucket directory's files must be untouched
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit(2L)), lit(graft.sources.Sinks.UpsertBuckets)).cast("int"))
      .head.getInt(0)
    val after = fingerprint()
    val beforeUntouched = before.filterNot(_._1.contains(s"__bucket=$touched"))
    assert(beforeUntouched.nonEmpty, "batch 1 must have written at least one other bucket")
    assert(after.filterNot(_._1.contains(s"__bucket=$touched")) == beforeUntouched,
      "a micro-batch must not rewrite bucket partitions it does not touch")
  }

  test("T5: dedupKeyed keeps the first arrival per key, not per (key, event-time)") {
    val dir = tmpDir("dk")
    Files.writeString(Paths.get(s"$dir/e.json"), Seq(
      """{"event_id":0,"user_id":1,"event_type":"a","ts":"2024-01-01T00:00:00.000Z","value":1.0}""",
      """{"event_id":1,"user_id":1,"event_type":"b","ts":"2024-01-01T00:05:00.000Z","value":2.0}""",
      """{"event_id":2,"user_id":2,"event_type":"c","ts":"2024-01-01T00:10:00.000Z","value":3.0}""").mkString("\n"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val out = Streams.dedupKeyed(stream, "ts", "user_id", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dk")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT user_id, event_type FROM dk ORDER BY user_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // user 1 appears at two DIFFERENT event times — per-key dedup still
    // keeps only the first arrival (dropDuplicates(key, ts) would keep both)
    assert(rows == Seq((1L, "a"), (2L, "c")))
  }

  test("stream/batch parity: subscribe→validate→enrich→upsert equals the oracle-checked batch composite") {
    import graft.engine.Tables
    // the topic is produced by the engine's own producer sink from the
    // fixture, so the whole loop (produce → subscribe → validate →
    // enrich → keyed upsert) runs through engine code end to end
    val topic = tmpDir("paritytopic")
    val proj = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    graft.sources.Sinks.produceJson(proj, topic)
    val store = tmpDir("paritystore")
    val stream = Streams.subscribe(spark, topic)
      .filter(col("k").isNotNull && col("event_type").isNotNull && col("user_id").isNotNull)
      .withColumn("source", lit("jsonplaceholder_api"))
      .withColumn("data_status", lit("raw"))
    val q = Streams.upsertSink(stream, "user_id", "event_id", store, tmpDir("parityck"))
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3), r.getString(4), r.getString(5))
    val got = spark.read.parquet(store)
      .select(col("event_id"), col("user_id"), col("event_type"), col("k"),
        col("source"), col("data_status"))
      .orderBy("user_id").collect().map(key).toSeq
    val want = graft.operators.Dags.dagKafkaValidateEnrichUpsert(spark, sfDir)
      .collect().map(key).toSeq
    assert(got.nonEmpty && got == want,
      s"streaming store diverged from the batch composite (${got.length} vs ${want.length} rows)")
  }

  test("T11: streaming dedup admission — near-dups dropped vs the store and within a batch") {
    import org.apache.spark.sql.types._
    val topic = tmpDir("doctopic")
    val store = tmpDir("sigstore")
    val admitted = tmpDir("admitted")
    val ckpt = tmpDir("ckpt")
    def src() = spark.readStream.schema(docSchema).json(topic)
    val baseA = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearA = (1 to 50).map(i => if (i == 25) "zzz" else s"tok$i").mkString(" ")
    val baseB = (1 to 50).map(i => s"utok$i").mkString(" ")
    val nearB = (1 to 50).map(i => if (i == 25) "qqq" else s"utok$i").mkString(" ")
    val other = (1 to 50).map(i => s"w$i").mkString(" ")

    Files.writeString(Paths.get(s"$topic/b1.json"),
      Seq(doc(1, baseA), doc(2, other)).mkString("\n"))
    Streams.dedupAdmitSink(src(), store, admitted, ckpt).awaitTermination(60000)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))

    // batch 2: 3 ~ near-dup of stored 1 (dropped vs store); 5 ~ near-dup
    // of 4 (dropped within batch, min-id wins); 4 is new
    Files.writeString(Paths.get(s"$topic/b2.json"),
      Seq(doc(3, nearA), doc(4, baseB), doc(5, nearB)).mkString("\n"))
    Streams.dedupAdmitSink(src(), store, admitted, ckpt).awaitTermination(60000)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L))
    // the store carries exactly the admitted signatures for batch n+1
    assert(spark.read.parquet(BandStore.sigsDir(store)).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    assert(spark.read.parquet(BandStore.bandsDir(store)).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("T9: stream-static join enriches events with a broadcast dimension") {
    import spark.implicits._
    val topic = writeTopic(Seq(msg(0, 1, "click", 1.0, 5), msg(1, 2, "view", 2.0, 6)))
    val dim = Seq((1L, "gold"), (2L, "basic"), (3L, "unused")).toDF("user_id", "tier")
    val out = Streams.enrichWithStatic(Streams.subscribe(spark, topic), dim, "user_id")
    val q = out.writeStream.format("memory").queryName("t9")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT user_id, tier FROM t9 ORDER BY user_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "gold"), (2L, "basic")))
  }

  test("T10: watermarked stream-stream join matches purchases within 30min of a click") {
    val dir = tmpDir("ssj")
    def ev(id: Long, user: Long, typ: String, ts: String, v: Double) =
      s"""{"event_id":$id,"user_id":$user,"event_type":"$typ","ts":"$ts","value":$v}"""
    Files.writeString(Paths.get(s"$dir/e.json"), Seq(
      ev(0, 1, "click", "2024-01-01T00:00:00.000Z", 0.0),
      ev(1, 1, "purchase", "2024-01-01T00:10:00.000Z", 9.5), // within 30m → match
      ev(2, 1, "purchase", "2024-01-01T02:00:00.000Z", 4.0), // outside → no match
      ev(3, 2, "purchase", "2024-01-01T00:05:00.000Z", 7.0)  // no click → no match
    ).mkString("\n"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def src() = spark.readStream.schema(schema).json(dir)
    val out = Streams.clickPurchaseJoin(
      src().filter(col("event_type") === "click"),
      src().filter(col("event_type") === "purchase"))
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT click_id, purchase_id, purchase_value FROM ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((0L, 1L, 9.5)))
  }

  test("S5/L6: Kafka-native forms share the exact decode/encode stages with file-backed ones") {
    import spark.implicits._
    // decode: a binary Kafka value and a string file value produce the
    // same analyzed plan above the source — one shared decodeJsonValue
    val jsonMsg = """{"event_id":1,"user_id":2,"event_type":"c","value":1.5,"k":3}"""
    val fromString = Streams.decodeJsonValue(Seq(jsonMsg).toDF("value"))
    val fromBinary = Streams.decodeJsonValue(
      Seq(jsonMsg.getBytes("UTF-8")).toDF("value"))
    assert(fromString.schema == fromBinary.schema)
    assert(fromString.schema.fieldNames.toSeq ==
      Seq("event_id", "user_id", "event_type", "value", "k"))
    assert(fromBinary.collect().head.getAs[Long]("event_id") == 1L)
    // encode: the Kafka sink writes the same single value column the
    // file-backed topic carries
    val enc = graft.sources.Sinks.encodeJsonValue(Seq((1L, "x")).toDF("id", "name"))
    assert(enc.schema.fieldNames.toSeq == Seq("value"))
    assert(enc.collect().head.getString(0) == """{"id":1,"name":"x"}""")
  }

  test("S5: Kafka-native source fails fast (or plans identically) depending on the jar") {
    if (Streams.kafkaAvailable) {
      // with the connector present the Kafka form must analyze to the
      // same plan shape as the file-backed form modulo the source node
      val k = Streams.subscribeKafka(spark, "broker:9092", "events")
      val f = Streams.subscribe(spark, tmpDir("ktopic"))
      assert(k.schema == f.schema)
    } else {
      val err = intercept[IllegalArgumentException] {
        Streams.subscribeKafka(spark, "broker:9092", "events")
      }
      assert(err.getMessage.contains("spark-sql-kafka"))
      val err2 = intercept[IllegalArgumentException] {
        graft.sources.Sinks.produceJsonKafka(
          graft.engine.Tables.region(spark, sfDir), "broker:9092", "t")
      }
      assert(err2.getMessage.contains("spark-sql-kafka"))
    }
  }

  test("T7: watermarked tumbling window counts on a stream (memory sink)") {
    val dir = tmpDir("evts")
    // two events in hour 0, one in hour 1
    Files.writeString(Paths.get(s"$dir/e.json"), Seq(
      """{"event_id":0,"user_id":1,"event_type":"click","ts":"2024-01-01T00:10:00.000Z","value":1.0}""",
      """{"event_id":1,"user_id":2,"event_type":"click","ts":"2024-01-01T00:50:00.000Z","value":2.0}""",
      """{"event_id":2,"user_id":1,"event_type":"click","ts":"2024-01-01T01:10:00.000Z","value":3.0}""").mkString("\n"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val agg = Streams.tumblingCounts(stream, "ts", "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT * FROM tumbling ORDER BY window_start").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L))
    assert(rows.head.getAs[Double]("sum_value") == 3.0)
  }

  test("T7: sliding window (1h width, 30m slide) assigns events to overlapping windows") {
    val dir = tmpDir("slide")
    Files.writeString(Paths.get(s"$dir/e.json"), Seq(
      """{"event_id":0,"user_id":1,"event_type":"click","ts":"2024-01-01T00:40:00.000Z","value":1.0}""",
      """{"event_id":1,"user_id":2,"event_type":"click","ts":"2024-01-01T01:10:00.000Z","value":2.0}""").mkString("\n"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val agg = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sliding")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT * FROM sliding ORDER BY ws").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1))).toSeq
    // event@00:40 -> [00:00,01:00) and [00:30,01:30); event@01:10 -> [00:30,01:30) and [01:00,02:00)
    assert(rows == Seq(
      ("2024-01-01T00:00:00Z", 1L),
      ("2024-01-01T00:30:00Z", 2L),
      ("2024-01-01T01:00:00Z", 1L)))
  }

  test("mapGroupsWithState: running per-user counters across micro-batches") {
    val topic = writeTopic(Seq(msg(0, 1, "a", 1.0, 1), msg(1, 1, "b", 1.0, 1), msg(2, 2, "c", 1.0, 1)))
    val counts = Streams.runningUserCounts(spark, Streams.subscribe(spark, topic))
    val q = counts.writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT * FROM running ORDER BY user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 2L, 1L), (2L, 1L, 2L)))
  }
}
