package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Exact, Tables}
import graft.operators.{GenStore, StoreDirs}
import graft.operators.GenStore.Gen

/** S11 [EXT] — DATE-PARTITIONED events store: partition-pruned scans
  * plus INCREMENTAL day-grain maintenance.
  *
  * Why it exists: every fixture table is a single parquet file, so
  * `PruneFileSourcePartitions` (SURVEY §4.2) was the one listed
  * optimization no query exercised (VERDICT r9's named 100 TB-shape
  * gap). At 100 TB an events store is date-partitioned as a matter of
  * survival — a date-ranged query must read the days it asks for, not
  * the decade it doesn't — and it is append-MOSTLY: each ingest lands
  * a new day (or restates a recent one), and rewriting the whole
  * history to absorb one day is the same anti-pattern the label/IVF
  * stores retired for their domains. This store proves both shapes
  * end-to-end: partition-pruned reads (PlanSpec pins the scanned
  * partition count) and day-grain incremental maintenance (the
  * lakehouse `INSERT OVERWRITE PARTITION` discipline — cost scales
  * with the CHANGED dates, never the history).
  *
  * Layout ([[graft.operators.GenStore]]):
  *   - `storeDir/days/__batch=<j>/event_date=<d>/` — the rows; a
  *     maintenance call writes ONLY its changed dates as a new batch.
  *   - `storeDir/gen=<k>__n=<count>__fp=<digest>__d=<dead>/manifest` —
  *     the AUTHORITY: one line per live date, `event_date,n_rows,fp,
  *     batch` naming the batch that serves that date. A date absent
  *     from the manifest is deleted (no tombstones needed at day grain —
  *     the manifest is a positive list), and `days/` batches neither
  *     live manifest references are deleted at publish. `dead` counts
  *     rows still on disk in REFERENCED batches that no live date
  *     serves (removed dates, superseded restates); carried in the name
  *     so the compaction trigger needs no extra read, and conservative
  *     (batch GC may reclaim some of it early — the rebuild then fires
  *     a little sooner, the safe direction).
  *
  * Staleness is measured per DATE: one aggregate computes per-date
  * (row count, order-insensitive bit_xor digest); the global
  * fingerprint is their driver-side XOR (associativity — identical to
  * digesting all rows at once), so the noop check costs the same one
  * scan as before. Changed/new dates land as a new batch; removed
  * dates drop out of the manifest; a changed mass past half the table
  * falls back to the full rebuild, which also compacts the batches.
  * The manifest collect is DATES, not data rows — bounded metadata
  * (a decade of days is ~3,650 rows).
  */
object DateStore {

  /** Per-row digest — spans every column, so any row edit flips its
    * date's fingerprint.
    */
  private def rowDigest: Column =
    xxhash64(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))

  private case class DayStat(date: java.sql.Date, n: Long, fp: Long)

  /** One narrow aggregate over the corpus: per-date (count, digest). */
  private def dayStats(ev: DataFrame): Seq[DayStat] =
    ev.withColumn("event_date", to_date(col("ts")))
      .withColumn("__h", rowDigest)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("fp"))
      .collect()
      .map(r => DayStat(r.getDate(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))

  /** Global (n, fp) from the per-date stats — XOR associativity makes
    * this identical to a bit_xor over all rows at once.
    */
  private def globalOf(stats: Seq[DayStat]): (Long, Long) =
    (stats.map(_.n).sum, stats.map(_.fp).foldLeft(0L)(_ ^ _))

  private def store(s: SparkSession, storeDir: String) =
    new GenStore(s, storeDir, "DateStore", Seq(Days))

  private val Days = "days"

  private type Manifest = Seq[(java.sql.Date, Long, Long, Long)]

  /** The latest generation's manifest: (event_date, n_rows, fp, batch),
    * one row per LIVE date.
    */
  private def readManifest(gs: GenStore, gen: Gen): Manifest = {
    val p = new Path(gen.path, "manifest")
    // the manifest is bounded routing metadata (one row per LIVE date —
    // thousands of rows at any scale), which table formats keep as
    // driver-read manifest files precisely so readers never pay a
    // distributed scan for routing (guide §6). The pre-r17 layout
    // stored it as parquet, costing a Spark job (~0.1 s) per read —
    // and the date lanes read it on every append, rollup, and publish.
    // Plain text now (one `date,n,fp,batch` line per date); the
    // directory form is the legacy layout, still readable.
    if (gs.fs.getFileStatus(p).isDirectory)
      gs.spark.read.parquet(p.toString).collect().toSeq
        .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    else
      gs.readText(p).linesIterator.filter(_.nonEmpty).map { l =>
        val Array(d, n, f, b) = l.split(",")
        (java.sql.Date.valueOf(d), n.toLong,
          java.lang.Long.parseUnsignedLong(f, 16), b.toLong)
      }.toSeq
  }

  def defaultStoreDir(dir: String): String =
    StoreDirs.canonical("graft-events-bydate", dir)

  /** Back-compat single-shot surface: (re)build/maintain the store iff
    * the events fingerprint no longer matches; true when any write ran.
    */
  def ensureCurrent(s: SparkSession, dir: String, storeDir: String): Boolean =
    ensureCurrentIncremental(s, dir, storeDir) != "noop"

  /** Day-grain incremental maintenance. Returns which path ran:
    * `"noop"` (global fingerprint matches), `"full"` (store empty, or
    * changed mass past half the table — the compaction threshold),
    * `"incremental"` (changed/new dates landed as one new batch),
    * `"incremental-delete"` (dates dropped from the manifest only).
    * Cost: one per-date aggregate over the corpus (the price of
    * validity by measurement) + a write sized by the CHANGED dates.
    */
  def ensureCurrentIncremental(s: SparkSession, dir: String,
                               storeDir: String): String =
    ensureIncrementalEvents(Tables.events(s, dir), storeDir)

  /** A generation without a readable manifest (pre-manifest layout or
    * mid-crash debris) is not servable — it can neither noop nor seed
    * the incremental path, however its fingerprint reads.
    */
  private def hasManifest(gs: GenStore, g: Gen): Boolean =
    gs.fs.exists(new Path(g.path, "manifest"))

  /** Write `rows` as `days/__batch=<batch>/event_date=<d>/`. */
  private def writeDays(gs: GenStore, rows: DataFrame, batch: Long,
                        nDates: Int): Unit =
    gs.writeBatch(rows.withColumn("event_date", to_date(col("ts")))
      // one file per day at fixture scale; a production deployment
      // sizes files via maxRecordsPerFile instead. The count is EXPLICIT
      // (the written date count, which every caller already measured):
      // a bare repartition(col) is AQE-coalescible by bytes into ONE
      // task that creates every day's file serially — measured ~0.5 s
      // per ingest micro-batch at sf0.1, parquet-writer-init bound
      .repartition(math.max(1, nDates), col("event_date")),
      Days, batch, Seq("event_date"))

  /** Publish generation `next` routed by `manifest`. `old` is the
    * manifest of `prior`, the generation it supersedes, which stays
    * live: the batches either references are kept, every other `days/`
    * batch is deleted. The ingest floor carries from `prior` only — a
    * generation without a manifest serves no streamed rows, and
    * [[appendEvents]] reads its skip floor from the same `prior`. The
    * manifest is a plain text file — bounded routing metadata needs no
    * Spark write job.
    */
  private def publishManifest(gs: GenStore, prior: Option[Gen], next: Long,
                              n: Long, fp: Long, dead: Long, manifest: Manifest,
                              old: Manifest, ingestId: Option[Long]): Unit = {
    val live = (manifest ++ old).map(_._4).toSet + next
    gs.publish(next, n, fp, None, Some(dead), prior, ingestId, live.contains) { staging =>
      gs.writeText(new Path(staging, "manifest"), manifest.map { case (d, nr, f, b) =>
        s"$d,$nr,${java.lang.Long.toHexString(f)},$b"
      }.mkString("\n"))
    }
  }

  private[graft] def ensureIncrementalEvents(ev: DataFrame,
                                             storeDir: String): String = {
    val gs = store(ev.sparkSession, storeDir)
    val stats = dayStats(ev)
    val (n, fp) = globalOf(stats)
    val latest = gs.latest
    if (latest.exists(g => g.n == n && g.fp == fp && hasManifest(gs, g)))
      return "noop"
    val next = latest.fold(1L)(_.k + 1)
    val prior = latest.filter(hasManifest(gs, _))
    def publish(manifest: Manifest, old: Manifest, dead: Long): Unit =
      publishManifest(gs, prior, next, n, fp, dead, manifest, old, None)

    // claim the generation before this call's first write (every lane
    // below writes days/__batch=<next> or publishes) — a competing
    // maintainer at the same parent fails loudly here instead of
    // interleaving the shared batch dir
    gs.claim(next, None) { prior match {
      case None =>
        writeDays(gs, ev, next, stats.length)
        publish(stats.map(d => (d.date, d.n, d.fp, next)), Seq.empty, dead = 0L)
        "full"
      case Some(g) =>
        val old = readManifest(gs, g).map(m => m._1 -> m).toMap
        val cur = stats.map(d => d.date -> d).toMap
        val changed = stats.filter(d =>
          !old.get(d.date).exists(m => m._2 == d.n && m._3 == d.fp))
        val removed = old.keySet.diff(cur.keySet)
        // dead mass this maintenance adds: removed dates' rows stay on
        // disk while their batch serves other dates, and a restated
        // date's OLD copy likewise — both invisible to readers (the
        // manifest routes around them) but disk the store still holds
        val newlyDead = removed.toSeq.map(old(_)._2).sum +
          changed.filter(d => old.contains(d.date)).map(d => old(d.date)._2).sum
        // compaction by measurement, BOTH dimensions (round-10 review:
        // the changed-mass check alone let repeated date deletes leave
        // their rows on disk forever): restating most of the table as a
        // delta batch smears the history for no read benefit, and dead
        // mass approaching the live table means the store holds ~2x the
        // data it serves — either way rebuild, which compacts and
        // resets the dead count
        if (changed.map(_.n).sum > 0.5 * n || g.dead + newlyDead > 0.5 * n) {
          writeDays(gs, ev, next, stats.length)
          publish(stats.map(d => (d.date, d.n, d.fp, next)), old.values.toSeq, dead = 0L)
          return "full"
        }
        if (changed.nonEmpty) {
          val dates = changed.map(_.date)
          writeDays(gs, ev.filter(to_date(col("ts")).isin(dates: _*)), next,
            dates.length)
        }
        val manifest = stats.map { d =>
          if (changed.exists(_.date == d.date)) (d.date, d.n, d.fp, next)
          else { val m = old(d.date); (d.date, d.n, d.fp, m._4) }
        }
        publish(manifest, old.values.toSeq, dead = g.dead + newlyDead)
        if (changed.isEmpty && removed.nonEmpty) "incremental-delete"
        else "incremental"
    } }
  }

  /** LOG-DRIVEN ingestion — the other maintenance discipline (the
    * reference's consumer loop appends each polled message batch to its
    * document store, ref: consumer.py:23-25 and
    * dags/kafka_to_mongo_pipeline.py:70-77 — this is that shape with
    * day-grain placement, mergeable validity, and exactly-once). The
    * corpus-driven paths above hold the WHOLE table and diff it; a
    * stream delivers only deltas, so this path merges each micro-batch
    * into the store by day: new days land directly, a day the batch
    * touches again (late data) is restated as old-rows ∪ batch-rows in
    * the new `__batch` dir, and the restated day's fingerprint is
    * `old_fp ⊕ batch_fp` — XOR associativity means the merged manifest
    * carries EXACTLY the fingerprint a from-scratch digest of the union
    * corpus would compute, so a later corpus-driven
    * [[ensureCurrentIncremental]] over everything ingested is a
    * provable noop (pinned by the `s11_date_ingest` oracle row). Cost
    * per micro-batch: one day-stats aggregate over the BATCH plus a
    * write sized by the batch's days — never a history scan; the one
    * history-sized action is the dead-mass compaction, by the same
    * measured threshold as the corpus paths.
    *
    * Exactly-once: the publishing rename carries the micro-batch id
    * (`ingest` file, max-carried across ALL later publishes), and a
    * batch at or below the stored floor is a skip — so a foreachBatch
    * retry after a crash-after-publish cannot double-count, the same
    * guarantee discipline as [[graft.streaming.BandStore]] admission.
    */
  def appendEvents(batch: DataFrame, storeDir: String,
                   streamBatchId: Long,
                   ownerScope: Option[String] = None): String = {
    val s = batch.sparkSession
    val gs = store(s, storeDir)
    val latest = gs.latest
    val prior = latest.filter(hasManifest(gs, _))
    prior.flatMap(gs.ingestFloor) match {
      case Some(last) if last >= streamBatchId => return "skip"
      case _ => ()
    }
    val stats = dayStats(batch)
    if (stats.isEmpty) return "empty"
    val next = latest.fold(1L)(_.k + 1)
    // the ingest fence: micro-batches of ONE stream serialize through
    // the checkpoint, but a corpus-driven maintainer racing the stream
    // (or a second stream on one store) is the same interleave hazard
    gs.claim(next, GenStore.ingestOwner(ownerScope, streamBatchId)) { prior match {
      case None =>
        val (n, fp) = globalOf(stats)
        writeDays(gs, batch, next, stats.length)
        publishManifest(gs, prior, next, n, fp, dead = 0L,
          stats.map(d => (d.date, d.n, d.fp, next)), Seq.empty, Some(streamBatchId))
        "append-initial"
      case Some(g) =>
        val old = readManifest(gs, g).map(m => m._1 -> m).toMap
        val overlap = stats.filter(d => old.contains(d.date))
        val overlapDates = overlap.map(_.date)
        // the restated days' prior copies become dead disk the moment
        // the new batch serves them
        val newlyDead = overlap.map(d => old(d.date)._2).sum
        val mergedN = g.n + stats.map(_.n).sum
        val mergedFp = g.fp ^ stats.map(_.fp).foldLeft(0L)(_ ^ _)
        val mergedDay: DayStat => (java.sql.Date, Long, Long) = d =>
          old.get(d.date) match {
            case Some(m) => (d.date, m._2 + d.n, m._3 ^ d.fp)
            case None    => (d.date, d.n, d.fp)
          }
        if (g.dead + newlyDead > 0.5 * mergedN) {
          // compact: everything live plus the batch, one fresh batch dir
          val full = readEvents(s, storeDir).drop("event_date")
            .unionByName(batch)
          writeDays(gs, full, next, old.size + stats.length)
          val touched = stats.map(_.date).toSet
          val manifest = stats.map(d => { val (dt, nn, ff) = mergedDay(d); (dt, nn, ff, next) }) ++
            old.values.toSeq.collect {
              case (dt, nn, ff, _) if !touched.contains(dt) => (dt, nn, ff, next)
            }
          publishManifest(gs, prior, next, mergedN, mergedFp, dead = 0L,
            manifest, old.values.toSeq, Some(streamBatchId))
          "append-compact"
        } else {
          // restated days re-land whole (their live rows ∪ the batch's);
          // untouched days keep their serving batch
          val toWrite =
            if (overlapDates.isEmpty) batch
            else readEvents(s, storeDir)
              .filter(col("event_date").isin(overlapDates: _*))
              .drop("event_date")
              .unionByName(batch)
          writeDays(gs, toWrite, next, stats.length)
          val touched = stats.map(_.date).toSet
          val manifest = stats.map(d => { val (dt, nn, ff) = mergedDay(d); (dt, nn, ff, next) }) ++
            old.values.toSeq.collect {
              case (dt, nn, ff, b) if !touched.contains(dt) => (dt, nn, ff, b)
            }
          publishManifest(gs, prior, next, mergedN, mergedFp, dead = g.dead + newlyDead,
            manifest, old.values.toSeq, Some(streamBatchId))
          "append"
        }
    } }
  }

  /** The streaming entry: AvailableNow micro-batches land through
    * [[appendEvents]] under a checkpoint — replays are skips, so the
    * sink is exactly-once end to end. The batch is pinned before the
    * merge so the multi-read append cannot re-execute the source.
    */
  def ingestSink(stream: DataFrame, storeDir: String,
                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pinned = batch.localCheckpoint()
        // free the pinned blocks once the merge lands — a long-lived
        // stream runs thousands of micro-batches, and un-released
        // checkpoint blocks accumulate until later batches pay for
        // them in memory pressure (the clusterPairs lesson)
        try { appendEvents(pinned, storeDir, batchId, Some(checkpoint)); () }
        finally StoreDirs.freePinned(pinned)
      }
      .start()

  /** The live table: the newest generation's manifest routes each date
    * to its serving batch, and the scan filter is a per-batch date
    * disjunction over PARTITION COLUMNS — file pruning happens at
    * listing time (`PruneFileSourcePartitions`), before any row is
    * read. `event_date` comes back as a DATE partition column, so
    * callers' date filters prune the same way.
    */
  def readEvents(s: SparkSession, storeDir: String): DataFrame = {
    val gs = store(s, storeDir)
    val gen = gs.newest
    val manifest = readManifest(gs, gen)
    require(manifest.nonEmpty, s"DateStore: empty manifest under ${gen.path}")
    val pred = manifest.groupBy(_._4).map { case (b, rows) =>
      col("__batch") === b && col("event_date").isin(rows.map(_._1): _*)
    }.reduce(_ || _)
    Tables.parquet(s, gs.dataset(Days).toString).filter(pred).drop("__batch")
  }

  /** The pruned scan [[s11DateRollup]] aggregates — exposed so PlanSpec
    * pins `selectedPartitions` on the exact frame the query reads.
    */
  private[graft] def rollupScan(s: SparkSession, storeDir: String): DataFrame =
    readEvents(s, storeDir)
      .filter(col("event_date").between(lit("2024-01-08"), lit("2024-01-14")))

  private def rollup(scan: DataFrame): DataFrame =
    scan
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))
      .orderBy("event_date", "event_type")

  /** S11 — the date-ranged daily rollup over the partition-pruned store
    * scan: one ISO week of a 30-day table, so the scan must touch 7 of
    * the 30 date partitions. Oracle: the same rollup computed from the
    * fixture events table directly — write → pruned read → aggregate
    * equals the source aggregate, hash-exactly.
    */
  def s11DateRollup(s: SparkSession, dir: String): DataFrame = {
    val store = defaultStoreDir(dir)
    ensureCurrentIncremental(s, dir, store)
    rollup(rollupScan(s, store))
  }

  val s11DateRollupSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The evolve oracle row splits history at this date: the store is
    * built on the days before it, and the remaining days arrive through
    * the incremental append path.
    */
  private val EvolveSplit = "2024-01-25"

  /** S11b [EXT] — day-grain maintenance under the hash gate: build the
    * store on the days before [[EvolveSplit]], land the remaining days
    * via [[ensureCurrentIncremental]] (which must take the incremental
    * path: only the new dates' partitions written), then run a rollup
    * over a window STRADDLING the split — old batches and the appended
    * batch must read back as one table. Oracle: the same rollup from
    * the fixture events directly.
    */
  def s11DateEvolve(s: SparkSession, dir: String): DataFrame = {
    // base-store methodology (VERDICT r14 #5 / r15 #1, as the label/IVF
    // lanes): the pre-split build is the lane's base state, built once
    // per JVM and file-copied per invocation; the incremental append +
    // straddling rollup run in full every time under the hash gate
    val base = StoreDirs.cachedBaseStore(s"dateevolve:$dir") { st =>
      val first = ensureIncrementalEvents(
        Tables.events(s, dir).filter(to_date(col("ts")) < lit(EvolveSplit)), st)
      require(first == "full", s"expected the initial build, ran '$first'")
    }
    StoreDirs.withTempStore("graft-dateevolve") { store =>
      StoreDirs.copyStore(s, base, store)
      val mode = ensureIncrementalEvents(Tables.events(s, dir), store)
      require(mode == "incremental", s"expected the incremental path, ran '$mode'")
      rollup(readEvents(s, store)
        .filter(col("event_date").between(lit("2024-01-22"), lit("2024-01-28"))))
        .localCheckpoint()
    }
  }

  val s11DateEvolveSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-22' AND DATE '2024-01-28'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The DPP scan [[s11DateDpp]] aggregates — the fact side of a
    * dim-filtered join where the served dates are NOT known until the
    * dim executes, so static `PruneFileSourcePartitions` cannot help:
    * the busier-than-average day set depends on per-day counts. Spark's
    * `PartitionPruning` rule must instead inject a
    * `DynamicPruningSubquery` on `event_date`, reusing the dim's
    * broadcast — the scan then reads ONLY the busy days' partitions at
    * RUNTIME. The busy threshold is pure integer arithmetic
    * (`n_day · n_days > n_total` ⟺ day above the mean) so the day set
    * is bit-identical across engines — no float boundary can flip a
    * partition in one engine and not the other.
    *
    * At 100 TB this is the other half of the partition-pruning story:
    * [[rollupScan]] proves literal date ranges prune at LISTING time;
    * real warehouse queries join the fact to a filtered dim ("busy
    * days", "holiday weeks", "treatment cohort dates") whose dates
    * only exist at runtime — without DPP every such query is a full
    * history scan regardless of how selective the dim is.
    */
  private[graft] def dppScan(s: SparkSession, dir: String,
                             storeDir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val perDay = ev.groupBy(to_date(col("ts")).as("dim_date"))
      .agg(count(lit(1)).as("n_day"))
    val totals = ev.agg(count(lit(1)).as("n_total"),
      countDistinct(to_date(col("ts"))).as("n_days"))
    // the 1-row broadcast gate idiom (q15/q22): the global totals ride a
    // broadcast single-row cross join into the per-day filter
    val busy = perDay.crossJoin(broadcast(totals))
      .filter(col("n_day") * col("n_days") > col("n_total"))
      .select(col("dim_date"))
    readEvents(s, storeDir)
      .join(broadcast(busy), col("event_date") === col("dim_date"))
  }

  /** S11c [EXT] — runtime partition pruning under the hash gate: the
    * per-type rollup of the busier-than-average days, read through the
    * date store with the day set decided by the dim at runtime. Oracle:
    * the same rollup from the fixture events directly. Round10Spec pins
    * the plan (`dynamicpruningexpression` on the store scan) and the
    * runtime partitions-read metric (< the 30-day history).
    */
  def s11DateDpp(s: SparkSession, dir: String): DataFrame = {
    val store = defaultStoreDir(dir)
    ensureCurrentIncremental(s, dir, store)
    dppScan(s, dir, store)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** S11d [EXT] — log-driven ingestion under the hash gate: three
    * micro-batch deltas land through [[appendEvents]] — an initial
    * partial history, a new-days append, then a MIXED batch (late data
    * restating the oldest two weeks + the final new days). After the
    * last merge the corpus-driven fingerprint check over the full
    * events table must be a NOOP — the two maintenance disciplines
    * agree bit-for-bit (XOR-mergeable day digests) — and the rollup
    * over a week straddling restated and appended days must equal the
    * oracle computed from the fixture directly.
    */
  def s11DateIngest(s: SparkSession, dir: String): DataFrame = {
    val oldDays = to_date(col("ts")) < lit("2024-01-15")
    val midDays = to_date(col("ts")).between(lit("2024-01-15"), lit("2024-01-25"))
    // base-store methodology — see [[s11DateEvolve]]: the initial
    // partial-history ingest (micro-batch 0) is the stream's one-time
    // bootstrap; every invocation still runs the new-days append, the
    // mixed late-data restate, and the corpus-driven cross-check in full
    val base = StoreDirs.cachedBaseStore(s"dateingest:$dir") { st =>
      val m1 = appendEvents(Tables.events(s, dir)
        .filter(oldDays && col("event_id") % 3 =!= 0), st, 0L)
      require(m1 == "append-initial", s"expected the initial ingest, ran '$m1'")
    }
    StoreDirs.withTempStore("graft-dateingest") { store =>
      StoreDirs.copyStore(s, base, store)
      val ev = Tables.events(s, dir)
      val m2 = appendEvents(ev.filter(midDays), store, 1L)
      require(m2 == "append", s"expected the new-days append, ran '$m2'")
      val m3 = appendEvents(
        ev.filter((oldDays && col("event_id") % 3 === 0) || (!oldDays && !midDays)),
        store, 2L)
      require(m3 == "append", s"expected the mixed late-data append, ran '$m3'")
      val after = ensureIncrementalEvents(ev, store)
      require(after == "noop", s"ingested store drifted from the corpus: ran '$after'")
      rollup(readEvents(s, store)
        .filter(col("event_date").between(lit("2024-01-12"), lit("2024-01-18"))))
        .localCheckpoint()
    }
  }

  val s11DateIngestSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-12' AND DATE '2024-01-18'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val s11DateDppSql: String =
    """WITH per_day AS (
      |  SELECT CAST(ts AS DATE) AS dim_date, count(*) AS n_day
      |  FROM events GROUP BY 1),
      |totals AS (
      |  SELECT count(*) AS n_total, count(DISTINCT CAST(ts AS DATE)) AS n_days
      |  FROM events),
      |busy AS (
      |  SELECT dim_date FROM per_day, totals WHERE n_day * n_days > n_total)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN busy ON CAST(ts AS DATE) = busy.dim_date
      |GROUP BY event_type ORDER BY event_type""".stripMargin
}
