package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.Dedup

/** Bucketed MinHash signature/band store backing the streaming dedup
  * admission loop ([[Streams.dedupAdmitSink]]) — the persistent state of
  * the production corpus-dedup pipeline (SURVEY.md §2.7 X2g / T11).
  *
  * Layout under `storeDir`:
  *   - `bands/`  — (band, bh, doc_id), partitioned by
  *     (`__batch`, `__bb` = pmod(bh, [[BandBuckets]])). A batch probe
  *     computes its own band hashes, collects the ≤ [[BandBuckets]]
  *     distinct `__bb` values it touches (driver-side bounded by the
  *     bucket count, never the data), and reads ONLY those partitions —
  *     partition pruning at the scan, the same discipline as
  *     [[graft.sources.Sinks.mergeIntoStore]]'s 16-bucket upsert store.
  *     Per-batch probe cost is O(matching buckets), not O(corpus): a
  *     band-hash equi-probe is exactly what parquet min/max stats can
  *     NOT prune, so the bucketing must be in the layout.
  *   - `sigs/`   — (doc_id, sh, sig), partitioned by
  *     (`__batch`, `__db` = pmod(doc_id, [[SigBuckets]])). Exact-verify
  *     reads only the buckets holding candidate peers (≤ [[SigBuckets]]
  *     driver-side values).
  *   - `evicted/` — batch-numbered retention tombstones ([[evictDocs]]):
  *     (doc_id) per `__batch=<id>`, masked batch-aware at every read and
  *     physically absorbed by [[compactStore]] (see the retention
  *     contract at [[evictDocs]]).
  *
  * Idempotence: every write is a dynamic-partition OVERWRITE of the
  * batch's own `__batch=<id>` partitions, and every read EXCLUDES
  * `__batch = <current id>` — so a checkpoint replay (crash after any
  * subset of the three writes, before the commit) recomputes the exact
  * same admission decision against the exact same visible store and
  * overwrites its own partitions with identical bytes. No blind appends.
  *
  * At 100 TB the bucket counts scale up (thousands) via the
  * creation-time confs ([[BandBucketsConf]]/[[SigBucketsConf]], recorded
  * per store in a `.geometry` file — see [[Geometry]]), the store is the
  * precomputed ~1 KB/doc signature state, and the corpus text is never
  * re-read — admission cost per batch is bounded by the batch and its
  * candidates.
  */
object BandStore {

  /** Stage timer for admission profiling, off unless
    * `spark.graft.debug.timing=true` — the same hook
    * [[graft.operators.LabelStore]] exposes for its maintenance paths.
    */
  private def timed[A](s: SparkSession, name: String)(f: => A): A =
    if (s.conf.get("spark.graft.debug.timing", "false") != "true") f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"[admit-timing] $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

  /** Default band-hash bucket count of `bands/` — fixture scale, and the
    * geometry of every store created before the conf existed.
    */
  val BandBuckets = 64

  /** Default doc_id bucket count of `sigs/`. */
  val SigBuckets = 16

  /** Creation-time bucket-count confs. The 100 TB deployment sets these
    * in the THOUSANDS so a batch's probe touches a bounded fraction of
    * the store instead of all of it — the scaling lever the layout
    * scaladoc promises, now an actual knob rather than a constant.
    */
  val BandBucketsConf = "spark.graft.band.buckets"
  val SigBucketsConf = "spark.graft.sig.buckets"

  /** A store's bucket geometry — FIXED at store creation and recorded in
    * a `.geometry` file at the store root. The partition columns
    * `__bb`/`__db` are pmod results: rows written under one bucket count
    * and probed under another would be silently missed by the pruned
    * scans, so the counts can never drift within a store's lifetime.
    * Re-bucketing an existing store is a REBUILD: [[importCorpus]] the
    * live corpus into a fresh store created under the new confs (the
    * adopt-in-place bootstrap — one signing pass, no admission
    * re-adjudication) and swap paths at the orchestration layer.
    */
  private[graft] case class Geometry(bandBuckets: Int, sigBuckets: Int,
                                     obatchEpoch: Int) {
    /** True when every row of the store is guaranteed to carry the
      * `__obatch` rank column (stamped at creation for post-upgrade
      * stores). Epoch-0 stores — genuinely pre-upgrade ones, and any
      * whose geometry file predates the key — may mix files with and
      * without the column, so their tree reads must schema-MERGE: a
      * plain read takes one file's footer, and which file wins decides
      * whether `__obatch` resolves at all (ADVICE r12 — the gate must
      * not depend on listing order). The merge tax is per-maintenance /
      * per-probe and retired by rebuilding via [[importCorpus]].
      */
    def uniformObatch: Boolean = obatchEpoch >= 1
  }

  /** Read a sigs/bands tree under the store's schema epoch: epoch ≥ 1
    * reads plain (every file has `__obatch`); epoch 0 merges schemas so
    * legacy rows surface the column as null deterministically. The scan
    * is manifest-pinned ([[readLeaves]]): retired leaves are invisible
    * and their files outlive any in-flight probe by the retire grace.
    * `buckets` narrows the file LISTING to the given bucket-leaf names
    * (e.g. `__bb=7`) — the callers' `.isin` filters stay as the
    * correctness gate either way.
    */
  private def readTree(spark: SparkSession, dir: String, g: Geometry,
                       buckets: Option[Set[String]] = None): DataFrame =
    readLeaves(spark, dir, merge = !g.uniformObatch, buckets = buckets)

  /** Read the store's geometry, stamping it first if the store is new:
    * a NEW store takes the session confs (defaults 64/16); a store that
    * already has batches but no file (created before the file existed)
    * is stamped with the DEFAULTS its rows were written under — never
    * the confs, which would mis-prune a legacy store the moment a
    * deployment sets them. The stamp is a temp-file write plus an atomic
    * rename, so racing first-writers see either nothing or the winner's
    * full content, never a torn file.
    *
    * `obatchEpoch` rides in the same file: 1 for stores created after
    * the `__obatch` rank column existed (all rows carry it), 0 for
    * legacy stores and for files stamped before the key existed (absent
    * key reads as 0 — the conservative, schema-merging direction).
    */
  private[graft] def ensureGeometry(spark: SparkSession, storeDir: String): Geometry = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g = graft.operators.StoreDirs.ensureGeometry(fs, storeDir,
      legacy = hasBatches(spark, bandsDir(storeDir)) ||
        hasBatches(spark, sigsDir(storeDir)) ||
        hasBatches(spark, evictedDir(storeDir)),
      defaults = Seq("bandBuckets" -> BandBuckets, "sigBuckets" -> SigBuckets,
        "obatchEpoch" -> 0),
      confValues = Seq(
        "bandBuckets" -> spark.conf.get(BandBucketsConf, BandBuckets.toString).toInt,
        "sigBuckets" -> spark.conf.get(SigBucketsConf, SigBuckets.toString).toInt,
        "obatchEpoch" -> 1))
    Geometry(g("bandBuckets"), g("sigBuckets"), g.getOrElse("obatchEpoch", 0))
  }

  def bandsDir(storeDir: String): String = s"$storeDir/bands"
  def sigsDir(storeDir: String): String = s"$storeDir/sigs"
  def evictedDir(storeDir: String): String = s"$storeDir/evicted"

  /** RETENTION CONTRACT (what bounds this store at 100 TB): the
    * steady-state footprint is ~1 KB of signature state per LIVE
    * admitted document plus any not-yet-compacted eviction tombstones —
    * never the raw text, and never documents that have left the corpus.
    * Three mechanisms bound growth:
    *   1. admission itself stores only admitted docs (dropped docs
    *      leave nothing);
    *   2. [[evictDocs]] retires documents removed from the corpus
    *      (takedowns, TTL'd crawls, retention windows): a batch-numbered
    *      tombstone masks their rows at every later read, so they stop
    *      vetoing immediately, and the next [[compactStore]] physically
    *      drops the rows AND absorbs the tombstone — disk is reclaimed,
    *      pinned in Round11Spec;
    *   3. [[compactStore]] bounds FILE counts (the small-files tax) at
    *      O(buckets), independent of batch count.
    * A time-based retention policy is the composition: feed the ids
    * aging past the window to [[evictDocs]] on whatever cadence the
    * deployment's compliance story needs.
    *
    * Tombstone DEAD MASS between full passes is a measured non-issue
    * (r16 ×50/80-batch soak with steady eviction, STRESS_r16.json):
    * tombstone batches are doc_id-only files, so their share of probe
    * bytes held at 0.01–0.02% — three orders below any level where a
    * dead-mass compaction trigger would earn its complexity. The
    * dir-COUNT gauge (listing tax) is the binding one and already
    * routes the full pass when the evicted tree crosses the threshold.
    */

  /** Retire documents from the dedup memory — the batch's ids land as
    * one tombstone partition (`evicted/__batch=<id>`, idempotent dynamic
    * overwrite, same replay discipline as admission). Reads mask
    * BATCH-AWARE: a store row is hidden iff its ORIGINAL batch
    * (`__obatch`, a data column stamped at write time and preserved
    * verbatim through compaction) is OLDER than the newest tombstone
    * covering its doc — so a document re-admitted after an eviction
    * vetoes again (its new rows outrank the old tombstone), exactly the
    * LabelStore/IvfStore revive semantics. The gate deliberately does
    * NOT compare the partition `__batch`: compaction re-stamps that to
    * the (negative) base generation id, and ranking base rows by it
    * would let a tombstone that survived a crash between the base
    * publish and the tombstone delete outrank a re-admitted doc's rows
    * and silently drop them at the next absorb (ADVICE r11).
    *
    * The caller owes the same single-log contract the other maintenance
    * paths state: eviction and admission batch ids come from ONE
    * monotonic sequence (one driving log/checkpoint), so the batch-gate
    * comparison is meaningful, and — as with compaction — an eviction id
    * must not exceed a batch the stream could still replay.
    */
  def evictDocs(evictIds: DataFrame, batchId: Long, storeDir: String): Unit = {
    // the tombstone tree has no buckets, but an eviction CAN be a new
    // store's first write — stamp the geometry now so a later admission
    // doesn't misread the store as legacy and pin it to the defaults
    ensureGeometry(evictIds.sparkSession, storeDir)
    overwriteBatchPartitions(
      // one file per eviction batch: every later admission batch reads
      // this dir, so file count matters more than write parallelism
      // (production-size eviction feeds re-partition upstream)
      evictIds.select(col("doc_id")).distinct().coalesce(1),
      batchId, None, evictedDir(storeDir))
  }

  /** Bootstrap: seed the store from an EXISTING corpus as one batch,
    * with NO admission decisions — the adopt-in-place path for a
    * deployment turning on streaming admission over an already-curated
    * corpus (re-playing terabytes through admitBatch to build signature
    * state would re-adjudicate documents the corpus owner already
    * accepted; this lands them verbatim). Signatures are computed once
    * and both trees written from the cached frame; the write is the
    * same idempotent dynamic overwrite as every batch.
    */
  def importCorpus(corpus: DataFrame, batchId: Long, storeDir: String): Unit = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val g = ensureGeometry(corpus.sparkSession, storeDir)
    val sig = signDocs(corpus).persist()
    try {
      // the two trees are independent (distinct directories, one shared
      // cached signing) — concurrent for the same reason as admitBatch's
      // step (5): the corpus-size partitioned write is commit-latency
      // bound, and a crash leaving either subset is overwritten with
      // identical bytes on the bootstrap's retry. Both settle before any
      // failure propagates (no zombie write racing a retry).
      val writes = Seq(
        Future(overwriteBatchPartitions(sig, batchId,
          Some(("__db", pmod(col("doc_id"), lit(g.sigBuckets)).cast("int"), g.sigBuckets)),
          sigsDir(storeDir), origin = true)),
        Future(overwriteBatchPartitions(explodeBands(sig, "doc_id"), batchId,
          Some(("__bb", pmod(col("bh"), lit(g.bandBuckets)).cast("int"), g.bandBuckets)),
          bandsDir(storeDir), origin = true)))
      graft.operators.StoreDirs.settleAll(writes)
    } finally sig.unpersist()
  }

  /** Per-doc newest eviction batch (`doc_id`, `__tb`), or None when the
    * store has no tombstones — the read-side mask input.
    */
  private def evictions(spark: SparkSession, storeDir: String): Option[DataFrame] =
    if (!hasBatches(spark, evictedDir(storeDir))) None
    else Some(readLeaves(spark, evictedDir(storeDir), merge = false, buckets = None)
      .groupBy(col("doc_id")).agg(max(col("__batch")).as("__tb")))

  /** Hide rows whose ORIGINAL batch predates their doc's newest
    * tombstone. `__obatch` (not the partition `__batch`) carries the
    * rank: it survives compaction per-row, so the gate is identical
    * before and after a batch's rows fold into a base generation — in
    * particular a tombstone left behind by a crash between the base
    * publish and the tombstone delete masks exactly the rows it always
    * masked (a true no-op) instead of everything in the base.
    *
    * Pre-`__obatch` stores (rows written before the column existed) are
    * handled by [[rankBatch]]'s fallback rather than an unresolvable
    * column reference — see its scaladoc for the exactness argument.
    */
  private def maskEvicted(rows: DataFrame, ev: Option[DataFrame]): DataFrame =
    ev.fold(rows) { e =>
      rows.join(e, Seq("doc_id"), "left")
        .filter(col("__tb").isNull || rankBatch(rows) >= col("__tb"))
        .drop("__tb")
    }

  /** The eviction gate's per-row rank: `__obatch` where present,
    * falling back to the partition `__batch` for legacy rows — stores
    * written before the column existed read without it entirely (the
    * schema footer predates the upgrade), and a MIXED store can surface
    * legacy rows as `__obatch = null` next to post-upgrade ones. A bare
    * `col("__obatch")` would throw `AnalysisException` on the former and
    * silently mask re-admitted legacy docs on the latter (null fails the
    * gate regardless of true rank — ADVICE r12). The fallback is EXACT
    * for every row that has never been compacted (`__batch` IS its
    * original batch there); only rows folded into a pre-upgrade base
    * generation rank at the (negative) base id — the pre-upgrade
    * semantics those rows were always governed by, never a new hazard —
    * and the first post-upgrade [[compactStore]] migrates them
    * permanently (see the rewrite's `__obatch` materialization).
    */
  private def rankBatch(rows: DataFrame): org.apache.spark.sql.Column =
    if (rows.columns.contains("__obatch"))
      coalesce(col("__obatch"), col("__batch"))
    else col("__batch")

  /** 32 bands × 4 rows over the 128-perm signature — identical banding to
    * [[Dedup.x2MinHashLsh]] / [[Dedup.x2IncrementalLsh]] (one shared
    * expression, [[Dedup.bandSql]]), so a J=0.8 pair collides in ≥1 band
    * with p ≈ 1−3e−9 and LSH+verify equals exact.
    */
  private val bandExpr = Dedup.bandSql

  /** Exploded (id, band, bh) table of a signed frame (`doc_id`, `sig`). */
  private[graft] def explodeBands(sig: DataFrame, idAs: String): DataFrame =
    sig.select(col("doc_id").as(idAs),
      posexplode(expr(bandExpr)).as(Seq("band", "bh")))

  /** Shingle + 128-perm sign a document frame (`doc_id`, `text`). Docs
    * under 3 tokens carry no shingles and are absent (admitted by
    * construction at the caller).
    */
  private[graft] def signDocs(batch: DataFrame): DataFrame =
    // Spread.byKey before the shingle+128-perm sign (guide §2.5): batch
    // frames arrive rooted at one-task fixture scans or one-partition
    // localCheckpoints, so the store's single heaviest map ran serially
    // (profiled 2.9-4.6 s per importCorpus write at sf0.1); no-op when
    // the input is already parallel
    graft.engine.Spread.byKey(
        batch.filter(size(split(col("text"), " ")) >= 3), "doc_id")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .withColumn("sig", Dedup.minhashSig)

  // ----------------------------------------------------------------
  // Tree manifest — snapshot-pinned reads (VERDICT r15 #2).
  //
  // The store's three trees are LSM-style: leaves appear per batch and
  // RETIRE when a compaction slice folds them into a base. A probe that
  // resolved its file listing from a raw directory scan races any
  // concurrent retirement — the lost-task-and-retry recovery is correct
  // (idempotent dynamic overwrite) but at 100 TB a multi-minute probe
  // losing its work to a rename pays real cost for what a pinned
  // listing makes free. The discipline the three sibling stores
  // (LabelStore / IvfStore / DateStore) already have, adapted to the
  // LSM shape:
  //
  //   <tree>/.live/<marker>     one empty marker FILE per live leaf dir
  //                             ("__batch=3" or "__batch=3%%__bb=7")
  //   <tree>/.retired-<ts>-<id> one log per retirement: the leaf
  //                             relpaths whose markers were just removed
  //
  // Invariants:
  //   - a marker is created only AFTER its data leaf committed, and
  //     removed BEFORE the leaf is physically deleted — so every
  //     manifest-listed path exists;
  //   - retirement removes markers (the visibility switch) but DEFERS
  //     the physical delete: leaves are reaped only once their log is
  //     older than [[RetireGraceConf]], so an in-flight probe that
  //     pinned the pre-retirement manifest finishes against intact
  //     files (task retry stays as the backstop for probes outliving
  //     the grace);
  //   - marker creation is a bare atomic file create (no read-modify
  //     cycle), so a concurrent reader never observes a torn manifest
  //     and concurrent adds cannot lose each other;
  //   - visibility order is add-new-then-remove-old (base markers
  //     before source-marker removal), so readers between the two see a
  //     SUPERSET — duplicates, which admission decisions are insensitive
  //     to by design — never a deficit.
  //
  // Legacy stores (no `.live`) read by directory listing exactly as
  // before; the first WRITE (append or compaction) seeds the manifest
  // from the physical listing, so any store a compactor can touch is
  // manifest-bearing before its first retirement.
  // ----------------------------------------------------------------

  /** How long a retired leaf's files stay on disk after its markers are
    * removed (`spark.graft.band.retireGraceMs`, default 60 s) — a probe
    * that pinned the manifest just before a retirement must finish
    * reading before the reap deletes the files under it. This conf is a
    * FLOOR, not the binding value: the engine's reaps bind to
    * [[effectiveRetireGraceMs]], which widens it to 2× the store's
    * gauged slowest admission wall (`.probe-gauge`), so a probe
    * legitimately outliving a misconfigured constant cannot lose files
    * (VERDICT r16 — previously the tree's one time-assumed knob).
    * Bounded debris: at most one compaction cycle's retired volume
    * awaits the next reap.
    */
  val RetireGraceConf = "spark.graft.band.retireGraceMs"

  /** Sentinel fence generation serializing EVICTED-tree maintenance
    * (the tombstone retire+reap after a full absorb). Never a real
    * generation: bases are allocated per DATA tree as `min(ids) - 1`
    * from ids ≥ −(pass count), and the evicted tree never receives a
    * base at all — so the only claimants of this key are the absorb
    * blocks themselves.
    */
  private[graft] val EvictMaintGen: Long = Long.MinValue + 7

  /** The store's probe-wall gauge (`.probe-gauge` at the store root):
    * the longest ADMISSION wall observed against this store, in ms —
    * the measured upper bound on how long a reader can hold a pinned
    * manifest. Recorded by [[admitBatch]] (monotone max, atomic-replace
    * restamp; admissions are checkpoint-serialized so there is no
    * racing writer in the engine), consumed by
    * [[effectiveRetireGraceMs]]. VERDICT r16 #2: every other constant
    * here is derived from a measurement — this retires the one
    * time-ASSUMED knob (the operator-guessed retire grace) by deriving
    * the binding grace from the slowest probe actually seen.
    */
  private def probeGaugePath(storeDir: String) =
    new org.apache.hadoop.fs.Path(storeDir, ".probe-gauge")

  private[graft] def maxProbeWallMs(spark: SparkSession, storeDir: String): Long =
    try graft.operators.StoreDirs
      .readRecord(fsFor(spark, storeDir), probeGaugePath(storeDir))
      .flatMap(_.get("probeWallMs")).map(_.toLong).getOrElse(0L)
    catch { case _: Exception => 0L } // unreadable gauge = no measurement

  private[graft] def recordProbeWall(spark: SparkSession, storeDir: String,
                                     wallMs: Long): Unit = {
    val prev = maxProbeWallMs(spark, storeDir)
    if (wallMs > prev)
      graft.operators.StoreDirs.restamp(fsFor(spark, storeDir),
        probeGaugePath(storeDir),
        Seq("probeWallMs" -> math.min(wallMs, Int.MaxValue.toLong).toInt),
        replace = true)
    val configured = retireGraceMs(spark)
    if (wallMs * 2 > configured)
      org.slf4j.LoggerFactory.getLogger("graft.streaming.BandStore").warn(
        s"admission probe wall ${wallMs} ms exceeds half the configured " +
          s"retire grace ($RetireGraceConf = $configured ms) on $storeDir — " +
          "reaps now bind to the DERIVED grace (2x the gauged max probe " +
          "wall), so no in-flight probe can lose files; raise the conf to " +
          "silence this")
  }

  /** The grace the reaps actually bind to: the configured
    * [[RetireGraceConf]] floor, widened to 2× the gauged slowest probe —
    * so a probe legitimately outliving a misconfigured constant can no
    * longer lose files mid-read (the failure mode the manifest
    * discipline exists to remove, VERDICT r16 What's-wrong #1). A fresh
    * store with no gauge binds to the configured value exactly as
    * before.
    */
  private[graft] def effectiveRetireGraceMs(spark: SparkSession,
                                            storeDir: String): Long =
    math.max(retireGraceMs(spark), 2L * maxProbeWallMs(spark, storeDir))

  /** Chaos-injection sleeps for the driver-kill suite (ChaosSpec):
    * `spark.graft.band.failpoint.afterPublishMs` widens the window
    * between a fold's publish rename and its marker adds;
    * `...afterMarkersMs` the window between marker adds and source
    * retirement. Zero (the default) is a no-op — production never sets
    * these; they exist so a SIGKILL can land deterministically inside
    * the two half-published states the recovery protocol must survive.
    */
  private def failpointSleep(spark: SparkSession, key: String): Unit = {
    val ms = spark.conf.get(s"spark.graft.band.failpoint.$key", "0").toLong
    if (ms > 0) Thread.sleep(ms)
  }

  private val MarkerSep = "%%"

  private def liveDir(dir: String) = new org.apache.hadoop.fs.Path(dir, ".live")

  private def fsFor(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One live leaf: the batch id plus, for bucketed trees, the bucket
    * leaf name (`__bb=7`). `relPath` is the data path under the tree.
    */
  private[graft] case class LiveLeaf(batch: Long, leaf: Option[String]) {
    def relPath: String = leaf.fold(s"__batch=$batch")(l => s"__batch=$batch/$l")
    def marker: String = leaf.fold(s"__batch=$batch")(l => s"__batch=$batch$MarkerSep$l")
  }

  private def leafOfMarker(name: String): Option[LiveLeaf] = {
    val parts = name.split(java.util.regex.Pattern.quote(MarkerSep), 2)
    parts(0).stripPrefix("__batch=").toLongOption.map { b =>
      LiveLeaf(b, if (parts.length == 2) Some(parts(1)) else None)
    }
  }

  private def leafOfRel(rel: String): Option[LiveLeaf] = {
    val parts = rel.split("/", 2)
    parts(0).stripPrefix("__batch=").toLongOption.map { b =>
      LiveLeaf(b, if (parts.length == 2) Some(parts(1)) else None)
    }
  }

  /** The tree's live-leaf set, or None for a legacy (pre-manifest)
    * store. One flat listing of `.live/` — never touches data dirs.
    */
  private[graft] def readManifest(spark: SparkSession, dir: String): Option[Seq[LiveLeaf]] = {
    val fs = fsFor(spark, dir)
    val p = liveDir(dir)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq
      .flatMap(st => leafOfMarker(st.getPath.getName)))
  }

  private def addMarkers(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                         leaves: Seq[LiveLeaf]): Unit = {
    val p = liveDir(dir)
    fs.mkdirs(p)
    leaves.foreach { l =>
      // overwrite=true: marker creation is idempotent (a replayed batch
      // re-marks the leaves it just rewrote)
      fs.create(new org.apache.hadoop.fs.Path(p, l.marker), true).close()
    }
  }

  private def removeMarkers(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                            leaves: Seq[LiveLeaf]): Unit =
    leaves.foreach(l =>
      fs.delete(new org.apache.hadoop.fs.Path(liveDir(dir), l.marker), false))

  /** Physical leaf enumeration — the legacy fallback and the manifest
    * seed. Two-level trees enumerate `(batch, bucket-leaf)`; flat trees
    * `(batch, None)`.
    */
  private def physicalLeaves(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String): Seq[LiveLeaf] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__batch="))
      .flatMap { st =>
        st.getPath.getName.stripPrefix("__batch=").toLongOption.toSeq.flatMap { b =>
          // a batch is FLAT only when its child listing SUCCEEDED and
          // returned no partition dirs (ADVICE r16 high): emitting
          // LiveLeaf(b, None) for a MISREAD bucketed batch is
          // indistinguishable from a real flat leaf — its flat relPath is
          // in no manifest and no grace log, so the orphan reap would
          // recursively delete the whole live batch dir: silent permanent
          // data loss from a listing blip. A vanished dir is accurately
          // absent; any OTHER listing failure rethrows loudly — skipping
          // it would instead under-report the tree (a deficit in the
          // manifest seed / legacy read, the dual hazard), and every
          // caller sits under a fence or an engine retry.
          try {
            val children = fs.listStatus(st.getPath).toSeq
              .filter(c => c.isDirectory && c.getPath.getName.contains("="))
            if (children.isEmpty) Seq(LiveLeaf(b, None))
            else children.map(c => LiveLeaf(b, Some(c.getPath.getName)))
          } catch { case _: java.io.FileNotFoundException => Seq.empty }
        }
      }
  }

  /** Seed the manifest from the physical listing if absent. Called at
    * the head of every WRITE entry; single-mutator by the store's fence
    * discipline.
    *
    * The seed is ATOMIC against concurrent READERS (ADVICE r16): markers
    * are created in a `.live.tmp-<uuid>` staging dir and one rename
    * publishes it as `.live`, so a reader's [[readManifest]] during the
    * one-time legacy-store upgrade sees either no manifest (the legacy
    * listing fallback) or the COMPLETE seed — never a partial marker set,
    * which would be a visibility DEFICIT (a probe missing committed
    * batches can admit a duplicate). A crash mid-seed leaves only the
    * tmp dir: the next write re-seeds fresh, and compaction's fenced
    * debris purge reaps abandoned tmp dirs.
    */
  private[graft] def ensureManifest(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    val live = liveDir(dir)
    if (fs.exists(live)) return
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".live.tmp-${java.util.UUID.randomUUID()}")
    fs.mkdirs(tmp)
    physicalLeaves(fs, dir).foreach { l =>
      fs.create(new org.apache.hadoop.fs.Path(tmp, l.marker), true).close()
    }
    if (!fs.rename(tmp, live)) fs.delete(tmp, true)
    else {
      // Hadoop rename NESTS into an existing destination dir: if a
      // concurrent seeder won the race after the exists check, our tmp
      // landed INSIDE the winner's .live. The stray entry parses as no
      // marker (leafOfMarker rejects it) so it was never reader-visible —
      // remove it.
      val nested = new org.apache.hadoop.fs.Path(live, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
    }
  }

  /** Retire `leaves`: log their relpaths (timestamp in the filename),
    * THEN remove their markers. Log-before-remove means a crash between
    * the two leaves a logged-but-still-live leaf — the reap skips leaves
    * whose marker is present, and the duplicate folds away in a later
    * pass. Physical deletion is the reap's job, after the grace.
    */
  private def retireLeaves(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                           leaves: Seq[LiveLeaf]): Unit = {
    if (leaves.isEmpty) return
    val log = new org.apache.hadoop.fs.Path(dir,
      s".retired-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
    val out = fs.create(log, true)
    try out.write(leaves.map(_.relPath).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    removeMarkers(fs, dir, leaves)
  }

  /** Delete retired leaves whose log is older than `graceMs`, then
    * reconcile ORPHANS — physical leaves below `minLiveBatch` that are
    * neither manifest-live nor awaiting a grace window (a publish that
    * crashed before its marker landed: never visible to any reader,
    * safe to delete). Leaves at or above `minLiveBatch` are untouched:
    * a CONCURRENT admission commit's leaf exists for an instant before
    * its marker does, and the watermark keeps such ids live. Caller
    * must exclude concurrent compactors (the generation fence, or a
    * true quiesce). A logged leaf whose marker is somehow live again
    * (the crash-between-log-and-remove case) is skipped and its entry
    * dropped — it is a live duplicate a later fold retires properly.
    */
  private def reapRetiredTree(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                              graceMs: Long, minLiveBatch: Long): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(path)) return
    val now = System.currentTimeMillis()
    def entriesOf(st: org.apache.hadoop.fs.FileStatus): List[String] = {
      val in = fs.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    // one manifest listing for the whole reap: a leaf is SHIELDED from
    // physical deletion while its own marker is live, while a FLAT
    // marker claims its whole batch dir (so every physical leaf under
    // it is live), or — for a flat leaf, whose relPath IS the batch
    // dir — while any per-bucket marker of that batch is live. Without
    // the batch-level shields, a tree in the mixed state the r16
    // mis-seed could produce (one flat marker over a bucketed dir)
    // would lose its live per-bucket leaves to the orphan scan: marker
    // granularity and physical granularity must never have to match
    // exactly for the reap to be safe.
    val liveNames: Set[String] =
      if (!fs.exists(liveDir(dir))) Set.empty
      else fs.listStatus(liveDir(dir)).map(_.getPath.getName).toSet
    def shielded(l: LiveLeaf): Boolean =
      liveNames.contains(l.marker) ||
        liveNames.contains(s"__batch=${l.batch}") ||
        (l.leaf.isEmpty &&
          liveNames.exists(_.startsWith(s"__batch=${l.batch}$MarkerSep")))
    val logs = fs.listStatus(path)
      .filter(_.getPath.getName.startsWith(".retired-"))
    // age by the log file's MODIFICATION time, not the wall-clock
    // timestamp the RETIRER embedded in the filename (ADVICE r16): on a
    // multi-node filesystem the retirer's and reaper's clocks skew, and a
    // retirer running ahead would silently shorten the grace below
    // [[RetireGraceConf]]. The modification time is stamped by the
    // filesystem — one clock for every log, whoever wrote it. (The
    // filename timestamp stays for humans and for uniqueness.)
    val (due, pending) = logs.partition { st =>
      graceMs <= 0L || now - st.getModificationTime >= graceMs
    }
    due.foreach { st =>
      entriesOf(st).flatMap(leafOfRel).foreach { l =>
        if (!shielded(l)) {
          fs.delete(new org.apache.hadoop.fs.Path(dir, l.relPath), true)
          // drop the batch dir once its last leaf is gone
          val bd = new org.apache.hadoop.fs.Path(dir, s"__batch=${l.batch}")
          try if (fs.exists(bd) && fs.listStatus(bd).isEmpty) fs.delete(bd, false)
          catch { case _: java.io.IOException => () }
        }
      }
      fs.delete(st.getPath, false)
    }
    // orphan reconciliation: markerless, unlogged, below the watermark
    if (fs.exists(liveDir(dir))) {
      val graced = pending.flatMap(entriesOf).flatMap(leafOfRel)
        .map(_.relPath).toSet
      physicalLeaves(fs, dir)
        .filter(_.batch < minLiveBatch)
        .filterNot(l => graced.contains(l.relPath))
        .filterNot(shielded)
        .foreach { l =>
          fs.delete(new org.apache.hadoop.fs.Path(dir, l.relPath), true)
          val bd = new org.apache.hadoop.fs.Path(dir, s"__batch=${l.batch}")
          try if (fs.exists(bd) && fs.listStatus(bd).isEmpty) fs.delete(bd, false)
          catch { case _: java.io.IOException => () }
        }
    }
  }

  /** Maintenance hook: reap every tree's retired-leaf and orphan debris
    * older than `graceMs` (0 = everything markerless — safe only at a
    * TRUE quiesce with no probe in flight, which is also what permits
    * the default `minLiveBatch` of MaxValue). The per-compaction reap
    * keeps steady state bounded; this closes the tail for a store whose
    * gauge goes quiet right after a retirement.
    */
  def reapRetired(spark: SparkSession, storeDir: String, graceMs: Long,
                  minLiveBatch: Long = Long.MaxValue): Unit =
    Seq(bandsDir(storeDir), sigsDir(storeDir), evictedDir(storeDir)).foreach { d =>
      reapRetiredTree(fsFor(spark, d), d, graceMs, minLiveBatch)
    }

  private def retireGraceMs(spark: SparkSession): Long =
    spark.conf.get(RetireGraceConf, "60000").toLong

  /** Live batch ids of one tree — manifest-backed where present. Public
    * to tests: physical dir counts include retired-but-unreaped leaves
    * and are NOT the store's logical state.
    */
  private[graft] def liveBatchIds(spark: SparkSession, dir: String): Seq[Long] =
    readManifest(spark, dir)
      .getOrElse(physicalLeaves(fsFor(spark, dir), dir))
      .map(_.batch).distinct

  /** Manifest-backed read of one tree's live leaves (tests and
    * maintenance verification; production probes use [[readTree]]'s
    * geometry-aware form). `mergeSchema` handles mixed-epoch rows.
    */
  private[graft] def readLive(spark: SparkSession, dir: String): DataFrame =
    readLeaves(spark, dir, merge = true, buckets = None)

  /** Core manifest-backed scan: the live leaves as explicit paths under
    * `basePath` (partition columns resolve exactly as a directory read).
    * `buckets` restricts the LISTING to the given bucket-leaf names — the
    * probe's win: only touched buckets' files are ever enumerated. When
    * the bucket subset selects nothing, one live leaf is read anyway so
    * the frame has the tree's schema; the caller's bucket filter empties
    * it. Legacy (manifest-less) trees read by directory listing.
    */
  private def readLeaves(spark: SparkSession, dir: String, merge: Boolean,
                         buckets: Option[Set[String]]): DataFrame = {
    readManifest(spark, dir) match {
      case Some(leaves) if leaves.nonEmpty =>
        val sel = buckets.fold(leaves)(bs =>
          leaves.filter(_.leaf.forall(bs.contains)))
        val pick = (if (sel.nonEmpty) sel else leaves.take(1)).map(l => s"$dir/${l.relPath}")
        val reader = spark.read.option("basePath", dir)
        if (merge) reader.option("mergeSchema", "true").parquet(pick: _*)
        else Tables.parquet(spark, reader, pick)
      case Some(_) =>
        // manifest present but empty: callers guard on hasBatches, so
        // this is unreachable in the engine — fail like a missing dir
        // would rather than inventing a schema
        Tables.parquet(spark, dir)
      case None =>
        if (merge) spark.read.option("mergeSchema", "true").parquet(dir)
        else Tables.parquet(spark, dir)
    }
  }

  /** True when `dir` holds at least one LIVE committed `__batch=`
    * partition — the manifest where present (retired-but-unreaped
    * leaves are not live), the physical listing for legacy trees.
    */
  private def hasBatches(spark: SparkSession, dir: String): Boolean =
    readManifest(spark, dir) match {
      case Some(leaves) => leaves.nonEmpty
      case None =>
        val path = new org.apache.hadoop.fs.Path(dir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(path) && fs.listStatus(path)
          .exists(st => st.isDirectory && st.getPath.getName.startsWith("__batch="))
    }

  /** `origin = true` (the `sigs/` and `bands/` trees) additionally
    * stamps the batch id into a DATA column `__obatch` that compaction
    * preserves per row — the eviction batch-gate's rank (see
    * [[maskEvicted]]). The tombstone and admitted trees don't carry it.
    */
  private def overwriteBatchPartitions(df: DataFrame, batchId: Long,
                                       extraBucket: Option[(String, org.apache.spark.sql.Column, Int)],
                                       dir: String, origin: Boolean = false,
                                       // false only for caller-owned
                                       // OUTPUT dirs (the admitted tree)
                                       // — consumers there read the dir
                                       // directly and nothing retires it
                                       manifest: Boolean = true): Unit = {
    if (manifest) ensureManifest(df.sparkSession, dir)
    val stamped0 = df.withColumn("__batch", lit(batchId))
    val stamped =
      if (origin) stamped0.withColumn("__obatch", lit(batchId)) else stamped0
    // cluster rows by their bucket before the partitioned write so each
    // bucket directory receives ONE file per batch, not one per task —
    // without this a 32-task batch writes 32×64 ≈ 2k files and the
    // store's files (hence every later probe's listing/scan cost) grow
    // ~linearly in tasks×buckets×batches instead of buckets×batches.
    // Measured: the unclustered layout made per-batch admission wall
    // time climb ~10 s/batch on a 10-batch run; clustered it stays flat.
    // The count is EXPLICIT (the bucket count — pmod makes bucket ==
    // shuffle partition, the LabelStore.writeSigsBands discipline):
    // a bare repartition(col) is AQE-coalescible by BYTES, and the
    // byte-tiny bucketed writes folded into 2–4 tasks that created the
    // 64/16 bucket files serially — measured 3.7 s (sigs) + 2.4 s
    // (bands) per importCorpus at sf0.1, parquet-writer init bound, not
    // data bound. One file per bucket dir either way.
    val (partCols, withBuckets) = extraBucket match {
      case Some((name, c, n)) =>
        (Seq("__batch", name), stamped.withColumn(name, c).repartition(n, col(name)))
      case None => (Seq("__batch"), stamped)
    }
    withBuckets.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(dir)
    if (manifest) {
      // mark the just-committed leaves live: one listing of the batch
      // dir (never the tree), then idempotent marker creates. Marking
      // happens before this method returns — i.e. before the streaming
      // checkpoint commits the batch — so a committed batch is always
      // manifest-visible, and a crash before marking is replayed.
      val fs = fsFor(df.sparkSession, dir)
      val bd = new org.apache.hadoop.fs.Path(dir, s"__batch=$batchId")
      val leaves = extraBucket match {
        case Some(_) =>
          (try fs.listStatus(bd).toSeq
           catch { case _: java.io.IOException => Seq.empty })
            .filter(c => c.isDirectory && c.getPath.getName.contains("="))
            .map(c => LiveLeaf(batchId, Some(c.getPath.getName)))
        case None => Seq(LiveLeaf(batchId, None))
      }
      addMarkers(fs, dir, leaves)
    }
  }

  /** Batch-count threshold at which [[needsCompaction]] fires
    * (`spark.graft.band.compactAfterBatches`, default 64): each
    * micro-batch adds up to bandBuckets+sigBuckets+1 leaf directories,
    * so at the default geometry 64 batches ≈ 5k leaves — the point
    * where LISTING (not data) starts to dominate the probe's cost on a
    * filesystem-backed store. A session conf, not store geometry: the
    * cadence is an operational choice, re-tunable per deployment.
    */
  val CompactAfterBatchesConf = "spark.graft.band.compactAfterBatches"

  /** Wall-clock budget (seconds, double) one quiesce point may spend on
    * incremental compaction slices
    * (`spark.graft.band.compactSliceBudgetSec`, default 2.0). A slice
    * in flight always completes — its publish is atomic — so the actual
    * pause can overshoot by about one slice.
    */
  val CompactSliceBudgetConf = "spark.graft.band.compactSliceBudgetSec"

  /** Leaf-directory budget per incremental compaction slice
    * (`spark.graft.band.compactSliceLeaves`, default 1024): buckets
    * pack into one slice (most fragmented first) until their combined
    * `(__batch, bucket)` leaf count reaches this, so slice cost tracks
    * the actual merge volume — a small store folds completely in one
    * slice while a 5000-leaf soak store folds in ~5 bounded ones.
    */
  val CompactSliceLeavesConf = "spark.graft.band.compactSliceLeaves"

  /** Byte budget per incremental compaction slice
    * (`spark.graft.band.compactSliceBytes`, default 64 MiB): the
    * primary pack cap — a slice's pause tracks the data volume it
    * merges, so bounding bytes bounds the pause whatever the store has
    * grown to.
    */
  val CompactSliceBytesConf = "spark.graft.band.compactSliceBytes"

  /** Base fan-in before a MAJOR fold
    * (`spark.graft.band.compactBaseFanin`, default 8): minor folds
    * stack up to this many small bases per bucket before one major
    * fold merges them — the LSM trade between write amplification
    * (each row rewritten ~once per fanin cycles) and probe listing
    * width (≤ fanin bases + one cadence of batches per bucket).
    */
  val CompactBaseFaninConf = "spark.graft.band.compactBaseFanin"

  /** Maintenance gauge (VERDICT r12 #6): true when any of the store's
    * trees holds at least the configured number of `__batch=` partition
    * directories — the small-files/listing tax [[compactStore]] exists
    * to bound, REPORTED by the store instead of guessed by the
    * operator. Compaction folds every eligible batch into one base
    * generation per tree, so the gauge resets after a compact and the
    * loop "admit → gauge → quiesced compact" self-schedules. Cost: one
    * directory listing per tree — O(batch dirs), the very quantity
    * being measured, and far cheaper than the probe scan that pays the
    * tax.
    */
  def needsCompaction(spark: SparkSession, storeDir: String): Boolean = {
    val threshold = spark.conf.get(CompactAfterBatchesConf, "64").toInt
    Seq(bandsDir(storeDir), sigsDir(storeDir), evictedDir(storeDir))
      .exists(batchDirCount(spark, _) >= threshold)
  }

  /** LIVE batch-dir count — the compaction gauge's input. Counts the
    * manifest where present: retired-but-unreaped leaves must not keep
    * the gauge firing after the fold that retired them.
    */
  private def batchDirCount(spark: SparkSession, dir: String): Int =
    liveBatchIds(spark, dir).size

  /** Batch id of the FIRST compacted base generation. Base generations
    * are negative and strictly decreasing (−1, −2, …) so they can never
    * collide with a live micro-batch id (≥ 0) and probes'
    * `__batch =!= currentBatchId` replay-exclusion can never hide
    * compacted history.
    */
  val BaseBatch: Long = -1L

  /** Quiesced full compaction — [[compactStore(spark:SparkSession,storeDir:String,minLiveBatch:Long)*]]
    * with every batch eligible; run it between drains with the stream's
    * checkpoint fully committed.
    */
  def compactStore(spark: SparkSession, storeDir: String): Unit =
    compactStore(spark, storeDir, Long.MaxValue)

  /** Maintenance: merge the per-batch partition trees of every batch id
    * `< minLiveBatch` (prior base generations included) into ONE new base
    * generation per bucket. Every micro-batch adds up to [[BandBuckets]]
    * `(__batch, __bb)` leaf directories — after thousands of batches the
    * file LISTING, not the data, becomes the probe's cost (the
    * small-files tax of high-frequency sinks, same problem
    * [[graft.sources.Sinks.compact]] solves for flat dirs). Compaction
    * restores O(buckets) listing while preserving bucketing, so probe
    * pruning is untouched.
    *
    * THE invariant the caller owes this method: `minLiveBatch` must not
    * exceed any batch id the stream's checkpoint could still REPLAY
    * (i.e. pass committed-watermark + 1). Structured Streaming replays
    * at most the one batch whose commit is missing, so everything at or
    * below the committed watermark is compactable while the stream runs.
    * Batches ≥ `minLiveBatch` are never read or touched here, which is
    * what makes concurrent admission safe.
    *
    * Why concurrent admission stays CORRECT at every interleaving
    * (r16: the visibility switch is the `.live` MANIFEST, not the
    * directory tree — see the manifest section above):
    *   1. the new base generation is published first — the atomic
    *      directory rename lands it, then its markers are ADDED before
    *      any source marker is removed — so the manifest-visible set is
    *      always a superset (with duplicates, never a deficit) of the
    *      logical store;
    *   2. admission decisions are insensitive to duplicate store rows:
    *      candidate pairs and drop sets are `distinct()`ed, so a row
    *      visible under both its source batch and the new base changes
    *      nothing (note this says NOTHING about replay — see below);
    *   3. retirement of each merged source is marker removal plus a
    *      `.retired` log; the FILES stay at their original paths until a
    *      reap finds the log older than [[RetireGraceConf]]. A probe
    *      that pinned the manifest in the instant before retirement
    *      therefore finishes against intact files (Round7Spec asserts
    *      ZERO admission retries under a racing compactor); the
    *      idempotent-overwrite task/batch retry remains as the backstop
    *      for a probe outliving the grace. Crash debris (markerless
    *      publishes, legacy `.trash-`/`.compact-` dirs) is reconciled
    *      under the next compaction's fence.
    *
    * Replay interaction (the reason the invariant above is phrased in
    * checkpoint terms, NOT an appeal to pair-distinctness): a replay of
    * batch b recomputes its admission against `__batch != b`. If b's own
    * rows had been compacted into a base generation, b would see its own
    * docs as store peers — each doc a J=1.0 "duplicate" of itself — and
    * silently un-admit its entire batch. The probe's self-pair filter
    * (`peer_id != batch_id`, [[admitBatch]] step 2a) neutralizes exactly
    * the self-veto and nothing more: b would STILL see docs admitted by
    * batches AFTER b under the base generation — peers the original run
    * of b never saw — so its recomputed decision could differ from the
    * committed one. Only the watermark invariant prevents that; the
    * filter is defense-in-depth for the self-pair case, not a license to
    * compact live batches.
    */
  def compactStore(spark: SparkSession, storeDir: String,
                   minLiveBatch: Long): Unit = {
    val absorb = eligibleTombstones(spark, storeDir, minLiveBatch)
    try {
      val g = ensureGeometry(spark, storeDir)
      rewriteTree(spark, bandsDir(storeDir), "__bb",
        pmod(col("bh"), lit(g.bandBuckets)).cast("int"), g, minLiveBatch,
        absorb, subset = None)
      rewriteTree(spark, sigsDir(storeDir), "__db",
        pmod(col("doc_id"), lit(g.sigBuckets)).cast("int"), g, minLiveBatch,
        absorb, subset = None)
      // absorb: both trees have dropped the masked rows — the old
      // tombstone partitions are dead weight now. A crash before this
      // delete leaves them masking already-absent rows — a GENUINE no-op
      // because the gate ranks by the per-row `__obatch`, which the base
      // rows kept: a doc re-admitted after the tombstone still outranks
      // it, exactly as before the compaction (ADVICE r11 — ranking by
      // the re-stamped partition `__batch` here would mute the doc's
      // veto and the next absorb would drop its rows for good). The next
      // compaction's tombstone-only path re-absorbs the leftovers.
      absorb.foreach { _ =>
        // retire (not delete): a concurrent probe's eviction-mask read
        // pinned the pre-absorb manifest and must finish against intact
        // tombstone files — same grace discipline as the data trees.
        // FENCED (ADVICE r16): reapRetiredTree's contract requires the
        // caller to exclude concurrent compactors, and the data trees get
        // that from rewriteTree's per-generation fence — this block runs
        // AFTER those fences released, so a compactor stalled here racing
        // a newer pass's absorb could interleave a retire-log write with
        // the other's orphan/reap scan. The sentinel generation (never a
        // real base: bases are allocated per-DATA-tree and the evicted
        // tree never receives one) serializes the two; a live holder
        // makes the late pass fail loudly, and the next compaction's
        // tombstone-only path re-absorbs whatever it left.
        val ed = evictedDir(storeDir)
        val efs = fsFor(spark, ed)
        val edPath = new org.apache.hadoop.fs.Path(ed)
        graft.operators.StoreDirs.acquireGen(efs, edPath, EvictMaintGen)
        try {
          ensureManifest(spark, ed)
          val dead = readManifest(spark, ed).getOrElse(Seq.empty)
            .filter(_.batch < minLiveBatch)
          retireLeaves(efs, ed, dead)
          reapRetiredTree(efs, ed, effectiveRetireGraceMs(spark, storeDir),
            minLiveBatch)
        } finally graft.operators.StoreDirs.releaseGen(efs, edPath, EvictMaintGen)
      }
      // EPOCH UPGRADE: a FULL quiesced compaction of a legacy (epoch-0)
      // store has just migrated every surviving row's `__obatch`, so the
      // store is uniformly post-upgrade — restamp the epoch so probes
      // stop paying the per-batch schema-merge tax forever (the only
      // other escape is an importCorpus rebuild). Guarded by reading the
      // trees back: the lone-legacy-base no-op early return above leaves
      // un-migrated rows in place, and such a tree's schema (one base,
      // all files alike) still lacks the column — the check is exact.
      // Partial compactions never upgrade: legacy batches may survive
      // above minLiveBatch.
      def treeUniform(dir: String): Boolean =
        !hasBatches(spark, dir) ||
          readLeaves(spark, dir, merge = false, buckets = None)
            .columns.contains("__obatch")
      if (minLiveBatch == Long.MaxValue && g.obatchEpoch == 0 &&
          treeUniform(bandsDir(storeDir)) && treeUniform(sigsDir(storeDir))) {
        val p = new org.apache.hadoop.fs.Path(storeDir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.operators.StoreDirs.restamp(fs,
          new org.apache.hadoop.fs.Path(storeDir, ".geometry"),
          Seq("bandBuckets" -> g.bandBuckets, "sigBuckets" -> g.sigBuckets,
            "obatchEpoch" -> 1), replace = true)
      }
    } finally absorb.foreach(_.unpersist())
  }

  /** Tombstones old enough to ABSORB this cycle (final by the same
    * watermark contract as the merge itself): their masked rows are
    * physically dropped from the merged base; the FULL compaction then
    * deletes the tombstone partitions — the disk-reclaim half of the
    * retention contract. Newer tombstones stay and keep masking at
    * read. The caller owns the unpersist.
    */
  private def eligibleTombstones(spark: SparkSession, storeDir: String,
                                 minLiveBatch: Long): Option[DataFrame] =
    if (!hasBatches(spark, evictedDir(storeDir))) None
    else {
      val e = readLeaves(spark, evictedDir(storeDir), merge = false, buckets = None)
        .filter(col("__batch") < minLiveBatch)
        .groupBy(col("doc_id")).agg(max(col("__batch")).as("__tb"))
      if (e.isEmpty) None else Some(e.persist())
    }

  /** Merge one store tree's eligible batches into a new base
    * generation — the shared core of the full compaction
    * ([[compactStore(spark:SparkSession,storeDir:String,minLiveBatch:Long)*]],
    * `subset = None`) and the budgeted per-bucket slices
    * ([[compactSlices]], `subset = Some(buckets)`). In subset mode only
    * rows of the given bucket values merge, only those buckets' leaf
    * directories retire (a batch directory is deleted once its last
    * leaf is gone), and absorbed tombstone ROWS are dropped while the
    * tombstone partitions stay — a doc's rows span many buckets, so the
    * partitions may only be deleted by the full pass, after EVERY
    * bucket has dropped them (until then they mask already-absent rows,
    * the documented genuine no-op).
    */
  private def rewriteTree(spark: SparkSession, dir: String, bucketCol: String,
                          bucketOf: org.apache.spark.sql.Column, g: Geometry,
                          minLiveBatch: Long, absorb: Option[DataFrame],
                          subset: Option[Seq[Int]],
                          // subset mode only: false = MINOR fold (live
                          // batch leaves only; prior bases untouched —
                          // the bounded-write-amplification tier)
                          includeBases: Boolean = true): Unit = {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) return
      // the compactor is a writer: seed the manifest on a legacy store
      // so this very pass's retirements are already manifest-governed
      ensureManifest(spark, dir)
      // PHYSICAL ids — the newBase allocator's input: retired-but-
      // unreaped dirs must keep their ids reserved or a new base could
      // rename onto one and nest
      def listIds() = fs.listStatus(path)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__batch="))
        .map(_.getPath.getName.stripPrefix("__batch=").toLong)
      // LIVE leaves — what this pass may read and retire
      def liveLs(): Seq[LiveLeaf] = readManifest(spark, dir).getOrElse(Seq.empty)
      // in subset mode, a batch is a SOURCE only if it holds a LIVE leaf
      // of one of the slice's buckets — others are untouched; a minor
      // fold additionally skips base (negative-id) generations
      def leafIds(leaves: Seq[LiveLeaf]): Seq[Long] = {
        val eligible = leaves.filter(_.batch < minLiveBatch)
        (subset match {
          case None => eligible
          case Some(bs) =>
            val names = bs.map(b => s"$bucketCol=$b").toSet
            // exists, not forall (ADVICE r16): a FLAT leaf (None) holds
            // rows of every bucket, so a subset slice — which merges only
            // rows matching the slice's bucket filter but retires whole
            // leaf dirs — must never take it as a source: it would retire
            // the entire `__batch=b` dir while having folded only the
            // slice's rows, dropping the other buckets' rows at the reap.
            // Flat leaves fold only in FULL (subset = None) passes.
            eligible.filter(l => includeBases || l.batch >= 0)
              .filter(_.leaf.exists(names.contains))
        }).map(_.batch).distinct
      }
      val ids0 = listIds()
      val oldIds0 = leafIds(liveLs())
      // nothing to merge: no eligible batches, or a lone already-compacted
      // base generation (idempotent no-op, no generation churn) — UNLESS
      // absorbable tombstones exist, whose rows live in that base and
      // must be physically dropped (full mode only: a slice cannot know
      // which buckets hold a tombstone's rows without reading them)
      if (oldIds0.isEmpty ||
          (oldIds0.length == 1 && oldIds0.head < 0 &&
            (absorb.isEmpty || subset.nonEmpty))) return
      val newBase = math.min(ids0.min, 0L) - 1L
      // concurrent-compaction fence on the base generation about to be
      // produced: two compactors racing the same store would both merge
      // the same sources and both rename onto `__batch=<newBase>` — the
      // second rename NESTS under Hadoop rename-into-existing-dir
      // semantics, corrupting the published tree. One wins the
      // create-exclusive; the loser fails loudly before reading anything.
      graft.operators.StoreDirs.acquireGen(fs, path, newBase)
      try {
      // purge debris crashed predecessors left behind: trash from a
      // retire-then-delete crash, and `.compact-` staging from a crash
      // before publish. Safe ONLY under the fence: any live compactor
      // would have held it (a holder stalled past the fence lease loses
      // its staging here and its rename fails loudly — the documented
      // lease residual, never a silent nest).
      fs.listStatus(path).filter { st =>
        val nm = st.getPath.getName
        nm.startsWith(".trash-") || nm.startsWith(".compact-") ||
          // a manifest seed that crashed between mkdirs and publish
          nm.startsWith(".live.tmp-")
      }.foreach(st => fs.delete(st.getPath, true))
      // sweep fences of PUBLISHED older generations (k > newBase with
      // its `__batch=k` dir on disk): the dir's existence proves the
      // producer finished deciding — the fence is spent (nobody can
      // re-claim a published generation). A compactor SIGKILLed between
      // publish and release would otherwise leave its fence forever,
      // and if its generation is later orphan-reaped the id becomes
      // allocatable again with a dead fence squatting on it —
      // lease-blocking the legitimate claimer. Safe only under OUR
      // fence (k == newBase is ours and excluded).
      fs.listStatus(path).filter { st =>
        val nm = st.getPath.getName
        !st.isDirectory && nm.startsWith(".fence-")
      }.foreach { st =>
        st.getPath.getName.stripPrefix(".fence-")
          .takeWhile(c => c.isDigit || c == '-').toLongOption
          .filter(k => k > newBase &&
            fs.exists(new org.apache.hadoop.fs.Path(path, s"__batch=$k")))
          .foreach(_ => fs.delete(st.getPath, false))
      }
      // re-list under the fence: a competitor that completed between the
      // unfenced listing and the fence acquisition changed the id set
      val ids = listIds()
      val liveNow = liveLs()
      val srcIds = leafIds(liveNow)
      require(math.min(ids.min, 0L) - 1L == newBase && srcIds.nonEmpty,
        s"compactStore: store advanced between listing and fence — retry")
      // distinct() reaps duplicate ROWS (a batch alive in both its source
      // partition and a prior base after an interrupted run) — benign for
      // decisions (see above) but worth merging away here; the copies
      // agree on `__obatch`, so they collapse to one row. The eviction
      // batch-gate ranks by `__obatch` — each row's true source batch,
      // preserved verbatim into the new base — so a doc re-admitted
      // after an old eviction carries its rows forward while the pre-
      // eviction copies fall out, and the ranking is unchanged by
      // however many compactions the rows have been through.
      val merged0 = maskEvicted(
          readTree(spark, dir, g,
              buckets = subset.map(_.map(b => s"$bucketCol=$b").toSet))
            .filter(col("__batch").isin(srcIds: _*) &&
              subset.fold(lit(true))(bs => col(bucketCol).isin(bs: _*))),
          absorb)
      // MIGRATE pre-`__obatch` rows while the true rank is still in
      // reach: a legacy row's `__batch` IS its original batch (legacy
      // base rows get the pre-upgrade base id — the semantics they were
      // written under), and stamping it here makes the store uniformly
      // post-upgrade after one compaction instead of carrying the
      // rankBatch fallback forever. Ensure the column exists first — a
      // store whose schema footer predates the upgrade reads without it.
      // cast: the partition `__batch` reads back as int while the data
      // column is long — an uncast migration would write int `__obatch`
      // rows that a later schema-merge with long ones refuses to read
      val withRank =
        if (merged0.columns.contains("__obatch"))
          merged0.withColumn("__obatch",
            coalesce(col("__obatch"), col("__batch")).cast("long"))
        else merged0.withColumn("__obatch", col("__batch").cast("long"))
      val rows = withRank
        .drop("__batch", bucketCol)
        .distinct()
      val staging = new org.apache.hadoop.fs.Path(
        path, s".compact-${java.util.UUID.randomUUID}")
      // repartition by the bucket column so each leaf lands as ONE file
      // (the IvfStore.writeBatch discipline) — without it every leaf
      // gets a file per shuffle partition and a fold FRAGMENTS the
      // store instead of compacting it (the r15 cadence-16 soak
      // measured 2.5k → 17k files from exactly this). At production
      // scale per-bucket file size is bounded by the bucket count
      // scaling with the corpus (Geometry scaladoc) plus
      // spark.sql.files.maxRecordsPerFile if set.
      rows.withColumn("__batch", lit(newBase))
        .withColumn(bucketCol, bucketOf)
        // explicit count (the overwriteBatchPartitions discipline): a
        // bare repartition(col) is AQE-coalescible by bytes into 1-2
        // tasks that create every bucket file serially
        .repartition(if (bucketCol == "__bb") g.bandBuckets else g.sigBuckets,
          col(bucketCol))
        .write.partitionBy("__batch", bucketCol)
        .parquet(staging.toString)
      // PUBLISH: one atomic rename exposes the whole new generation. A
      // fully-masked merge (every source row tombstone-absorbed) writes
      // no partitions — nothing to publish; retiring the sources below
      // IS the physical reclaim then.
      val stagedGen = new org.apache.hadoop.fs.Path(staging, s"__batch=$newBase")
      if (fs.exists(stagedGen)) {
        val pub = new org.apache.hadoop.fs.Path(path, s"__batch=$newBase")
        require(fs.rename(stagedGen, pub),
          s"compactStore: could not publish $pub")
        // chaos window A: published but UNMARKED — a crash here leaves a
        // markerless base (never reader-visible; sources still live) that
        // the orphan reconciliation reaps
        failpointSleep(spark, "afterPublishMs")
        // manifest-publish the new base's leaves BEFORE retiring the
        // sources: a reader between the two sees a superset (benign
        // duplicates, decisions are distinct()-insensitive), never a
        // deficit
        val baseLeaves = fs.listStatus(pub).toSeq
          .filter(c => c.isDirectory && c.getPath.getName.contains("="))
          .map(c => LiveLeaf(newBase, Some(c.getPath.getName)))
        addMarkers(fs, dir, baseLeaves)
      }
      fs.delete(staging, true)
      // chaos window B: base marked live, sources NOT yet retired — a
      // crash here leaves benign duplicates (manifest superset) a later
      // fold retires properly
      failpointSleep(spark, "afterMarkersMs")
      // RETIRE (manifest discipline, VERDICT r15 #2): remove the merged
      // sources' markers — the visibility switch — and log their paths;
      // the files stay ON DISK at their original names until a reap
      // finds the log older than [[RetireGraceConf]], so an in-flight
      // probe that pinned the pre-retirement manifest finishes against
      // intact files (the old rename-to-trash yanked them and cost that
      // probe a task retry). Subset mode retires only the slice's
      // leaves; empty batch dirs fall to the reap.
      val retired = {
        val inSrc = liveNow.filter(l => srcIds.contains(l.batch))
        subset match {
          case None => inSrc
          case Some(bs) =>
            // exists, mirroring leafIds: a flat leaf is never a subset
            // source, so it must never be subset-retired either
            val names = bs.map(b => s"$bucketCol=$b").toSet
            inSrc.filter(_.leaf.exists(names.contains))
        }
      }
      retireLeaves(fs, dir, retired)
      // reap PRIOR retirements past their grace — still under the fence,
      // and after this pass allocated newBase, so a reaped id cannot
      // shift the allocation it was computed from. The grace is the
      // DERIVED one: widened to 2× the store's gauged slowest probe
      // (VERDICT r16 #2 — the conf alone was the tree's last
      // time-assumed constant).
      reapRetiredTree(fs, dir,
        effectiveRetireGraceMs(spark, path.getParent.toString), minLiveBatch)
      } finally {
        // base ids strictly decrease, so `newBase` is never claimed again
        // — release on success AND failure (the published `__batch` dir,
        // not the fence, is what blocks a stale claimer)
        graft.operators.StoreDirs.releaseGen(fs, path, newBase)
      }
  }

  /** Budgeted incremental compaction (VERDICT r14 #3) — the
    * non-stop-the-world sibling of the full
    * [[compactStore(spark:SparkSession,storeDir:String)*]]: when the
    * [[needsCompaction]] gauge fires, fold per-bucket SLICES
    * of the band/sig trees under the
    * [[CompactSliceBudgetConf]] wall-clock budget instead of one
    * stop-the-world full pass, bounding the ingest pause a quiesce
    * point pays to ~budget (one slice in flight always completes, so
    * the pause can overshoot by about one slice). Folding is TIERED
    * (see [[compactSlices]]): minor folds merge only the delta since
    * the last fold — never the accumulated bases, so pause cost does
    * NOT grow with store size — and bases merge in a major fold once a
    * bucket stacks [[CompactBaseFaninConf]] of them. Bucket groups pack
    * by bytes ([[CompactSliceBytesConf]]); each slice is its own fenced
    * atomic publish, so a crash between slices leaves a store the next
    * quiesce continues from. Semantically
    * invisible exactly as the full compact (superset-visibility
    * publish, distinct-insensitive decisions, `__obatch` ranking).
    *
    * Tombstone partitions are NEVER deleted by slices (a doc's rows
    * span many buckets — only a full pass proves every copy dropped):
    * when the EVICTED tree itself crosses the batch threshold, this
    * method runs the full [[compactStore(spark:SparkSession,storeDir:String)*]]
    * instead — cheap by then, because earlier slices have already
    * folded the data trees.
    *
    * Call only from a quiesce point, with the stream's checkpoint fully
    * committed ([[graft.streaming.Streams.dedupAdmitDrain]] calls it
    * after AvailableNow termination): a full pass folds EVERY batch, so
    * a replayable batch id must not exist when it runs. Returns the
    * pause cost in seconds (None = gauge quiet).
    */
  def compactSliceIfNeeded(spark: SparkSession, storeDir: String): Option[Double] =
    if (!needsCompaction(spark, storeDir)) None
    else {
      val t0 = System.nanoTime()
      val threshold = spark.conf.get(CompactAfterBatchesConf, "64").toInt
      if (batchDirCount(spark, evictedDir(storeDir)) >= threshold)
        compactStore(spark, storeDir)
      else {
        // fold only trees AT the gauge threshold (minFoldDirs): a tree
        // that already folded below it is left alone until it
        // re-accumulates — without this, the bands tree (whose buckets
        // are always ≥2 leaves once any batch lands after a fold) would
        // absorb every quiesce's budget re-rewriting its whole base to
        // fold one batch (O(store) per batch), while the sigs tree
        // starves and keeps the gauge permanently on — the exact
        // pathology the r15 ×50 soak caught on this path's first run
        val n = compactSlices(spark, storeDir, Long.MaxValue,
          minFoldDirs = threshold)
        // progress guarantee: the gauge fired but the tier policy found
        // nothing foldable — the dirs are bases fragmented below the
        // fan-in (tiny slice budgets can shape this). One full fold
        // clears it; otherwise every quiesce would pay the census for
        // nothing and the gauge would never reset.
        if (n == 0) compactStore(spark, storeDir)
      }
      Some((System.nanoTime() - t0) / 1e9)
    }

  /** Run as many per-bucket compaction slices as the
    * [[CompactSliceBudgetConf]] budget allows, each over batches
    * `< minLiveBatch` (same watermark contract as
    * [[compactStore(spark:SparkSession,storeDir:String,minLiveBatch:Long)*]]).
    * Returns the number of slices run. The loop stops STARTING a new
    * slice when the spent time plus the last slice's cost would
    * overshoot the budget.
    *
    * TIERED, the LSM discipline — the cadence-16 ×50 soak measured why:
    * a design that merges every delta into ONE base rewrites O(store)
    * per cycle, so its pause GROWS with store size (7.7 s → 33 s as the
    * base grew). Instead:
    *   - MINOR fold: a bucket's live batch leaves merge into a fresh
    *     small base; prior bases are NOT read or rewritten. Per-cycle
    *     write volume = the delta since the last fold, constant per
    *     cadence — never O(store).
    *   - MAJOR fold: once a bucket has accumulated
    *     [[CompactBaseFaninConf]] bases, those bases (plus any live
    *     leaves) merge into one. Each row is rewritten ~once per fanin
    *     cycles, and probe listing stays bounded by
    *     fanin + cadence leaves per bucket.
    * Both phases pack bucket groups by BYTES
    * ([[CompactSliceBytesConf]], with [[CompactSliceLeavesConf]] as a
    * secondary cap) so a slice's pause tracks merge volume, not an
    * accident of leaf counts.
    *
    * `minFoldDirs`: only trees holding at least this many batch
    * directories are folded (0 = fold everything, the direct-call
    * maintenance form). [[compactSliceIfNeeded]] passes the gauge
    * threshold, and trees fold NEEDIEST FIRST — two properties the ×50
    * soak proved load-bearing: without the filter, a freshly-folded
    * tree's base is re-rewritten every quiesce to absorb one batch;
    * without the ordering, the first tree's work starves the one
    * actually holding the gauge open.
    */
  private[graft] def compactSlices(spark: SparkSession, storeDir: String,
                                   minLiveBatch: Long,
                                   minFoldDirs: Int = 0): Int = {
    val g = ensureGeometry(spark, storeDir)
    val budget = spark.conf.get(CompactSliceBudgetConf, "2.0").toDouble
    val leafBudget = math.max(1, spark.conf.get(CompactSliceLeavesConf, "1024").toInt)
    val bytesBudget = math.max(1L,
      spark.conf.get(CompactSliceBytesConf, (64L * 1024 * 1024).toString).toLong)
    val fanin = math.max(2, spark.conf.get(CompactBaseFaninConf, "8").toInt)
    val t0 = System.nanoTime()
    def spent = (System.nanoTime() - t0) / 1e9
    val absorb = eligibleTombstones(spark, storeDir, minLiveBatch)
    var slices = 0
    var lastSlice = 0.0
    try {
      val trees = Seq(
        (bandsDir(storeDir), "__bb",
          pmod(col("bh"), lit(g.bandBuckets)).cast("int")),
        (sigsDir(storeDir), "__db",
          pmod(col("doc_id"), lit(g.sigBuckets)).cast("int")))
        .map { case t @ (dir, _, _) => (t, batchDirCount(spark, dir)) }
        .filter(_._2 >= minFoldDirs)
        .sortBy(-_._2)
        .map(_._1)
      trees.foreach { case (dir, bucketCol, bucketOf) =>
        val census = bucketCensus(spark, dir, bucketCol, minLiveBatch)
        // minor phase first (the per-cycle delta, the common case),
        // then major (base merge, once per ~fanin cycles per bucket)
        // minor folds take EVERY live leaf (nonBase >= 1): batch dirs
        // only delete when their last leaf retires, so a straggler
        // bucket left unfolded would hold dirs open and keep the gauge
        // firing — and a minor fold's cost is bounded by the delta, so
        // there is no churn to avoid (the need-filter above is what
        // prevents refolding quiet trees)
        val phases: Seq[(Boolean, List[BucketStat])] = Seq(
          (false, census.filter(_.nonBase >= 1)
            .sortBy(s => (-s.nonBase, s.bucket))),
          (true, census.filter(_.base >= fanin)
            .sortBy(s => (-s.base, s.bucket))))
        phases.foreach { case (includeBases, cand) =>
          var remaining = cand
          // `slices == 0`: the first slice of the CALL always runs — a
          // budget smaller than the census overhead must still make
          // progress, or the fold starves forever
          while (remaining.nonEmpty &&
                 (slices == 0 || spent + lastSlice <= budget)) {
            // greedy pack: at least one bucket, then more while both
            // the leaf cap and the byte cap hold
            val group = scala.collection.mutable.ArrayBuffer.empty[Int]
            var leaves = 0
            var bytes = 0L
            def weightL(s: BucketStat) = if (includeBases) s.nonBase + s.base else s.nonBase
            def weightB(s: BucketStat) = if (includeBases) s.nonBaseBytes + s.baseBytes else s.nonBaseBytes
            while (remaining.nonEmpty &&
                   (group.isEmpty ||
                     (leaves + weightL(remaining.head) <= leafBudget &&
                      bytes + weightB(remaining.head) <= bytesBudget))) {
              leaves += weightL(remaining.head)
              bytes += weightB(remaining.head)
              group += remaining.head.bucket
              remaining = remaining.tail
            }
            val s0 = System.nanoTime()
            rewriteTree(spark, dir, bucketCol, bucketOf, g, minLiveBatch,
              absorb, subset = Some(group.toSeq), includeBases = includeBases)
            lastSlice = (System.nanoTime() - s0) / 1e9
            slices += 1
          }
        }
      }
    } finally absorb.foreach(_.unpersist())
    slices
  }

  private case class BucketStat(bucket: Int, nonBase: Int, base: Int,
                                nonBaseBytes: Long, baseBytes: Long)

  /** Per-bucket leaf census of one tree: live-batch leaf count, base
    * leaf count, and their byte volumes — what the tiered packer needs.
    * One three-level listing, O(leaf files) stat calls — paid only at a
    * quiesce point with the gauge already firing (on an object store,
    * once per firing cycle, far cheaper than the probe-listing tax it
    * retires).
    */
  private def bucketCensus(spark: SparkSession, dir: String,
                           bucketCol: String,
                           minLiveBatch: Long): List[BucketStat] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return List.empty
    case class Leaf(bucket: Int, id: Long, bytes: Long)
    // LIVE leaves only (manifest where present): retired-but-unreaped
    // leaves are already folded — a census counting them would re-fold
    // their buckets every quiesce
    val leaves: Seq[Leaf] = readManifest(spark, dir)
      .getOrElse(physicalLeaves(fs, dir))
      .filter(_.batch < minLiveBatch)
      .flatMap { l =>
        l.leaf.flatMap(_.stripPrefix(s"$bucketCol=").toIntOption).map { b =>
          val sz = try fs.listStatus(new org.apache.hadoop.fs.Path(dir, l.relPath))
            .filterNot(_.isDirectory).map(_.getLen).sum
          catch { case _: java.io.IOException => 0L }
          Leaf(b, l.batch, sz)
        }
      }
    leaves.groupBy(_.bucket).toList.map { case (b, ls) =>
      val (bases, live) = ls.partition(_.id < 0)
      BucketStat(b, live.size, bases.size, live.map(_.bytes).sum,
        bases.map(_.bytes).sum)
    }
  }

  /** The pruned probe scan of `bands/` for one batch: only partitions in
    * `touchedBb`, never rows of `batchId` itself (replay safety). Public
    * to let the plan pin assert partition pruning on the exact scan the
    * admission step runs.
    */
  /** `evOpt`: outer None = compute the eviction mask from the store
    * (the plan-pin entry); Some(ev) = the caller's already-computed
    * (possibly cached) mask — admitBatch computes it ONCE per batch and
    * shares it with the sig read.
    */
  private[graft] def probeScan(spark: SparkSession, storeDir: String,
                               touchedBb: Seq[Int], batchId: Long,
                               evOpt: Option[Option[DataFrame]] = None,
                               // the admission loop passes its
                               // already-read Geometry — one geometry
                               // file read per batch, not two
                               gOpt: Option[Geometry] = None): DataFrame =
    maskEvicted(
      readTree(spark, bandsDir(storeDir),
          gOpt.getOrElse(ensureGeometry(spark, storeDir)),
          // manifest-pinned AND bucket-pruned listing: only the touched
          // buckets' live leaves are ever file-enumerated
          buckets = Some(touchedBb.map(b => s"__bb=$b").toSet))
        .filter(col("__bb").isin(touchedBb: _*) && col("__batch") =!= batchId),
      evOpt.getOrElse(evictions(spark, storeDir)))
      .select(col("band"), col("bh"), col("doc_id").as("peer_id"))

  /** One admission step — the foreachBatch body of
    * [[Streams.dedupAdmitSink]], public as the batch/production entry
    * point (the batch form of the loop [[Dedup.x2IncrementalLsh]] is the
    * oracle twin of).
    *
    * Per batch: (0) exact pre-collapse — identical texts drop to their
    * min-id representative before anything is signed (see the inline
    * proof of semantics preservation); (1) sign the representative docs
    * (narrow map over the batch only);
    * (2) candidates vs the store via the bucket-pruned band probe, plus
    * within-batch band collisions — both through the per-(band, bh)
    * population cap; (3) exact Jaccard ≥ 0.8 verification —
    * store-peer shingles read only from the `sigs/` buckets holding
    * candidate peers; (4) within-batch vetoes resolved to the GREEDY
    * min-doc_id admission fixpoint: a doc is dropped only by a smaller
    * peer that itself survives (store-dropped or batch-dropped docs
    * cannot veto — on a near-dup chain A~B~C with A≁C, B drops and C is
    * ADMITTED, exactly what sequential min-id-first admission yields);
    * (5) survivors overwrite their `__batch` partitions in
    * `admittedDir`, `sigs/` and `bands/`.
    */
  def admitBatch(batch: DataFrame, batchId: Long, storeDir: String,
                 admittedDir: String): Unit = {
    val spark = batch.sparkSession
    val cap = Dedup.bucketCap(spark)
    // every persist AND localCheckpoint in this method is released on
    // ALL exits (a probe that races a concurrent compaction's retirement
    // step can fail and be replayed by the engine — the failed attempt
    // must not leak cache; and a long-lived stream runs thousands of
    // batches, so checkpoint blocks left to the ContextCleaner's GC
    // cadence accumulate into memory pressure — the clusterPairs
    // lesson). keep()/pin() are called from the overlapped in-batch
    // verify thread too — synchronize the registries.
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      persisted.synchronized { persisted += df }; df.persist()
    }
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      pinned.synchronized { pinned += cp }; cp
    }
    val t0 = System.nanoTime()
    try {
      admitBatchImpl(batch, batchId, storeDir, admittedDir, cap, keep, pin)
      // the whole-admission wall is a conservative upper bound on how
      // long this batch held any manifest-pinned store read — the
      // measurement [[effectiveRetireGraceMs]] derives the binding
      // retire grace from (VERDICT r16 #2)
      recordProbeWall(spark, storeDir, (System.nanoTime() - t0) / 1000000L)
    } finally {
      persisted.synchronized(persisted.toList).foreach(_.unpersist())
      pinned.synchronized(pinned.toList).foreach(graft.operators.StoreDirs.freePinned)
    }
  }

  private def admitBatchImpl(batch: DataFrame, batchId: Long, storeDir: String,
                             admittedDir: String, cap: Int,
                             keep: DataFrame => DataFrame,
                             pin: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val g = ensureGeometry(spark, storeDir)
    // (0) X1 exact pre-collapse — the `dag_training_prep` ordering (exact
    // dedup BEFORE near-dedup) made a contract of the admission path:
    // among batch docs with identical text only the min-doc_id
    // representative enters the signing/probe pipeline; the rest are
    // exact-dropped up front. This is semantics-preserving for greedy
    // min-id admission, case by case — a non-rep member M of rep R
    // (identical text ⇒ identical shingles ⇒ identical near-dup
    // relations) is dropped in EVERY outcome of the uncollapsed loop: if
    // R survives, R vetoes M (J=1.0, smaller id, survivor); if R is
    // store-dropped, M shares R's store peer and is store-dropped too;
    // if R is batch-dropped by a surviving smaller peer P, the same P
    // vetoes M. Collapsing is what keeps a boilerplate batch (k copies
    // of a template — the crawl-corpus norm) from putting k identical
    // rows into every band bucket; the per-bucket cap below guards what
    // the collapse can't reach (distinct-but-near-identical pileups).
    val signable = batch.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), Dedup.textKey.as("__th"))
    val repIds = signable.groupBy(col("__th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactDropped = signable.select(col("doc_id"))
      .join(repIds, Seq("doc_id"), "left_anti")
    val sig = keep(signDocs(batch.join(repIds, Seq("doc_id"), "left_semi")))
    val batchBands = keep(explodeBands(sig, "batch_id"))
    val storeExists = hasBatches(spark, bandsDir(storeDir))
    // the eviction mask is computed ONCE per batch and cached — both the
    // band probe and the candidate-sig read mask with it
    val ev = evictions(spark, storeDir).map(keep)

    def emptyPairs(aCol: String, bCol: String): DataFrame =
      spark.range(0).select(col("id").as(aCol), col("id").as(bCol))

    // (3) exact verification at Jaccard ≥ 0.8
    def verified(cand: DataFrame, peerSh: DataFrame): DataFrame =
      cand
        .join(sig.select(col("doc_id"), col("sh").as("sh_b")),
          col("batch_id") === col("doc_id")).drop("doc_id")
        .join(peerSh, col("peer_id") === col("doc_id")).drop("doc_id")
        .withColumn("c", size(array_intersect(col("sh_b"), col("sh_p"))).cast("double"))
        .filter(round(col("c") / (size(col("sh_b")) + size(col("sh_p")) - col("c")), 6) >= 0.8)
        .select(col("batch_id"), col("peer_id"))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // (2b) within-batch collisions, verified — launched CONCURRENTLY with
    // the store probe chain below: the self-join and its exact
    // verification depend only on the batch's own bands/sigs, never the
    // store, so the two pipelines overlap (the label-append lesson again;
    // measured ~0.8 s of the steady-state batch). Only a smaller doc_id
    // can veto; the self-join runs through the shared hot-bucket guard
    // (population cap + star-on-overflow, Dedup.cappedSelfPairs) — outA
    // is the bucket-ordered smaller id, i.e. the prospective vetoer.
    // Block-manager locking dedupes any concurrent first materialization
    // of the shared cached frames.
    val fInBatch = Future(timed(spark, "inbatch-verify") {
      val candInBatch = graft.engine.Spread.pairs(
        Dedup.cappedSelfPairs(batchBands, "batch_id", cap, "peer_id", "batch_id", keep),
        "batch_id")
      // Spread.pairs (guide §2.2): the old coalesce(1) here collapsed the
      // whole verify — joins + array_intersect — into ONE task (measured
      // 2.1 s at sf0.1), because coalesce propagates up the narrow chain;
      // verify now runs at the spread width and only the PINNED result
      // (the tiny verified pair graph) coalesces, so every fixpoint round
      // still sees a single-partition frame
      pin(verified(candInBatch, sig.select(col("doc_id"), col("sh").as("sh_p"))))
        .coalesce(1)
    })
    // concurrent work must never outlive this call: settle every launched
    // future before any failure below propagates (a zombie job racing the
    // engine's batch retry). Main-thread appends only.
    val settleables = scala.collection.mutable.ArrayBuffer[Future[Any]](fInBatch)
    def failSettling[A](body: => A): A =
      try body catch { case t: Throwable =>
        // interrupt-robust: a settle aborted by a second interrupt would
        // leave the zombie job racing the engine's batch retry
        settleables.foreach(graft.operators.StoreDirs.settleQuietly)
        throw t
      }
    failSettling {
    // (2a) store candidates through the bucket-pruned probe
    // handle to the probe cache, surfaced so step (5) can release it
    // BEFORE the store writes (see the pre-write cache release there)
    var probeCache: Option[DataFrame] = None
    val candVsStore =
      if (!storeExists) emptyPairs("batch_id", "peer_id")
      else {
        val touched = timed(spark, "sign+touched") { batchBands
          .select(pmod(col("bh"), lit(g.bandBuckets)).cast("int").as("__bb"))
          .distinct().collect().map(_.getInt(0)).toSeq } // ≤ bandBuckets values
        if (touched.isEmpty) emptyPairs("batch_id", "peer_id")
        else {
          // the probe feeds TWO jobs (the bucket-population stats and the
          // candidate join) — persist so the touched partitions are read
          // once per batch, not twice. Transient and batch-scoped: the
          // cached volume IS the touched-bucket occupancy the admission
          // cost model already charges for scanning, and MEMORY_AND_DISK
          // spills rather than evicting the executors at scale.
          val probe = keep(probeScan(spark, storeDir, touched, batchId, Some(ev), Some(g)))
          probeCache = Some(probe)
          // hot-bucket guard, bipartite form: cap the STORE side of each
          // (band, bh) bucket — an over-cap bucket contributes only its
          // min peer (star-probe), bounding the candidate join at
          // |batch bucket| × cap instead of |batch bucket| × |store
          // bucket|. Store buckets are normally sparse (admitted docs are
          // mutually non-near-dup by construction), but SUB-threshold
          // templated corpora can still pile one band value. Overflow
          // only ever under-drops (a dup slips through and is admitted),
          // never over-drops — every candidate is still exactly
          // verified, and a missed peer keeps its chance in each of the
          // other 31 bands.
          val stats = probe.groupBy(col("band"), col("bh"))
            .agg(count(lit(1)).as("__n"), min(col("peer_id")).as("__pmin"))
          // adaptive (Dedup.cappedSelfPairs discipline): one scalar
          // aggregate decides whether any store bucket overflows; the
          // healthy-store case (admitted docs are mutually non-near-dup,
          // buckets sparse) skips the stats join-back and its extra
          // probe scans entirely
          val maxBucket = timed(spark, "probe-maxbucket") {
            stats.agg(coalesce(max(col("__n")), lit(0L))).head.getLong(0) }
          val guarded =
            if (maxBucket <= cap) probe
            else probe
              .join(stats.filter(col("__n") <= cap).select(col("band"), col("bh")),
                Seq("band", "bh"))
              .unionByName(stats.filter(col("__n") > cap)
                .select(col("band"), col("bh"), col("__pmin").as("peer_id")))
          guarded.join(batchBands, Seq("band", "bh"))
            // drop self-pairs: impossible in normal operation (reads
            // exclude __batch = batchId), but if a replayed batch's own
            // rows sit in a compacted base generation it would see its
            // own docs as store peers and self-veto them (Jaccard 1.0).
            // This filter neutralizes ONLY the self-veto — the full
            // replay hazard is prevented by compactStore's watermark
            // invariant, not here (see its scaladoc).
            .filter(col("peer_id") =!= col("batch_id"))
            // the store probe feeds THREE downstream actions (peer-bucket
            // collect, verification, the admitted anti-join) — keep()
            // so the store scan runs once per batch, not once per action
            .select(col("batch_id"), col("peer_id"))
            .distinct()
            .transform(keep)
        }
      }
    val storeDropped =
      if (!storeExists) emptyPairs("doc_id", "ignore").select(col("doc_id"))
      else {
        // candidate peers' shingles: read only the sigs/ buckets holding
        // them — ≤ sigBuckets driver-side values, the Sinks.mergeIntoStore
        // touched-bucket discipline
        val peerBuckets = timed(spark, "cand-vs-store") { candVsStore
          .select(pmod(col("peer_id"), lit(g.sigBuckets)).cast("int").as("__db"))
          .distinct().collect().map(_.getInt(0)).toSeq }
        if (peerBuckets.isEmpty) emptyPairs("doc_id", "ignore").select(col("doc_id"))
        else {
          // same eviction mask as the band probe — a candidate surfaced
          // by a stale band row must not re-materialize via its sig
          val peerSh = maskEvicted(
              readTree(spark, sigsDir(storeDir), g,
                  buckets = Some(peerBuckets.map(b => s"__db=$b").toSet))
                .filter(col("__db").isin(peerBuckets: _*) && col("__batch") =!= batchId),
              ev)
            .select(col("doc_id"), col("sh").as("sh_p"))
          // two consumers (the fixpoint seed's anti-join and the final
          // dropped union) — persist so the sigs scan + verification run
          // once per batch. Spread.pairs: the cached candidate frame
          // holds the AQE-coalesced width (1-2 partitions), serializing
          // the exact verify's array_intersect work
          verified(graft.engine.Spread.pairs(candVsStore, "batch_id"), peerSh)
            .select(col("batch_id").as("doc_id"))
            .distinct().transform(keep)
        }
      }
    // warm the store-veto cache concurrently with the in-batch verify's
    // tail — its sigs-bucket read + exact verification otherwise runs
    // serially at the first downstream action
    val fStoreWarm = Future(timed(spark, "store-verify") { storeDropped.count() })
    settleables += fStoreWarm

    // (4) greedy min-id admission within the batch: iterate
    //     dropped ← {d | ∃ verified pair (p, d), p < d, p not dropped,
    //                    p not store-dropped}
    //     to fixpoint. The veto graph ordered by doc_id is a DAG, so the
    //     iteration fixes nodes bottom-up in ≤ chain-depth rounds; each
    //     round is one join over the (tiny, lineage-truncated) verified
    //     in-batch pair set, and convergence is checked by symmetric
    //     difference. The cap is a backstop for pathological chain depth;
    //     hitting it keeps the conservative (over-dropping) last iterate,
    //     deterministically.
    // join the settled in-batch pairs against the store vetoes; the
    // anti-join sits atop a 1-partition checkpoint and a cached frame,
    // so re-evaluating it per fixpoint round costs nothing
    val pairsLive = timed(spark, "pairs-assemble") {
      Await.result(fStoreWarm, Duration.Inf)
      Await.result(fInBatch, Duration.Inf)
        .join(storeDropped.withColumnRenamed("doc_id", "peer_id"), Seq("peer_id"), "left_anti") }
    // fast path: most production batches carry no within-batch
    // near-dups — one head(1) on the single-partition checkpoint decides,
    // skipping the seed distinct/checkpoint jobs AND the fixpoint
    val anyPairs = pairsLive.head(1).nonEmpty
    var batchDropped =
      if (!anyPairs) emptyPairs("doc_id", "ignore").select(col("doc_id"))
      else pin(pairsLive.select(col("batch_id").as("doc_id")).distinct())
    var converged = !anyPairs
    var rounds = 0
    timed(spark, "fixpoint") { while (!converged && rounds < 32) {
      val next = pin(pairsLive
        .join(batchDropped.withColumnRenamed("doc_id", "peer_id"), Seq("peer_id"), "left_anti")
        .select(col("batch_id").as("doc_id")).distinct())
      converged = next.exceptAll(batchDropped).isEmpty && batchDropped.exceptAll(next).isEmpty
      batchDropped = next
      rounds += 1
    } }

    val dropped = storeDropped.unionByName(batchDropped)
      .unionByName(exactDropped).distinct()
    // the write inputs are PINNED (lineage-truncating localCheckpoint),
    // not merely cached, and every store-reading cache is released before
    // the writes — because each store write ends in Spark's
    // refreshByPath(target), which walks EVERY registered cache whose
    // plan references the written tree. With the probe/candidate/veto
    // caches still registered, that walk grew with the store and put an
    // O(store) term into each batch's constant-size write (measured:
    // write-bands 0.9 → 3.4 s over ten batches; the same write is flat
    // with no live cache over the target and grows with one). A pinned LogicalRDD has no file
    // relation for the refresh to match, so the writes stay flat.
    val admitted = pin(batch.join(dropped, Seq("doc_id"), "left_anti"))
    val admittedSig =
      pin(sig.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    // fully consumed at this point (dropped → admitted is materialized by
    // the pin); releasing them now is what keeps refreshByPath a no-op
    probeCache.foreach(_.unpersist())
    candVsStore.unpersist()
    storeDropped.unpersist()

    // (5) idempotent writes: dynamic overwrite of this batch's partitions.
    // The three trees are independent (distinct directories, shared
    // pinned inputs), so they run CONCURRENTLY — the label-append lesson:
    // the sequential form spent half the steady-state batch on write
    // latency (3×~1.3 s of small-file commit overhead that doesn't
    // contend). Replay safety is unchanged: a crash leaves any SUBSET of
    // the three committed, and the engine's batch retry overwrites all
    // three with identical bytes.
    def writeSigs(): Unit = timed(spark, "write-sigs") {
      overwriteBatchPartitions(admittedSig, batchId,
        Some(("__db", pmod(col("doc_id"), lit(g.sigBuckets)).cast("int"), g.sigBuckets)), sigsDir(storeDir),
        origin = true) }
    def writeBands(): Unit = timed(spark, "write-bands") {
      overwriteBatchPartitions(explodeBands(admittedSig, "doc_id"), batchId,
        Some(("__bb", pmod(col("bh"), lit(g.bandBuckets)).cast("int"), g.bandBuckets)), bandsDir(storeDir),
        origin = true) }
    def writeAdmitted(): Unit = timed(spark, "write-admitted") {
      overwriteBatchPartitions(admitted, batchId, None, admittedDir,
        manifest = false) }
    val writes = Seq(Future(writeSigs()), Future(writeBands()), Future(writeAdmitted()))
    // settle ALL three before propagating any failure — a zombie write
    // racing the engine's batch retry is two writers on one partition
    // tree (interrupt-robust for the same reason as failSettling)
    graft.operators.StoreDirs.settleAll(writes)
    }
  }
}
