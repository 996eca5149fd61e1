package graft

import org.apache.spark.sql.functions._
import Fixtures.{admittedIn, text}

/** Round-12 regressions — the four ADVICE r11 findings:
  * the compaction crash-window eviction bug (medium), the
  * [[graft.sources.Sinks.compact]] swap-restore-on-throw, the
  * exact (uncapped) in-batch pre-filter of the eviction gate, and the
  * owner-token process scoping (tested in Round11Spec alongside the
  * other fence tests).
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // ADVICE r11 (medium): a tombstone surviving a crash between the
  // compacted base publish and the tombstone delete must stay a no-op —
  // a doc evicted at E and re-admitted at B > E keeps vetoing, and the
  // next compaction must NOT drop its signature state.
  // ---------------------------------------------------------------

  test("BandStore: a crash-leftover tombstone cannot mute or destroy a re-admitted doc's state") {
    import graft.streaming.BandStore
    val root = tmpDir("r12-crashwin")
    val store = s"$root/store"
    val admitted = s"$root/admitted"

    // corpus adopted at batch 0; doc 3 evicted at batch 1; the SAME id
    // re-admitted at batch 2 (its only peer is its own masked past)
    BandStore.importCorpus(frame((0 until 20).map(i => (i.toLong, text("a", i)))), 0L, store)
    BandStore.evictDocs(Seq(3L).toDF("doc_id"), 1L, store)
    BandStore.admitBatch(frame(Seq((3L, text("a", 3)))), 2L, store, admitted)
    assert(admittedIn(spark, admitted, 2L) == Set(3L), "the evicted id must be re-admittable")

    // full compaction: batches 0 and 2 fold into base −1, tombstone 1 is
    // absorbed and deleted
    BandStore.compactStore(spark, store, minLiveBatch = 3L)
    // CRASH SIMULATION: the delete is the last step — re-planting the
    // tombstone partition reproduces exactly the state a crash between
    // the base publishes and the tombstone delete leaves behind
    BandStore.evictDocs(Seq(3L).toDF("doc_id"), 1L, store)

    // (a) the doc's folded rows must still OUTRANK the stale tombstone:
    // a copy of its text is vetoed, not admitted
    BandStore.admitBatch(frame(Seq((200L, text("a", 3)))), 3L, store, admitted)
    assert(admittedIn(spark, admitted, 3L).isEmpty,
      "a re-admitted doc must keep vetoing across a crash-leftover tombstone")

    // (b) the next compaction's re-absorb must keep the rows (the old
    // `__batch`-ranked gate dropped them for good here) and clear the
    // leftover tombstone
    BandStore.compactStore(spark, store, minLiveBatch = 4L)
    // force-reap (grace 0, quiesced): the physical reads below must see
    // the reaped layout, not grace-deferred retired leaves
    BandStore.reapRetired(spark, store, 0L)
    val sigs = spark.read.parquet(BandStore.sigsDir(store))
    assert(sigs.filter(col("doc_id") === 3L).count() == 1,
      "the re-admitted doc's signature state must survive the re-absorb")
    assert(sigs.filter(col("doc_id") === 3L).select("__obatch")
      .head.getLong(0) == 2L,
      "the per-row original batch must ride through both compactions verbatim")
    assert(!new java.io.File(BandStore.evictedDir(store)).exists() ||
      Option(new java.io.File(BandStore.evictedDir(store)).listFiles())
        .getOrElse(Array.empty).forall(f => !f.getName.startsWith("__batch=")),
      "the leftover tombstone must be absorbed")
    // and the veto still stands afterwards
    BandStore.admitBatch(frame(Seq((201L, text("a", 3)))), 4L, store, admitted)
    assert(admittedIn(spark, admitted, 4L).isEmpty, "the veto must survive the re-absorb")
  }

  // ---------------------------------------------------------------
  // ADVICE r11: Sinks.compact's second rename THROWING (not returning
  // false) must restore the moved-aside original, never leave the store
  // path missing.
  // ---------------------------------------------------------------

  private def localFs(): org.apache.hadoop.fs.RawLocalFileSystem = {
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    fs
  }

  test("Sinks.swapIn: a throwing swap rename restores the original; a false swap rename still does") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("r12-swap")
    val path = new Path(s"$root/store")
    val staging = new Path(s"$root/.store-compact-x")
    val old = new Path(s"$root/.store-old-x")
    def seed(): Unit = {
      // the state compact() reaches before the swap: original moved
      // aside to `old`, rewrite complete in `staging`, store path absent
      new java.io.File(old.toString).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(old.toString, "data"),
        "original".getBytes("UTF-8"))
      new java.io.File(staging.toString).mkdirs()
    }
    seed()
    val plain = localFs()
    val throwing = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName == staging.getName) throw new java.io.IOException("injected rename failure")
        else super.rename(src, dst)
    }
    throwing.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val e = intercept[java.io.IOException] {
      graft.sources.Sinks.swapIn(throwing, staging, path, old)
    }
    assert(e.getMessage == "injected rename failure")
    assert(plain.exists(path) &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(path.toString, "data")),
      "a throwing swap must put the original back at the store path")
    // the false branch keeps its restore too
    plain.delete(path, true)
    seed()
    val refusing = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName == staging.getName) false else super.rename(src, dst)
    }
    refusing.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val e2 = intercept[IllegalStateException] {
      graft.sources.Sinks.swapIn(refusing, staging, path, old)
    }
    assert(e2.getMessage.contains("could not swap"), e2.getMessage)
    assert(plain.exists(path), "a refused swap must put the original back")
  }

  // ---------------------------------------------------------------
  // ADVICE r11: the eviction gate's in-batch pre-filter must be EXACT —
  // past the bucket cap, cappedSelfPairs yields a strict subset of the
  // all-pairs set the DuckDB twin computes.
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // Store bucket geometry: conf-driven at creation, recorded per store,
  // decisions invariant, pruning intact, legacy stores pinned to the
  // defaults they were written under.
  // ---------------------------------------------------------------

  test("BandStore geometry: a store created under non-default bucket confs decides identically, prunes on its own counts, and survives compaction and eviction") {
    import graft.streaming.BandStore
    val b0 = (0 until 20).map(i => (i.toLong, text("a", i)))
    // batch 1: an exact copy of doc 3 (must drop) and a fresh doc
    val b1 = Seq((100L, text("a", 3)), (101L, text("z", 1)))

    // reference store at the default 64/16 geometry
    val rootD = tmpDir("r12-geo-default")
    BandStore.admitBatch(frame(b0), 0L, s"$rootD/store", s"$rootD/out")
    BandStore.admitBatch(frame(b1), 1L, s"$rootD/store", s"$rootD/out")

    val root = tmpDir("r12-geo-8x4")
    val store = s"$root/store"
    withConf(BandStore.BandBucketsConf -> "8", BandStore.SigBucketsConf -> "4") {
      BandStore.admitBatch(frame(b0), 0L, store, s"$root/out")
    }
    // geometry stamped at creation; later batches run WITHOUT the confs
    // set and must honor the recorded counts, not the session defaults
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(store, ".geometry"))
      == "bandBuckets=8 sigBuckets=4 obatchEpoch=1")
    BandStore.admitBatch(frame(b1), 1L, store, s"$root/out")
    assert(admittedIn(spark, s"$root/out", 1L) == admittedIn(spark, s"$rootD/out", 1L),
      "bucket geometry must never change an admission decision")
    val bb = spark.read.parquet(BandStore.bandsDir(store))
      .select(col("__bb").cast("int")).distinct().collect().map(_.getInt(0))
    assert(bb.forall(v => v >= 0 && v < 8) && bb.length <= 8,
      s"bands tree must carry the 8-bucket layout: ${bb.toSeq.sorted}")
    val db = spark.read.parquet(BandStore.sigsDir(store))
      .select(col("__db").cast("int")).distinct().collect().map(_.getInt(0))
    assert(db.forall(v => v >= 0 && v < 4), s"sigs tree layout: ${db.toSeq.sorted}")
    // probe pruning holds on the recorded geometry: one touched bucket
    // scans at most one leaf per stored batch
    val oneBucket = spark.read.parquet(BandStore.bandsDir(store))
      .select(pmod(col("bh"), lit(8)).cast("int")).head().getInt(0)
    val probe = BandStore.probeScan(spark, store, Seq(oneBucket), 2L)
    val scanned = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.head <= 2,
      s"pruning must hold at 8 buckets: scanned=$scanned")
    // eviction + re-admission and compaction respect the geometry
    BandStore.evictDocs(Seq(3L).toDF("doc_id"), 2L, store)
    BandStore.admitBatch(frame(Seq((102L, text("a", 3)))), 3L, store, s"$root/out")
    assert(admittedIn(spark, s"$root/out", 3L) == Set(102L),
      "eviction must free the text under the non-default geometry")
    BandStore.compactStore(spark, store, minLiveBatch = 4L)
    val bbAfter = spark.read.parquet(BandStore.bandsDir(store))
      .select(col("__bb").cast("int")).distinct().collect().map(_.getInt(0))
    assert(bbAfter.forall(v => v >= 0 && v < 8),
      "compaction must preserve the recorded geometry")
    BandStore.admitBatch(frame(Seq((103L, text("a", 5)), (104L, text("q", 2)))),
      4L, store, s"$root/out")
    assert(admittedIn(spark, s"$root/out", 4L) == Set(104L),
      "post-compaction decisions must be unchanged at 8/4 buckets")
  }

  test("LabelStore geometry: an index created under non-default bucket confs labels identically and appends under its recorded counts") {
    import graft.operators.LabelStore
    def toks(p: String, from: Int, to: Int) = (from to to).map(i => s"$p$i").mkString(" ")
    def corpus(stage: Int): Seq[(Long, String)] =
      (Seq(
        0L -> toks("tok", 0, 11), 1L -> toks("tok", 0, 11),
        10L -> (toks("n", 0, 10) + " tailA"), 11L -> (toks("n", 0, 10) + " tailB")) ++
        (40L until 50L).map(i => i -> (0 until 12).map(j => s"d${i}w$j").mkString(" ")) ++
        (if (stage >= 1) Seq(30L -> ("x0 " + toks("n", 1, 10) + " tailB")) else Nil))
    def writeCorpus(dir: String, stage: Int): Unit =
      documentsOf(corpus(stage)).repartition(2)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val dir = tmpDir("r12-lgeo-corpus")
    writeCorpus(dir, 0)
    val storeD = tmpDir("r12-lgeo-d") + "/store"
    LabelStore.build(spark, dir, storeD)
    val store8 = tmpDir("r12-lgeo-8") + "/store"
    withConf(graft.streaming.BandStore.BandBucketsConf -> "8",
             graft.streaming.BandStore.SigBucketsConf -> "4") {
      LabelStore.build(spark, dir, store8)
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(store8, ".geometry")) == "bandBuckets=8 sigBuckets=4")
    assert(labelSet(store8) == labelSet(storeD),
      "index geometry must never change the labels")
    val bb = spark.read.parquet(s"$store8/index/bands")
      .select(col("__bb").cast("int")).distinct().collect().map(_.getInt(0))
    assert(bb.forall(v => v >= 0 && v < 8), s"bands index layout: ${bb.toSeq.sorted}")
    // incremental append WITHOUT the confs set: the recorded geometry
    // must govern the delta writes and the bucket-pruned probes
    writeCorpus(dir, 1)
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store8) == "incremental")
    assert(LabelStore.ensureCurrentIncremental(spark, dir, storeD) == "incremental")
    assert(labelSet(store8) == labelSet(storeD),
      "post-append labels must be geometry-invariant")
    assert(labelSet(store8).contains((30L, 10L)), "the appended near-dup must attach")
    val bbAfter = spark.read.parquet(s"$store8/index/bands")
      .select(col("__bb").cast("int")).distinct().collect().map(_.getInt(0))
    assert(bbAfter.forall(v => v >= 0 && v < 8),
      "the delta batch must land under the recorded 8-bucket layout")
  }

  test("BandStore geometry: a legacy store (batches, no file) is stamped with the defaults, not the session confs") {
    import graft.streaming.BandStore
    val root = tmpDir("r12-geo-legacy")
    val store = s"$root/store"
    BandStore.admitBatch(
      frame((0 until 10).map(i => (i.toLong, (0 until 25).map(j => s"l${i}_$j").mkString(" ")))),
      0L, store, s"$root/out")
    // simulate a pre-geometry store: rows exist, no file
    java.nio.file.Files.delete(java.nio.file.Paths.get(store, ".geometry"))
    withConf(BandStore.BandBucketsConf -> "8", BandStore.SigBucketsConf -> "4") {
      val g = BandStore.ensureGeometry(spark, store)
      assert(g == BandStore.Geometry(64, 16, 0),
        "a store with batches must be pinned to the defaults its rows were " +
          "written under — and to the conservative schema epoch")
    }
  }

  test("upsert-store geometry: non-default bucket count recorded at creation, honored by later merges, preserved across compaction") {
    import graft.sources.Sinks
    val root = tmpDir("r12-ugeo")
    val store = s"$root/store"
    withConf(Sinks.UpsertBucketsConf -> "4") {
      Sinks.upsertByKey(
        (0L until 40L).map(i => (i, i, s"v$i")).toDF("off", "id", "v"),
        "id", "off", store)
    }
    // the file is a dot-SIBLING: the store root is the initial write's
    // overwrite target and compact's swap victim
    def geoFile = java.nio.file.Paths.get(root, ".store.geometry")
    assert(java.nio.file.Files.readString(geoFile) == "upsertBuckets=4")
    val buckets = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).map(_.getName)
    assert(buckets.length <= 4 && buckets.nonEmpty, s"layout: ${buckets.toSeq}")
    // a later merge WITHOUT the conf must bucket by the recorded count —
    // a session-default pmod would route keys to partitions the store
    // never reads back, duplicating them forever
    Sinks.upsertByKey(Seq((100L, 3L, "v3b")).toDF("off", "id", "v"), "id", "off", store)
    val got = spark.read.parquet(store).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 40 && got(3L) == "v3b",
      "the merge must upsert under the recorded geometry, not duplicate")
    // compaction swaps the whole store dir — the sibling file survives
    Sinks.compact(spark, store, targetFileBytes = 1L << 30)
    assert(java.nio.file.Files.readString(geoFile) == "upsertBuckets=4",
      "compaction must not cost the store its recorded geometry")
    Sinks.upsertByKey(Seq((200L, 7L, "v7b")).toDF("off", "id", "v"), "id", "off", store)
    val after = spark.read.parquet(store).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after.size == 40 && after(7L) == "v7b",
      "post-compaction merges must still honor the recorded geometry")
  }

  test("exactSelfPairs returns all colliding pairs where the capped path under-reports") {
    import graft.operators.Dedup
    // one hot (band, bh) bucket of five ids — over a cap of 3
    val bands = (1L to 5L).map(i => (i, 0, 77L)).toDF("doc_id", "band", "bh")
    val exact = Dedup.exactSelfPairs(bands, "doc_id", "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSet,
      "the exact form must produce every ordered colliding pair")
    val capped = Dedup.cappedSelfPairs(bands, "doc_id", 3, "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact) && capped.size < exact.size,
      "past the cap the guarded path under-reports — exactly why the " +
        "hash-gated pre-filter must not use it")
  }
}
