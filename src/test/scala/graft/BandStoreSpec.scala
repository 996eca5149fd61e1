package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.{BandStore, Streams}
import Fixtures._

/** The band store behind streaming dedup admission
  * ([[graft.streaming.BandStore]]): gauge-driven compaction in the drain,
  * sliced compaction, and the manifest that pins what a probe reads.
  */
class BandStoreSpec extends SparkSpec {
  import spark.implicits._

  private def batchDirsOnDisk(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__batch="))
      .map(_.getName).toSet

  // __batch=-prefixed only: Hadoop's LocalFileSystem hides its .crc
  // sidecars from fs.listStatus (so the engine never sees them), but a
  // raw java.io listing shows them
  private def markerNames(dir: String): Set[String] =
    Option(new java.io.File(dir, ".live").listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("__batch=")).toSet

  private def bandRows(dir: String): Set[String] =
    BandStore.readLive(spark, dir)
      .selectExpr("concat_ws(':', doc_id, band, bh)")
      .collect().map(_.getString(0)).toSet

  // --- full compaction ------------------------------------------------------

  test("T11 auto-compaction: dedupAdmitDrain compacts when the gauge fires; admitted set equals the never-compacted twin; pre-compact vetoes survive") {
    import org.apache.spark.sql.types._
    import graft.streaming.{BandStore, Streams}
    val root = tmpDir("r14-autocompact")
    val topic = s"$root/topic"
    new java.io.File(topic).mkdirs()
    def src() = spark.readStream.schema(docSchema).json(topic)

    // live (manifest) count — what the compaction gauge itself reads;
    // physical dirs additionally hold grace-deferred retired leaves
    def batchDirs(dir: String): Int =
      BandStore.liveBatchIds(spark, dir).size

    val pauses = scala.collection.mutable.ArrayBuffer.empty[Double]
    // batch b carries one fresh doc and, from b ≥ 3, one CROSS-BATCH
    // DUPLICATE of batch b−3's fresh text — so admission decisions are
    // non-trivial (the store must veto dups whose originals live in
    // batches the compaction has since folded), and the twin equality
    // below has teeth: if the fold corrupted the veto state, the two
    // admitted sets would diverge on exactly these dup docs (round-14
    // self-review: with all-unique texts the assertion was vacuous)
    def batchLines(b: Int): String = {
      val fresh = doc(b * 2L, text("a", b * 2))
      val second =
        if (b >= 3) doc(b * 2L + 1, text("a", (b - 3) * 2)) // dup of b-3's fresh
        else doc(b * 2L + 1, text("a", b * 2 + 1))
      Seq(fresh, second).mkString("\n")
    }
    withConf(BandStore.CompactAfterBatchesConf -> "4") {
      // 6 drains; the gauge fires once ≥4 __batch= dirs accumulate in
      // any tree, and the drain's quiesce point must compact without
      // being told
      (0 until 6).foreach { b =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$topic/b$b.json"), batchLines(b))
        Streams.dedupAdmitDrain(src(), s"$root/store", s"$root/admitted",
          s"$root/ckpt").foreach(pauses += _)
      }
      assert(pauses.nonEmpty, "the gauge never fired across 6 batches at threshold 4")
      // the fold is physical: live __batch= dirs below the threshold
      // again (the base generation is a gen=…, not a __batch=)
      assert(batchDirs(BandStore.sigsDir(s"$root/store")) < 4,
        s"sigs tree still holds ${batchDirs(BandStore.sigsDir(s"$root/store"))} batch dirs")

      // the twin never compacts (huge threshold) and consumes ITS OWN
      // topic written file-by-file, so its micro-batch boundaries match
      // the primary's exactly (a shared topic would hand the twin's
      // first drain all six files at once) — same batches, same
      // admission decisions: compaction timing must be semantically
      // invisible
      val topic2 = s"$root/topic2"
      new java.io.File(topic2).mkdirs()
      def src2() = spark.readStream.schema(docSchema).json(topic2)
      withConf(BandStore.CompactAfterBatchesConf -> "1000000") {
        (0 until 6).foreach { b =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$topic2/b$b.json"), batchLines(b))
          Streams.dedupAdmitDrain(src2(), s"$root/store2", s"$root/admitted2",
            s"$root/ckpt2")
        }
      }
      // the dup structure actually bit: the cross-batch copies dropped
      val dupIds = (3 until 6).map(b => b * 2L + 1).toSet
      assert(dupIds.intersect(admittedIds(spark, s"$root/admitted")).isEmpty,
        s"cross-batch duplicates were admitted: ${dupIds.intersect(admittedIds(spark, s"$root/admitted"))}")
      assert(admittedIds(spark, s"$root/admitted") == admittedIds(spark, s"$root/admitted2"),
        "auto-compaction changed the admitted set")

      // pre-compact history still vetoes: an exact copy of batch-0's
      // doc 0 (now folded into the base generation) must drop
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$topic/b6.json"),
        Seq(doc(100L, text("a", 0)), doc(101L, text("b", 101))).mkString("\n"))
      Streams.dedupAdmitDrain(src(), s"$root/store", s"$root/admitted", s"$root/ckpt")
      val ids = admittedIds(spark, s"$root/admitted")
      assert(!ids.contains(100L), "the folded base generation must still veto")
      assert(ids.contains(101L), "a fresh doc must still admit")
    }
  }

  // --- sliced compaction and the manifest -----------------------------------

  test("incremental compaction: single-slice quiesce points converge; every partial state serves identical rows; folded history still vetoes") {
    import graft.streaming.BandStore
    val root = tmpDir("r15-slice")
    val store = s"$root/store"
    val out = s"$root/admitted"
    def batchDf(b: Int) = Seq(
      (b * 2L, text("a", b * 2)), (b * 2L + 1, text("a", b * 2 + 1))
    ).toDF("doc_id", "text")
    (0 until 5).foreach(b => BandStore.admitBatch(batchDf(b), b.toLong, store, out))
    def treeRows(dir: String): Set[String] =
      spark.read.parquet(dir)
        .selectExpr("concat_ws(':', band, bh, doc_id, __obatch)")
        .collect().map(_.getString(0)).toSet
    // LIVE ids (manifest view): retirement now defers physical deletion
    // by the retire grace, so raw dir listings include reaped-later
    // debris and are not the store's logical state
    def batchIds(dir: String): Seq[Long] = BandStore.liveBatchIds(spark, dir)
    val before = treeRows(BandStore.bandsDir(store))
    withConf(BandStore.CompactSliceLeavesConf -> "2",
             BandStore.CompactSliceBudgetConf -> "0.0") {
      // budget 0.0 admits exactly one slice per quiesce call (the first
      // slice always runs; any spent time then exceeds the budget)
      var n = BandStore.compactSlices(spark, store, Long.MaxValue)
      assert(n == 1, s"budget 0.0 must run exactly one slice, ran $n")
      // mid-fold: the visible rows are unchanged
      assert(treeRows(BandStore.bandsDir(store)) == before,
        "a partial fold changed the bands tree's logical rows")
      var steps = 0
      while (n > 0 && steps < 300) {
        n = BandStore.compactSlices(spark, store, Long.MaxValue)
        steps += 1
      }
      assert(steps < 300, "slice quiesce points never converged")
    }
    assert(treeRows(BandStore.bandsDir(store)) == before,
      "the converged fold changed the bands tree's logical rows")
    assert(batchIds(BandStore.bandsDir(store)).forall(_ < 0) &&
           batchIds(BandStore.sigsDir(store)).forall(_ < 0),
      "convergence must leave only base generations")
    // folded history still vetoes; fresh still admits
    BandStore.admitBatch(Seq((100L, text("a", 0)), (101L, text("b", 101)))
      .toDF("doc_id", "text"), 5L, store, out)
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(100L), "the folded base generation must still veto")
    assert(ids.contains(101L), "a fresh doc must still admit")
    // need-filter (the ×50 soak pathology): a freshly folded store
    // below the fold threshold is left ALONE — no slice may re-rewrite
    // a base just to absorb one new batch (that is O(store) per batch)
    BandStore.admitBatch(Seq((200L, text("c", 200))).toDF("doc_id", "text"),
      6L, store, out)
    val basesBefore = batchIds(BandStore.bandsDir(store)).toSet
    // a threshold above both trees' current dir counts: neither tree is
    // needy, so the call must be a complete no-op
    val over = 2 + math.max(batchIds(BandStore.bandsDir(store)).size,
      batchIds(BandStore.sigsDir(store)).size)
    val n2 = BandStore.compactSlices(spark, store, Long.MaxValue, minFoldDirs = over)
    assert(n2 == 0,
      s"a store below the fold threshold must not be touched, ran $n2 slices")
    assert(batchIds(BandStore.bandsDir(store)).toSet == basesBefore,
      "the need-filtered call must leave the tree untouched")
    // TIER pin: minor folds stack small bases (prior bases never
    // rewritten — pause cost must not grow with store size); a MAJOR
    // fold at the fan-in merges them without changing the logical rows
    var m = BandStore.compactSlices(spark, store, Long.MaxValue)
    while (m > 0) m = BandStore.compactSlices(spark, store, Long.MaxValue)
    val preMajorRows = treeRows(BandStore.bandsDir(store))
    val preMajorDirs = batchIds(BandStore.bandsDir(store))
    assert(preMajorDirs.forall(_ < 0) && preMajorDirs.size > 1,
      s"expected stacked bases before the major fold: $preMajorDirs")
    withConf(BandStore.CompactBaseFaninConf -> "2") {
      var k = BandStore.compactSlices(spark, store, Long.MaxValue)
      while (k > 0) k = BandStore.compactSlices(spark, store, Long.MaxValue)
    }
    assert(treeRows(BandStore.bandsDir(store)) == preMajorRows,
      "the major fold changed the bands tree's logical rows")
    val postMajorDirs = batchIds(BandStore.bandsDir(store))
    assert(postMajorDirs.forall(_ < 0) && postMajorDirs.size < preMajorDirs.size,
      s"major fold must reduce base count: ${preMajorDirs.size} -> ${postMajorDirs.size}")
  }

  test("retirement is manifest-only: retired leaves stay on disk through the grace window, invisible to live reads, then reap") {
    val (store, out) = (tmpDir("r16-grace"), tmpDir("r16-grace-out"))
    (0 until 3).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 6).map(i => ((b * 100 + i).toLong, text(s"g$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    val preDirs = batchDirsOnDisk(bands)
    assert(preDirs == Set("__batch=0", "__batch=1", "__batch=2"), s"got $preDirs")

    // compact batches < 2 under a LONG grace: physical dirs must survive
    withConf(BandStore.RetireGraceConf -> "600000") {
      BandStore.compactStore(spark, store, minLiveBatch = 2L)
    }
    val postDirs = batchDirsOnDisk(bands)
    // sources 0,1 still on disk (grace-deferred), base -1 published
    assert(postDirs == Set("__batch=-1", "__batch=0", "__batch=1", "__batch=2"),
      s"retired sources must outlive the retirement by the grace: $postDirs")
    // but the LIVE view switched atomically: only the base and batch 2
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(-1L, 2L),
      "manifest must show base + live batch only")
    // the live read sees each row exactly once (no superset leak from
    // the still-on-disk sources)
    val live = BandStore.readLive(spark, bands).select("doc_id", "band", "bh")
    assert(live.count() == live.distinct().count(),
      "live read must not double-count grace-deferred retired leaves")

    // a reap WITHIN the grace is a no-op; at grace 0 it reclaims
    BandStore.reapRetired(spark, store, 600000L)
    assert(batchDirsOnDisk(bands) == postDirs, "reap ignored the grace window")
    BandStore.reapRetired(spark, store, 0L)
    assert(batchDirsOnDisk(bands) == Set("__batch=-1", "__batch=2"),
      "grace-0 reap must reclaim the retired sources")
    // content is unchanged by the physical reclaim
    val after = BandStore.readLive(spark, bands).select("doc_id", "band", "bh")
    assert(after.count() == live.count(), "reap changed the live row count")
  }

  test("orphan reconciliation: a crashed publish (markerless dir) reaps below the watermark and is never read; live-batch dirs are never touched") {
    val (store, out) = (tmpDir("r16-orphan"), tmpDir("r16-orphan-out"))
    (0 until 2).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 5).map(i => ((b * 100 + i).toLong, text(s"o$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    // simulate a publish that crashed before its marker landed: the dir
    // exists, the manifest has never heard of it
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(bands)
    val fs = p.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(p, "__batch=0"), fs,
      new org.apache.hadoop.fs.Path(p, "__batch=-1"), false, conf)
    assert(batchDirsOnDisk(bands).contains("__batch=-1"))
    // invisible: neither the live ids nor the read see the orphan
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(0L, 1L))
    assert(BandStore.readLive(spark, bands)
      .filter(col("__batch") === -1L).count() == 0,
      "a markerless dir must never be read")
    // a reap whose watermark does NOT cover the orphan leaves it alone;
    // the live batches (markers present) are untouched either way
    BandStore.reapRetired(spark, store, 0L, minLiveBatch = -1L)
    assert(batchDirsOnDisk(bands).contains("__batch=-1"),
      "an orphan at/above the watermark must be left alone")
    BandStore.reapRetired(spark, store, 0L)
    assert(batchDirsOnDisk(bands) == Set("__batch=0", "__batch=1"),
      "the below-watermark orphan must reconcile; live dirs must survive")
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(0L, 1L))
  }

  test("legacy store seeds its manifest at the first write with content unchanged") {
    val (store, out) = (tmpDir("r16-legacy"), tmpDir("r16-legacy-out"))
    (0 until 2).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 5).map(i => ((b * 100 + i).toLong, text(s"l$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    val sigs = BandStore.sigsDir(store)
    val before = BandStore.readLive(spark, bands)
      .selectExpr("concat_ws(':', doc_id, band, bh)")
      .collect().map(_.getString(0)).toSet
    // simulate a pre-manifest store: drop the .live dirs outright
    Seq(bands, sigs).foreach { d =>
      val f = new java.io.File(d, ".live")
      def del(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(del); x.delete()
      }
      del(f)
      assert(!f.exists())
    }
    // manifest-less reads fall back to the directory listing
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(0L, 1L))
    // the next WRITE seeds the manifest from the physical listing
    BandStore.admitBatch(
      frame(Seq((500L, text("lx", 1)))), 2L, store, out)
    assert(new java.io.File(bands, ".live").exists(),
      "first write after the downgrade must seed the manifest")
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(0L, 1L, 2L))
    val after = BandStore.readLive(spark, bands)
      .filter(col("__batch") =!= 2L)
      .selectExpr("concat_ws(':', doc_id, band, bh)")
      .collect().map(_.getString(0)).toSet
    assert(after == before, "seeding must not change the visible content")
  }

  test("probe listing is bucket-narrowed: a one-bucket probe enumerates only that bucket's live leaves") {
    val (store, out) = (tmpDir("r16-narrow"), tmpDir("r16-narrow-out"))
    (0 until 3).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 20).map(i => ((b * 100 + i).toLong, text(s"n$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    val oneBucket = spark.read.parquet(bands)
      .select(col("__bb").cast("int")).head().getInt(0)
    val probe = BandStore.probeScan(spark, store, Seq(oneBucket), 9L)
    // the scan's file index holds ONLY the touched bucket's leaves — at
    // most one per live batch — instead of every leaf in the tree
    val rootPaths = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(rootPaths.nonEmpty && rootPaths.forall(_.contains(s"__bb=$oneBucket")),
      s"probe listed untouched buckets: ${rootPaths.take(5)}")
    assert(rootPaths.size <= 3, s"more root paths than live batches: $rootPaths")
  }

  test("a flat marker over a bucketed batch is never a subset-fold source: its rows survive slices and fold only in the full pass") {
    val (store, out) = (tmpDir("r17-flat"), tmpDir("r17-flat-out"))
    (0 until 3).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 12).map(i => ((b * 100 + i).toLong, text(s"f$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    val before = bandRows(bands)
    // simulate the ADVICE r16 mis-seed: batch 1's per-bucket markers
    // replaced by one FLAT marker (`__batch=1`) over a physically
    // BUCKETED dir — the state a misread child listing used to produce
    val live = new java.io.File(bands, ".live")
    live.listFiles().filter(_.getName.startsWith("__batch=1%%"))
      .foreach(f => assert(f.delete()))
    assert(new java.io.File(live, "__batch=1").createNewFile())
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(0L, 1L, 2L))

    // subset folds must leave the flat-marked batch completely alone
    withConf(BandStore.RetireGraceConf -> "0") {
      BandStore.compactSlices(spark, store, Long.MaxValue)
    }
    // reap everything retired; watermark 1 keeps the orphan pass off the
    // hand-flattened batch (its per-bucket leaves are marker-less by
    // construction of the surgery, not by any engine action)
    BandStore.reapRetired(spark, store, 0L, minLiveBatch = 1L)
    assert(markerNames(bands).contains("__batch=1"),
      "subset folds must not retire a flat-marked batch")
    assert(batchDirsOnDisk(bands).contains("__batch=1"),
      "the flat-marked batch dir must survive subset folds intact")
    assert(bandRows(bands) == before,
      "no row may be lost while a flat marker shadows a bucketed batch")

    // the FULL pass is where flat leaves fold — and nothing is lost
    withConf(BandStore.RetireGraceConf -> "0") {
      BandStore.compactStore(spark, store)
    }
    BandStore.reapRetired(spark, store, 0L)
    assert(!markerNames(bands).contains("__batch=1"),
      "the full pass must fold and retire the flat leaf")
    assert(bandRows(bands) == before,
      "the full fold must preserve the row set exactly")
  }

  test("manifest seed is atomic: .live.tmp- crash debris is reader-invisible, re-seeded over, and purged by the next fenced compaction") {
    val (store, out) = (tmpDir("r17-seed"), tmpDir("r17-seed-out"))
    (0 until 2).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 6).map(i => ((b * 100 + i).toLong, text(s"s$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    val before = bandRows(bands)
    // downgrade to a legacy store, then simulate a seed that crashed
    // mid-marker-creation: a PARTIAL tmp dir and no .live
    def delTree(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(delTree); x.delete()
    }
    delTree(new java.io.File(bands, ".live"))
    val tmp = new java.io.File(bands, ".live.tmp-crashed")
    assert(tmp.mkdirs())
    assert(new java.io.File(tmp, "__batch=0%%__bb=0").createNewFile())
    // readers: no manifest → legacy listing fallback; the partial tmp is
    // NOT a manifest (the old in-place seed would have exposed exactly
    // this deficit as `.live`)
    assert(BandStore.readManifest(spark, bands).isEmpty,
      "a crashed seed's tmp dir must never read as a manifest")
    assert(BandStore.liveBatchIds(spark, bands).toSet == Set(0L, 1L))
    // the next seed publishes a COMPLETE manifest in one rename
    BandStore.ensureManifest(spark, bands)
    val expected = batchDirsOnDisk(bands).flatMap { bd =>
      new java.io.File(bands, bd).listFiles()
        .filter(f => f.isDirectory && f.getName.contains("="))
        .map(c => s"$bd%%${c.getName}")
    }
    assert(markerNames(bands) == expected,
      "the seed must cover every physical (batch, bucket) leaf exactly")
    assert(bandRows(bands) == before, "seeding must not change content")
    // the abandoned tmp dir is fenced-compaction debris
    assert(tmp.exists())
    withConf(BandStore.RetireGraceConf -> "0") {
      BandStore.compactStore(spark, store)
    }
    assert(!tmp.exists(), "compaction must purge crashed-seed tmp dirs")
    assert(bandRows(bands) == before)
  }

  test("retired-log age binds to filesystem mtime, not the retirer's embedded timestamp (clock skew cannot shorten the grace)") {
    val (store, out) = (tmpDir("r17-skew"), tmpDir("r17-skew-out"))
    (0 until 2).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 6).map(i => ((b * 100 + i).toLong, text(s"k$b", i)))),
        b.toLong, store, out)
    }
    val bands = BandStore.bandsDir(store)
    withConf(BandStore.RetireGraceConf -> "600000") {
      BandStore.compactStore(spark, store)
    }
    val logs = new java.io.File(bands).listFiles()
      .filter(_.getName.startsWith(".retired-"))
    assert(logs.nonEmpty, "the fold must have produced a retire log")
    val retiredDirs = batchDirsOnDisk(bands).filter(d => d != "__batch=-1")
    assert(retiredDirs.nonEmpty, "sources must still be grace-deferred")

    // a retirer whose clock ran 10 minutes AHEAD embeds a filename
    // timestamp that (old code) looked 10 minutes stale the moment it
    // was written — the fresh mtime must keep the window open
    val skewed = new java.io.File(logs.head.getParentFile,
      s".retired-${System.currentTimeMillis() - 600000L}-skewedahead")
    assert(logs.head.renameTo(skewed))
    BandStore.reapRetired(spark, store, 300000L)
    assert(batchDirsOnDisk(bands).filter(_ != "__batch=-1") == retiredDirs,
      "a skewed-ahead filename timestamp must not shorten the grace")
    // and once the FILE is genuinely old (mtime in the past), it reaps
    // even though the filename claims it was written just now
    val young = new java.io.File(skewed.getParentFile,
      s".retired-${System.currentTimeMillis()}-skewedbehind")
    assert(skewed.renameTo(young))
    assert(young.setLastModified(System.currentTimeMillis() - 600000L))
    BandStore.reapRetired(spark, store, 300000L)
    assert(batchDirsOnDisk(bands) == Set("__batch=-1"),
      "a genuinely old log must reap whatever its filename claims")
  }

  test("the evicted-tree absorb runs fenced: a live holder makes the late pass fail loudly") {
    val (store, out) = (tmpDir("r17-efence"), tmpDir("r17-efence-out"))
    (0 until 2).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 8).map(i => ((b * 100 + i).toLong, text(s"e$b", i)))),
        b.toLong, store, out)
    }
    // tombstones that a full pass will absorb
    BandStore.evictDocs(Seq(0L, 1L).toDF("doc_id"), 2L, store)
    val evicted = BandStore.evictedDir(store)
    val fence = new java.io.File(evicted,
      s".fence-${BandStore.EvictMaintGen}")
    assert(fence.createNewFile(), s"could not plant $fence")
    try {
      val e = intercept[IllegalStateException] {
        withConf(BandStore.RetireGraceConf -> "0") {
          BandStore.compactStore(spark, store)
        }
      }
      assert(e.getMessage.contains("concurrent writer"),
        s"unexpected failure: ${e.getMessage}")
    } finally fence.delete()
    // with the holder gone the absorb completes and reclaims the
    // tombstone partitions
    withConf(BandStore.RetireGraceConf -> "0") {
      BandStore.compactStore(spark, store)
    }
    BandStore.reapRetired(spark, store, 0L)
    assert(batchDirsOnDisk(evicted).isEmpty,
      "the absorbed tombstone partitions must reclaim after the fence clears")
  }

  test("the retire grace derives from the gauged slowest probe: a tiny conf cannot reap under a measured long reader") {
    val (store, out) = (tmpDir("r17-gauge"), tmpDir("r17-gauge-out"))
    (0 until 3).foreach { b =>
      BandStore.admitBatch(
        frame((0 until 6).map(i => ((b * 100 + i).toLong, text(s"w$b", i)))),
        b.toLong, store, out)
    }
    // admission recorded its wall
    val gauged = BandStore.maxProbeWallMs(spark, store)
    assert(gauged > 0L, "admitBatch must gauge its wall")
    // a deployment whose probes run 5 minutes: the gauge, not the conf,
    // must bind the reap
    BandStore.recordProbeWall(spark, store, 300000L)
    assert(BandStore.maxProbeWallMs(spark, store) == 300000L)
    withConf(BandStore.RetireGraceConf -> "1") {
      assert(BandStore.effectiveRetireGraceMs(spark, store) == 600000L,
        "effective grace must be 2x the gauged max probe wall")
      BandStore.compactStore(spark, store)
    }
    val bands = BandStore.bandsDir(store)
    // conf said 1 ms — but the derived grace kept the sources on disk
    assert(batchDirsOnDisk(bands).exists(_ != "__batch=-1"),
      "retired sources must survive: the derived grace binds, not the conf")
    // the monotone gauge never narrows
    BandStore.recordProbeWall(spark, store, 5L)
    assert(BandStore.maxProbeWallMs(spark, store) == 300000L)
    // explicit quiesce reap (grace 0) stays available to operators/tests
    BandStore.reapRetired(spark, store, 0L)
    assert(batchDirsOnDisk(bands) == Set("__batch=-1"))
  }
}
