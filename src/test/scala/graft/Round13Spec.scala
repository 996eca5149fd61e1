package graft

import org.apache.spark.sql.functions._
import Fixtures.{admittedIn, generations, text}

/** Round-13 regressions — the ADVICE r12 findings:
  * the eviction gate on pre-`__obatch` stores (medium: an upgrade must
  * neither throw on a legacy store nor silently hide re-admitted docs in
  * a mixed one), the upsert store's sibling geometry surviving store
  * deletion, and the same-stream short lease granted on a bare
  * un-scoped `ingest-<batchId>` prefix.
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // ADVICE r12 (medium): a store written BEFORE the __obatch column
  // existed must stay readable, maskable, and compactable — the gate
  // falls back to the partition __batch for legacy rows (exact for any
  // never-compacted row) and the first compaction migrates them.
  // ---------------------------------------------------------------

  /** Rewrite a bands/sigs tree without its `__obatch` column and restamp
    * the geometry file without the epoch key — byte-level simulation of
    * a store produced by the pre-upgrade engine.
    */
  private def downgradeStore(store: String): Unit = {
    import graft.streaming.BandStore
    def strip(dir: String, bucketCol: String): Unit = {
      val legacy = spark.read.parquet(dir).drop("__obatch")
        .localCheckpoint()
      val f = new java.io.File(dir)
      def del(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(del); x.delete()
      }
      del(f)
      legacy.write.partitionBy("__batch", bucketCol).parquet(dir)
    }
    strip(BandStore.bandsDir(store), "__bb")
    strip(BandStore.sigsDir(store), "__db")
    // the original stamp went through ChecksumFileSystem — drop its CRC
    // sidecar before rewriting the file directly, or reads see a
    // checksum mismatch instead of the downgraded content
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(store, "..geometry.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(store, ".geometry"),
      "bandBuckets=64 sigBuckets=16")
  }

  test("BandStore: a pre-__obatch store reads, masks, and compacts — legacy rows rank by their partition batch and the compaction migrates them") {
    import graft.streaming.BandStore
    val root = tmpDir("r13-legacy")
    val store = s"$root/store"
    val admitted = s"$root/admitted"

    BandStore.importCorpus(frame((0 until 20).map(i => (i.toLong, text("a", i)))), 0L, store)
    downgradeStore(store)
    assert(BandStore.ensureGeometry(spark, store).obatchEpoch == 0,
      "the downgraded store must read as the conservative schema epoch")

    // a tombstone over the legacy rows: doc 3 retired at batch 1
    BandStore.evictDocs(Seq(3L).toDF("doc_id"), 1L, store)
    // the legacy gate must MASK doc 3's legacy rows (its partition batch
    // 0 < tombstone 1) — the pre-fix code threw AnalysisException here
    // (__obatch unresolvable on the legacy schema)
    BandStore.admitBatch(frame(Seq((100L, text("a", 3)))), 2L, store, admitted)
    assert(admittedIn(spark, admitted, 2L) == Set(100L),
      "an evicted legacy doc must stop vetoing — the gate must rank " +
        "legacy rows by their partition batch, not throw")
    // …while every retained legacy doc keeps vetoing (mixed store now:
    // legacy batch-0 files next to post-upgrade batch-2 files)
    BandStore.admitBatch(frame(Seq((101L, text("a", 5)))), 3L, store, admitted)
    assert(admittedIn(spark, admitted, 3L).isEmpty, "a retained legacy doc must keep vetoing")
    // the RE-ADMITTED doc's post-upgrade rows (__obatch=2 > tombstone 1)
    // must veto a later copy even though the store is mixed — the
    // pre-fix null-fails-the-gate hazard on exactly this shape
    BandStore.admitBatch(frame(Seq((102L, text("a", 3)))), 4L, store, admitted)
    assert(admittedIn(spark, admitted, 4L).isEmpty,
      "a re-admitted doc's rows must outrank the old tombstone in a mixed store")

    // compaction folds legacy + post-upgrade batches without throwing
    // and MIGRATES the rank: every surviving row carries a non-null
    // __obatch afterwards — legacy rows at their true batch
    BandStore.compactStore(spark, store, minLiveBatch = 5L)
    // force-reap (grace 0, quiesced): the physical reads below must see
    // the reaped layout, not grace-deferred retired leaves
    BandStore.reapRetired(spark, store, 0L)
    val sigs = spark.read.parquet(BandStore.sigsDir(store))
    assert(sigs.filter(col("__obatch").isNull).count() == 0,
      "compaction must stamp every surviving row's rank")
    assert(sigs.filter(col("doc_id") === 5L).select("__obatch").head.getLong(0) == 0L,
      "a legacy row's migrated rank is its original (partition) batch")
    assert(sigs.filter(col("doc_id") === 100L).select("__obatch").head.getLong(0) == 2L,
      "a post-upgrade row's rank rides through the mixed compaction verbatim")
    assert(sigs.filter(col("doc_id") === 3L).count() == 0,
      "the absorbed tombstone must drop the evicted legacy rows")
    // decisions unchanged after the migration
    BandStore.admitBatch(frame(Seq((103L, text("a", 3)), (104L, text("q", 1)))),
      5L, store, admitted)
    assert(admittedIn(spark, admitted, 5L) == Set(104L),
      "post-migration: the re-admitted doc still vetoes, fresh text admits")
    // the PARTIAL compact above must NOT have upgraded the epoch (legacy
    // batches can survive above minLiveBatch in general)…
    assert(BandStore.ensureGeometry(spark, store).obatchEpoch == 0,
      "a partial compaction must not upgrade the schema epoch")
    // …but a FULL quiesced compaction has provably migrated every row —
    // the epoch upgrades and probes drop the schema-merge tax for good
    BandStore.compactStore(spark, store)
    assert(BandStore.ensureGeometry(spark, store).obatchEpoch == 1,
      "a full compaction of a fully-migrated store must upgrade the epoch")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(store, ".geometry"))
      == "bandBuckets=64 sigBuckets=16 obatchEpoch=1",
      "the upgrade must preserve the recorded bucket geometry")
    // and decisions are unchanged on the now plain-read store
    BandStore.admitBatch(frame(Seq((105L, text("a", 5)), (106L, text("z", 9)))),
      6L, store, admitted)
    assert(admittedIn(spark, admitted, 6L) == Set(106L),
      "post-upgrade: retained docs veto, fresh text admits")
  }

  // ---------------------------------------------------------------
  // VERDICT r12 #6: the store reports when the small-files/listing tax
  // justifies a compaction, instead of leaving the cadence to operator
  // guesswork — fires after N micro-batches, resets after compact.
  // ---------------------------------------------------------------

  test("BandStore.needsCompaction: fires at the configured batch count and resets after a compact") {
    import graft.streaming.BandStore
    val root = tmpDir("r13-gauge")
    val store = s"$root/store"
    def text(i: Long) = (0 until 25).map(j => s"g${i}_w$j").mkString(" ")
    withConf(BandStore.CompactAfterBatchesConf -> "4") {
      (0L until 3L).foreach { b =>
        BandStore.admitBatch(Seq((b, text(b))).toDF("doc_id", "text"),
          b, store, s"$root/out")
      }
      assert(!BandStore.needsCompaction(spark, store),
        "3 batches under a threshold of 4 must not fire")
      BandStore.admitBatch(Seq((3L, text(3))).toDF("doc_id", "text"), 3L, store, s"$root/out")
      assert(BandStore.needsCompaction(spark, store),
        "the 4th batch dir must trip the gauge")
      // quiesced compact folds every batch into one base per tree
      BandStore.compactStore(spark, store)
      assert(!BandStore.needsCompaction(spark, store),
        "one base generation per tree must reset the gauge")
      // and the loop continues: more batches re-arm it
      (4L until 8L).foreach { b =>
        BandStore.admitBatch(Seq((b, text(b))).toDF("doc_id", "text"),
          b, store, s"$root/out")
      }
      assert(BandStore.needsCompaction(spark, store), "the gauge must re-arm")
    }
  }

  // ---------------------------------------------------------------
  // ADVICE r12 (low): a store deleted and recreated at the same path
  // must take the CURRENT confs — the sibling geometry file survives
  // store deletion and must not be inherited.
  // ---------------------------------------------------------------

  test("upsert-store geometry: deleting the store retires its recorded geometry — a recreated store takes the current confs") {
    import graft.sources.Sinks
    val root = tmpDir("r13-ugeo-recreate")
    val store = s"$root/store"
    def geoFile = java.nio.file.Paths.get(root, ".store.geometry")
    withConf(Sinks.UpsertBucketsConf -> "4") {
      Sinks.upsertByKey(
        (0L until 40L).map(i => (i, i, s"v$i")).toDF("off", "id", "v"),
        "id", "off", store)
    }
    assert(java.nio.file.Files.readString(geoFile) == "upsertBuckets=4")
    // the store dies; its sibling geometry file survives by layout
    def del(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(del); x.delete()
    }
    del(new java.io.File(store))
    assert(java.nio.file.Files.exists(geoFile),
      "precondition: the sibling survives store deletion — that is the hazard"
    )
    // r14 lease semantics (ADVICE r13): a dead record is only
    // force-replaced once it is OLDER than the restart lease — a fresh
    // different-value record is presumed a racing live first writer and
    // ADOPTED (the convergence that stops racers leaving record/layout
    // disagreeing). Age the debris past the lease, as a real recreate
    // would be.
    def ageRecord(): Unit = java.nio.file.Files.setLastModifiedTime(geoFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - graft.operators.StoreDirs.restartFenceMs - 60000L))
    ageRecord()
    // a recreated store under a DIFFERENT conf must stamp fresh, not
    // inherit the dead store's count
    withConf(Sinks.UpsertBucketsConf -> "8") {
      Sinks.upsertByKey(
        (0L until 40L).map(i => (i, i, s"w$i")).toDF("off", "id", "v"),
        "id", "off", store)
    }
    assert(java.nio.file.Files.readString(geoFile) == "upsertBuckets=8",
      "a fresh store must take the current confs, not the dead store's record")
    val buckets = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).map(_.getName)
    assert(buckets.length > 4 && buckets.length <= 8,
      s"the recreated layout must be 8-bucket: ${buckets.toSeq.sorted}")
    // and with NO conf set, a recreated store falls back to the default
    del(new java.io.File(store))
    ageRecord()
    Sinks.upsertByKey(Seq((1L, 1L, "x")).toDF("off", "id", "v"), "id", "off", store)
    assert(java.nio.file.Files.readString(geoFile)
      == s"upsertBuckets=${Sinks.UpsertBuckets}",
      "an unconfigured fresh store must take the default, not the record")
  }

  // ---------------------------------------------------------------
  // VERDICT r12 #4: query-path stage caches go through the scoped
  // registry — a session owner can release them at the query boundary,
  // and nothing in operators/ query paths persists outside it.
  // ---------------------------------------------------------------

  test("Caches: an oracle query's stage caches are registered and releasable at the harness boundary") {
    import graft.operators.{Caches, Dedup}
    Caches.releaseScoped() // other suites share the session — clean slate
    Dedup.x2Jaccard(spark, sfDir).count()
    assert(Caches.scopedCount > 0,
      "the query's stage persists must land in the scoped registry")
    Caches.releaseScoped()
    assert(Caches.scopedCount == 0, "release must drain the registry")
    // idempotent and safe to call with nothing registered
    Caches.releaseScoped()
    // and the query still answers correctly cold (cache was an
    // optimization, never a semantic)
    assert(Dedup.x2Jaccard(spark, sfDir).count() > 0)
    Caches.releaseScoped()
  }

  // ---------------------------------------------------------------
  // VERDICT r12 #5: the fence's real adversary is a SECOND DRIVER
  // PROCESS (Round11Spec races threads in one JVM; a foreign process's
  // stamped token differs and its liveness is only inferable). Two JVMs
  // race one LabelStore maintenance entry: one wins, any loser fails
  // LOUDLY or adjudicates the advanced state, and the store converges
  // to exactly the winner-plus-retry labels.
  // ---------------------------------------------------------------

  private def raceCorpus(stage: Int): Seq[(Long, String)] = {
    def toks(p: String, from: Int, to: Int) = (from to to).map(i => s"$p$i").mkString(" ")
    Seq(
      0L -> toks("tok", 0, 11), 1L -> toks("tok", 0, 11),
      10L -> (toks("n", 0, 10) + " tailA"), 11L -> (toks("n", 0, 10) + " tailB")) ++
      (40L until 60L).map(i => i -> (0 until 12).map(j => s"d${i}w$j").mkString(" ")) ++
      (if (stage >= 1) (60L until 70L).map(i =>
        i -> (0 until 12).map(j => s"e${i}w$j").mkString(" ")) else Nil)
  }

  private def writeRaceCorpus(dir: String, stage: Int): Unit =
    raceCorpus(stage).toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("fence under real concurrency: a second driver JVM racing the same LabelStore maintenance — loud loser, converged store") {
    import graft.operators.LabelStore
    val dir = tmpDir("r13-race-corpus")
    writeRaceCorpus(dir, 0)
    val root = tmpDir("r13-race-store")
    val store = s"$root/store"
    LabelStore.build(spark, dir, store)
    writeRaceCorpus(dir, 1) // both racers now see an append delta
    val ready = s"$root/ready"
    val go = s"$root/go"
    val outcome = s"$root/outcome"
    val log = new java.io.File(s"$root/subprocess.log")
    val proc = ChildJvm.start(log, "graft.FenceRaceMain", dir, store, ready, go, outcome)
    try {
      val bootDeadline = System.currentTimeMillis() + 120000L
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(ready))) {
        assert(proc.isAlive, s"subprocess died during boot — ${ChildJvm.logTail(log)}")
        assert(System.currentTimeMillis() < bootDeadline, "subprocess boot timeout")
        Thread.sleep(50)
      }
      // GO — the subprocess polls at 20 ms; the parent enters the same
      // maintenance call immediately, so the two overlap for the whole
      // multi-second run
      java.nio.file.Files.writeString(java.nio.file.Paths.get(go), "go")
      val mine =
        try Right(LabelStore.ensureCurrentIncremental(spark, dir, store))
        catch {
          // fence conflicts are IllegalStateException; the publish CAS's
          // "store advanced" require is IllegalArgumentException — both
          // are the loud-loss outcomes this test adjudicates
          case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
            Left(e.getMessage)
        }
      ChildJvm.awaitSuccess(proc, 180, log, "fence-race subprocess")
      val theirs = java.nio.file.Files.readString(java.nio.file.Paths.get(outcome))
      val outcomes = Seq(mine.fold(m => s"conflict:$m", m => s"ok:$m"), theirs)
      // invariant 1: every loss is LOUD — a conflict names the fence,
      // never silent corruption; a crash: outcome already failed above
      outcomes.foreach { o =>
        assert(o.startsWith("ok:") ||
          (o.startsWith("conflict:") && (o.contains("concurrent writer") ||
            o.contains("store advanced"))), s"unadjudicated outcome: $o; log ${ChildJvm.logTail(log)}")
      }
      // invariant 2: at least one racer succeeded
      assert(outcomes.exists(_.startsWith("ok:")), s"both failed: $outcomes")
      // invariant 3: generation numbers unique — no buried publish
      val ks = generations(store)
      assert(ks.distinct.size == ks.size, s"duplicate generations: $ks")
      // invariant 4: a retry from the settled state converges, and the
      // converged labels equal a from-scratch build of the same corpus
      val retry = LabelStore.ensureCurrentIncremental(spark, dir, store)
      assert(Set("noop", "incremental", "full").contains(retry), retry)
      val fresh = tmpDir("r13-race-fresh") + "/store"
      LabelStore.build(spark, dir, fresh)
      def labels(st: String): Set[(Long, Long)] =
        LabelStore.read(spark, st).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels(store) == labels(fresh),
        "the raced store must equal the winner-plus-retry (= from-scratch) labels")
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
    }
  }

  // ---------------------------------------------------------------
  // ADVICE r12 (low): the same-stream SHORT lease must require a
  // checkpoint-scoped owner prefix — the bare `ingest-<batchId>` form is
  // just a batch counter two unrelated streams can share, so a prefix
  // match there proves nothing and keeps the full foreign lease.
  // ---------------------------------------------------------------

  test("StoreDirs.acquireGen: a bare ingest-<batchId> prefix match keeps the full lease; only a checkpoint-scoped prefix earns the restart lease") {
    import graft.operators.StoreDirs
    import org.apache.hadoop.fs.Path
    val rootDir = tmpDir("r13-fence-scope")
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(k: Long, content: String, ageMs: Long): Unit = {
      val p = java.nio.file.Paths.get(rootDir, s".fence-$k")
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    }
    val age = StoreDirs.restartFenceMs + 60000L // past restart, inside full
    // bare form: two unrelated batch-counter streams share `ingest-1` —
    // a foreign live writer's fence must hold for the FULL lease
    plant(1L, s"ingest-1@99999-${java.util.UUID.randomUUID()}", age)
    val e = intercept[IllegalStateException] {
      StoreDirs.acquireGen(fs, root, 1L, owner = Some("ingest-1"))
    }
    assert(e.getMessage.contains("held by a live writer"), e.getMessage)
    // checkpoint-scoped form at the same age: only the stream's own
    // incarnations can share the prefix — the restart lease applies
    plant(2L, s"ingest-cpA-1@99999-${java.util.UUID.randomUUID()}", age)
    StoreDirs.acquireGen(fs, root, 2L, owner = Some("ingest-cpA-1"))
    assert(new java.io.File(rootDir, ".fence-2").exists(),
      "the scoped same-stream claim must have reclaimed and re-fenced")
    // and a scoped prefix MISMATCH stays foreign at that age
    plant(3L, s"ingest-cpB-1@99999-${java.util.UUID.randomUUID()}", age)
    val e2 = intercept[IllegalStateException] {
      StoreDirs.acquireGen(fs, root, 3L, owner = Some("ingest-cpA-1"))
    }
    assert(e2.getMessage.contains("held by a live writer"), e2.getMessage)
  }
}
