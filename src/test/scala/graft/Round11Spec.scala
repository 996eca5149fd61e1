package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode
import graft.operators.StoreDirs
import Fixtures.{admittedIds, admittedIn, generations, text}

/** Round-11 additions: the derived partsupp view closing the last
  * TPC-H capability hole (VERDICT r10 item 1), plan pins for the
  * single-scan forms of Q2/Q20, and a regression for the stale
  * staging-dir publish bug (ADVICE r10 medium).
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // Derived partsupp — view invariants
  // ---------------------------------------------------------------

  test("partsupp view: exactly four distinct suppliers per part, keys in range, portable arithmetic") {
    val ps = graft.operators.Analytics.partsupp(spark, sfDir)
    val nParts = graft.engine.Tables.part(spark, sfDir).count()
    val nSupp = graft.engine.Tables.supplier(spark, sfDir).count()
    assert(ps.count() == 4 * nParts, "four rows per part")
    assert(ps.select(col("ps_partkey"), col("ps_suppkey")).distinct().count()
      == 4 * nParts, "(part, supplier) pairs must be unique — stride S/4 is distinct mod S")
    val r = ps.agg(
      min(col("ps_suppkey")), max(col("ps_suppkey")),
      min(col("ps_availqty")), max(col("ps_availqty")),
      min(col("ps_supplycost")), max(col("ps_supplycost"))).head
    assert(r.getLong(0) >= 0 && r.getLong(1) < nSupp, "suppkey within supplier key space")
    assert(r.getInt(2) >= 1 && r.getInt(3) <= 9999, "availqty in [1, 9999]")
    assert(r.getDouble(4) >= 1.0 && r.getDouble(5) < 101.0, "supplycost in [1, 101)")
    // every cost is an exact multiple of 1/64 — the binary-fraction
    // portability contract with the DuckDB twin
    assert(ps.filter(col("ps_supplycost") * 64.0 =!=
      (col("ps_supplycost") * 64.0).cast("long").cast("double")).count() == 0)
  }

  // ---------------------------------------------------------------
  // Q2 / Q20 — single-scan plan pins
  // ---------------------------------------------------------------

  test("Q2 plans the correlated min as ONE keyed window over one region-qualified join — no partsupp rescan") {
    val p = graft.operators.Analytics.q2MinCostSupplier(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      "exactly one Window node — the correlated min is the keyed window")
    // the classic form scans the partsupp domain twice (outer + the
    // correlated min); the window form derives partsupp ONCE: its one
    // generator (explode over part) plus the filtered part dim = exactly
    // two part scans in the whole plan
    assert("part\\.parquet".r.findAllIn(p).size == 2,
      "partsupp derived once + the part dim — the correlated min adds no rescan")
  }

  test("Q20 plans the nested correlated SUM as ONE lineitem aggregate — the fact is scanned once") {
    val p = graft.operators.Analytics.q20PromoPartSupp(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      "the classic per-(part,supp) correlated rescan must not appear")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    // the ship-window predicate reaches the one fact scan
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "ship-date window must push into the lineitem scan")
  }

  // ---------------------------------------------------------------
  // Stale staging dir — crashed streaming attempt must not leak its
  // micro-batch id into a later corpus-driven publish
  // ---------------------------------------------------------------

  private def plantStaleIngest(storeRoot: String, nextGen: Long, bogusId: Long): Unit =
    Seq(bogusId).toDF("last_stream_batch").coalesce(1)
      .write.mode("overwrite").parquet(s"$storeRoot/.staging-$nextGen/ingest")

  private def vecs(n: Int) = (0L until n.toLong).map { i =>
    (i, Seq(math.cos(i * 0.07).toFloat, math.sin(i * 0.07).toFloat, 0f, 0f), (i % 3).toInt)
  }.toDF("vec_id", "embedding", "label")

  private def docs(n: Int) =
    documentsOf((0L until n.toLong).map(i => (i, (0 until 30).map(j => s"d${i}_$j").mkString(" "))))

  private def genDirs(storeRoot: String): Seq[java.io.File] =
    Option(new java.io.File(storeRoot).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("gen=")).toSeq.sortBy(_.getName)

  test("DateStore: a crashed streaming attempt's staging ingest id does not ride into the next publish") {
    import graft.sources.DateStore
    val store = tmpDir("r11-datestale") + "/store"
    val ev0 = graft.engine.Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) < lit("2024-01-05")).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev0, store) == "full")
    // simulate appendEvents(batch 99) crashing after the staging write,
    // before the rename: gen 1 is live, .staging-2/ingest holds 99
    plantStaleIngest(store, nextGen = 2L, bogusId = 99L)
    val ev1 = graft.engine.Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) < lit("2024-01-07")).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev1, store) == "incremental")
    val g2 = genDirs(store).last
    assert(!new java.io.File(g2, "ingest").exists(),
      s"stale staging ingest id leaked into ${g2.getName} — batch 99 would replay as a silent skip")
    // and the never-committed batch is indeed NOT absorbed: its delivery
    // ingests rather than skipping
    val batch = graft.engine.Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) === lit("2024-01-07")).localCheckpoint()
    assert(DateStore.appendEvents(batch, store, 99L) != "skip",
      "batch 99 was never committed — a skip is silent data loss")
  }

  test("IvfStore: a crashed streaming attempt's staging ingest id does not ride into the next publish") {
    import graft.operators.IvfStore
    val store = tmpDir("r11-ivfstale") + "/store"
    IvfStore.buildVecs(vecs(64), store)
    plantStaleIngest(store, nextGen = 2L, bogusId = 99L)
    // corpus-driven append path (ingestId = None) publishes gen 2
    assert(IvfStore.ensureIncrementalVecs(vecs(80).localCheckpoint(), store)
      == "incremental")
    val g2 = genDirs(store).last
    assert(!new java.io.File(g2, "ingest").exists(),
      s"stale staging ingest id leaked into ${g2.getName} — batch 99 would replay as a silent skip")
    assert(IvfStore.appendVectors(
      (80L to 83L).map(i => (i, Seq(0f, 0f, 1f, i.toFloat / 100f), 0))
        .toDF("vec_id", "embedding", "label"), store, 99L) != "skip",
      "batch 99 was never committed — a skip is silent data loss")
  }

  // ---------------------------------------------------------------
  // Concurrent-writer fence — two racing maintainers: one wins, one
  // fails loudly, the store equals the winner plus a retry
  // ---------------------------------------------------------------

  private def plantFence(storeRoot: String, k: Long): Unit = {
    val f = new java.io.File(storeRoot, s".fence-$k")
    f.getParentFile.mkdirs()
    assert(f.createNewFile(), s"could not plant $f")
  }

  private def ageFence(storeRoot: String, k: Long, ageMs: Long): Unit =
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(storeRoot, s".fence-$k"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))

  test("StoreDirs.withGenFence: failure settles then releases; a return through the body keeps the fence") {
    val root = new org.apache.hadoop.fs.Path(tmpDir("r11-fencehelper"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fenceExists(k: Long) = new java.io.File(root.toUri.getPath, s".fence-$k").exists()

    // success keeps the fence (published generations hold theirs)
    assert(StoreDirs.withGenFence(fs, root, 1L) { 42 } == 42)
    assert(fenceExists(1L), "success must keep the fence")

    // failure: the settle hook runs BEFORE the release (a zombie write
    // must be joined while the fence still excludes a second writer)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = intercept[RuntimeException] {
      StoreDirs.withGenFence(fs, root, 2L,
        onFailure = () => { order += s"settle-held=${fenceExists(2L)}" }) {
        throw new RuntimeException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(order.toSeq == Seq("settle-held=true"),
      "the settle hook must run exactly once, while the fence is still held")
    assert(!fenceExists(2L), "failure must release the fence")

    // a `return` from inside the by-name body is a ControlThrowable, NOT
    // a failure: the fence of a just-published generation must be kept
    def lane(): String = {
      StoreDirs.withGenFence(fs, root, 3L) { return "published-early" }
      "fell-through"
    }
    assert(lane() == "published-early")
    assert(fenceExists(3L), "a return after publish must keep the fence")
  }

  test("DateStore fence: a held generation makes the second writer fail loudly; a stale fence is reclaimed; retry converges") {
    import graft.sources.DateStore
    val store = tmpDir("r11-datefence") + "/store"
    val ev = graft.engine.Tables.events(spark, sfDir).localCheckpoint()
    def upTo(d: String) = ev.filter(to_date(col("ts")) < lit(d))
    // the initial history must dominate, or the later appends trip the
    // >50%-changed-mass compaction threshold and legitimately rebuild
    assert(DateStore.ensureIncrementalEvents(upTo("2024-01-15"), store) == "full")
    // writer A holds generation 2 (fresh fence, mid-maintenance): writer
    // B must fail LOUDLY, not bury A's work
    plantFence(store, 2L)
    val e = intercept[IllegalStateException] {
      DateStore.ensureIncrementalEvents(upTo("2024-01-18"), store)
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // ... and B's failure wrote NOTHING: no __batch=2 data dir appeared
    assert(!new java.io.File(s"$store/days/__batch=2").exists(),
      "the losing writer must fail before its first shared-path write")
    // A crashed instead: its fence goes stale past the lease — the next
    // writer reclaims and proceeds
    ageFence(store, 2L, ageMs = StoreDirs.staleFenceMs + 60000L)
    assert(DateStore.ensureIncrementalEvents(upTo("2024-01-18"), store) == "incremental")
    // B's original intent retries cleanly from the advanced state
    assert(DateStore.ensureIncrementalEvents(upTo("2024-01-20"), store) == "incremental")
    val got = DateStore.readEvents(spark, store).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val want = upTo("2024-01-20").select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want, "store must equal the winner plus the retry")
  }

  test("fence race: two simultaneous DateStore maintainers never interleave — at most one gen per number, loser loud, retry converges") {
    import graft.sources.DateStore
    val store = tmpDir("r11-daterace") + "/store"
    val ev = graft.engine.Tables.events(spark, sfDir).localCheckpoint()
    def upTo(d: String) = ev.filter(to_date(col("ts")) < lit(d))
    assert(DateStore.ensureIncrementalEvents(upTo("2024-01-05"), store) == "full")
    val evA = upTo("2024-01-15").localCheckpoint()
    val evB = upTo("2024-01-20").localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def run(evX: org.apache.spark.sql.DataFrame) = Future {
      barrier.await()
      try Right(DateStore.ensureIncrementalEvents(evX, store))
      catch { case e: IllegalStateException => Left(e) }
    }
    // launch BOTH futures before awaiting either — the barrier needs
    // two live parties
    val (fa, fb) = (run(evA), run(evB))
    val (ra, rb) = (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
    // invariant 1: any loss is LOUD (IllegalStateException), never silent
    Seq(ra, rb).foreach {
      case Left(e) => assert(e.getMessage.contains("concurrent writer") ||
        e.getMessage.contains("store advanced"), e.getMessage)
      case Right(m) => assert(Set("incremental", "full", "noop").contains(m))
    }
    // invariant 2: at least one writer succeeded
    assert(Seq(ra, rb).exists(_.isRight), s"both failed: $ra / $rb")
    // invariant 3: generation numbers are unique — no buried publish
    val ks = generations(store)
    assert(ks.distinct.size == ks.size, s"duplicate generation numbers: $ks")
    // invariant 4: a retry from the settled state converges exactly
    val m = DateStore.ensureIncrementalEvents(evB, store)
    assert(m == "incremental" || m == "noop" || m == "full", m)
    val got = DateStore.readEvents(spark, store).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == evB.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("ingest fence owner: exact-token debris reclaims immediately; a same-stream foreign process waits the restart lease; foreign writers wait the full lease") {
    import graft.sources.DateStore
    val store = tmpDir("r11-owner") + "/store"
    val ev = graft.engine.Tables.events(spark, sfDir).localCheckpoint()
    def upTo(d: String) = ev.filter(to_date(col("ts")) < lit(d))
    assert(DateStore.appendEvents(upTo("2024-01-10"), store, 0L, Some("cpA"))
      == "append-initial")
    def plantOwner(k: Long, token: String): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(store, s".fence-$k"), token.getBytes("UTF-8"))
    val batch = ev.filter(to_date(col("ts")) === lit("2024-01-10")).localCheckpoint()
    // tier 2 (ADVICE r11): the owner PREFIX alone — what a live zombie
    // driver replaying the same checkpoint would also stamp — must NOT
    // bypass every lease. A young fence from a DIFFERENT process locks
    // out even the same stream's replay...
    plantOwner(2L, s"ingest-cpA-1@99999-${java.util.UUID.randomUUID()}")
    val z = intercept[IllegalStateException] {
      DateStore.appendEvents(batch, store, 1L, Some("cpA"))
    }
    assert(z.getMessage.contains("held by a live writer"), z.getMessage)
    // ... and a FOREIGN writer (corpus-driven maintenance) too
    val e = intercept[IllegalStateException] {
      DateStore.ensureIncrementalEvents(upTo("2024-01-12"), store)
    }
    assert(e.getMessage.contains("held by a live writer"), e.getMessage)
    // aged past the short RESTART lease (but far inside the full lease):
    // the same stream's replay reclaims — a restarted driver recovers in
    // restartMs, not a 15-minute crash-loop — while the foreign writer
    // would still be locked out at this age
    ageFence(store, 2L, StoreDirs.restartFenceMs + 60000L)
    val e2 = intercept[IllegalStateException] {
      DateStore.ensureIncrementalEvents(upTo("2024-01-12"), store)
    }
    assert(e2.getMessage.contains("held by a live writer"), e2.getMessage)
    assert(DateStore.appendEvents(batch, store, 1L, Some("cpA")) == "append")
    val got = DateStore.readEvents(spark, store).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val want = upTo("2024-01-11").select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want, "the replayed batch must have landed exactly once")
    // tier 1: THIS process's own exact token (prefix + process token)
    // reclaims with zero lease — the in-process retry fast path (batch 2
    // claims generation 3 now that generation 2 is published)
    plantOwner(3L, s"ingest-cpA-2@${StoreDirs.processToken}")
    val batch2 = ev.filter(to_date(col("ts")) === lit("2024-01-11")).localCheckpoint()
    assert(DateStore.appendEvents(batch2, store, 2L, Some("cpA")) == "append")
  }

  test("ingest fence: an aged same-stream fence with ACTIVE staging writes is a live zombie — not reclaimed") {
    import graft.sources.DateStore
    val store = tmpDir("r11-zombie") + "/store"
    val ev = graft.engine.Tables.events(spark, sfDir).localCheckpoint()
    def upTo(d: String) = ev.filter(to_date(col("ts")) < lit(d))
    assert(DateStore.appendEvents(upTo("2024-01-10"), store, 0L, Some("cpA"))
      == "append-initial")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store, ".fence-2"),
      s"ingest-cpA-1@99999-${java.util.UUID.randomUUID()}".getBytes("UTF-8"))
    ageFence(store, 2L, StoreDirs.restartFenceMs + 60000L)
    // the zombie is mid-write: a FRESH file under .staging-2 proves a
    // writer is alive whatever the fence age says — reclaiming here
    // would delete a tree the zombie's running job partially recreates
    val stage = java.nio.file.Paths.get(store, ".staging-2")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.write(stage.resolve("part-00000"), "x".getBytes("UTF-8"))
    val batch = ev.filter(to_date(col("ts")) === lit("2024-01-10")).localCheckpoint()
    val z = intercept[IllegalStateException] {
      DateStore.appendEvents(batch, store, 1L, Some("cpA"))
    }
    assert(z.getMessage.contains("staging writes younger"), z.getMessage)
    // once the staging goes quiet past the lease too, the reclaim lands
    val oldTs = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - StoreDirs.restartFenceMs - 60000L)
    java.nio.file.Files.setLastModifiedTime(stage, oldTs)
    java.nio.file.Files.setLastModifiedTime(stage.resolve("part-00000"), oldTs)
    assert(DateStore.appendEvents(batch, store, 1L, Some("cpA")) == "append")
  }

  test("LabelStore and IvfStore fences: a held generation refuses the second maintainer before any index write") {
    import graft.operators.{IvfStore, LabelStore}
    // label store
    val ldir = tmpDir("r11-labelfence")
    val lstore = s"$ldir/store"
    LabelStore.buildDocs(docs(20).localCheckpoint(), lstore)
    plantFence(lstore, 2L)
    val le = intercept[IllegalStateException] {
      LabelStore.ensureIncrementalDocs(docs(25).localCheckpoint(), lstore)
    }
    assert(le.getMessage.contains("concurrent writer"), le.getMessage)
    ageFence(lstore, 2L, StoreDirs.staleFenceMs + 60000L)
    assert(LabelStore.ensureIncrementalDocs(docs(25).localCheckpoint(), lstore)
      == "incremental")
    // ivf store
    val vstore = tmpDir("r11-ivffence") + "/store"
    def vecs(n: Int) = (0L until n.toLong).map { i =>
      (i, Seq(math.cos(i * 0.07).toFloat, math.sin(i * 0.07).toFloat, 0f, 0f), 0)
    }.toDF("vec_id", "embedding", "label")
    IvfStore.buildVecs(vecs(64), vstore)
    plantFence(vstore, 2L)
    val ve = intercept[IllegalStateException] {
      IvfStore.ensureIncrementalVecs(vecs(80).localCheckpoint(), vstore)
    }
    assert(ve.getMessage.contains("concurrent writer"), ve.getMessage)
    ageFence(vstore, 2L, StoreDirs.staleFenceMs + 60000L)
    assert(IvfStore.ensureIncrementalVecs(vecs(80).localCheckpoint(), vstore)
      == "incremental")
  }

  // ---------------------------------------------------------------
  // Spill-to-disk (VERDICT r10 item 2, the unit half): a forced-spill
  // execution must equal its in-memory twin bit-for-bit, with disk
  // bytes ACTUALLY spilled — not designed-for. The heap-constrained
  // full-surface run lives in SpillStress/STRESS_r11; this pin forces
  // the spill deterministically via the runtime-settable buffer
  // thresholds (the sorters under them are the same
  // UnsafeExternalSorter the memory-pressure path uses).
  // ---------------------------------------------------------------

  /** The forced-spill pins' constants, derived from the RUNNING
    * topology's memory shape instead of the 8 GiB local[4] fixture they
    * were originally calibrated to (VERDICT r13 #3: the fixture
    * constants OOM'd a 1 GiB-heap local-cluster executor — exit 52 —
    * so the pins `assume()`-canceled there, leaving the suite at 228+2
    * under local-cluster). Per-task memory is MEASURED where the tasks
    * run: the smallest executor heap (a real job — under local-cluster
    * that is the child JVM's heap, not the driver's) divided by the
    * topology's task slots per executor. Every forcing constant scales
    * linearly with that ratio against the fixture's 2 GiB/task
    * reference, clamped to [1/32, 1] — at scale 1 these are exactly the
    * constants every prior recorded round ran.
    */
  private lazy val spillScale: Double = {
    val heapMin = spark.range(0, 64, 1, 64).rdd
      .map(_ => Runtime.getRuntime.maxMemory).min()
    val m = spark.sparkContext.master
    val slots = m match {
      case s if s.startsWith("local-cluster") =>
        // local-cluster[n, coresPerWorker, memPerWorkerMB]
        s.stripPrefix("local-cluster[").stripSuffix("]").split(",")(1).trim.toInt
      case s if s.startsWith("local[") =>
        val n = s.stripPrefix("local[").stripSuffix("]")
        if (n == "*") Runtime.getRuntime.availableProcessors() else n.toInt
      case _ => spark.conf.getOption("spark.executor.cores").map(_.toInt).getOrElse(1)
    }
    val perTask = heapMin.toDouble / slots
    val fixturePerTask = 2.0 * 1024 * 1024 * 1024 // 8 GiB local[4]
    math.min(1.0, math.max(1.0 / 32, perTask / fixturePerTask))
  }

  test("forced spill: SMJ buffered side and window buffer spill to disk; results equal the in-memory run") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import java.util.concurrent.atomic.AtomicLong
    val disk = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) disk.addAndGet(e.taskMetrics.diskBytesSpilled)
    }
    // ~3k buffered rows per join key and per window partition at scale 1
    // — far past the forced thresholds below; rows and thresholds both
    // shrink with the per-task memory so smaller executors still spill
    // (group size stays well past the spill threshold at every scale)
    // without OOMing on reader buffers. The streamed join side carries
    // ONE row per key so the buffered side still buffers whole per-key
    // groups while the join OUTPUT stays batch-sized (a many×many key
    // would fan out quadratically and genuinely OOM the fixture JVM).
    val nRows = math.max(20000L, (200000L * spillScale).toLong)
    val inMemThreshold = math.max(64, (256 * spillScale).toInt)
    val df = spark.range(nRows)
      .select((col("id") % 64).as("k"), col("id").as("v")).localCheckpoint()
    def smjChecksum(): Double = {
      val a = df.select(col("k")).distinct().withColumn("va", col("k") * 7 + 1)
      val b = df.select(col("k"), (col("v") * 3).as("vb"))
      a.join(b, Seq("k"))
        .agg(sum((col("va") % 97) * (col("vb") % 89)).as("s"))
        .head.getLong(0).toDouble
    }
    def windowChecksum(): Double = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("rn",
          row_number().over(Window.partitionBy(col("k")).orderBy(col("v"))))
        .agg(sum(col("rn") * (col("v") % 101))).head.getLong(0).toDouble
    }
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // SMJ, not broadcast
      // a handful of forced spill segments per group: real disk spill
      // without hundreds of tiny segments (each spill reader buffers
      // ~1 MB — an unscaled threshold 64 at 3k-row groups OOM'd the
      // fixture JVM on reader buffers, hence the floor)
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> inMemThreshold.toString,
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> (2 * inMemThreshold).toString,
      "spark.sql.windowExec.buffer.in.memory.threshold" -> inMemThreshold.toString,
      "spark.sql.windowExec.buffer.spill.threshold" -> (2 * inMemThreshold).toString)
    val (smjBase, winBase) = (smjChecksum(), windowChecksum())
    spark.sparkContext.addSparkListener(listener)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val smjSpilled = smjChecksum()
      val winSpilled = windowChecksum()
      Thread.sleep(1500) // drain the async listener bus
      assert(smjSpilled == smjBase, "forced-spill SMJ result diverged")
      assert(winSpilled == winBase, "forced-spill window result diverged")
      assert(disk.get() > 0L,
        "the thresholds must have forced actual disk spill (diskBytesSpilled == 0)")
    } finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("forced hash-agg fallback to sort-based aggregation equals the hash-path result") {
    // same memory-shape scaling as the SMJ/window pin; ~10 rows per
    // group at every scale so the fallback sorter sees real groups
    val nRows = math.max(20000L, (100000L * spillScale).toLong)
    val df = spark.range(nRows).select(
      (col("id") % (nRows / 10)).as("g"), col("id").as("v")).localCheckpoint()
    def aggChecksum(): Long = {
      val g = df.groupBy(col("g")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      g.agg(sum(col("s") % 1000003 + col("n"))).head.getLong(0)
    }
    val base = aggChecksum()
    // the internal test hook HashAggregateExec honors: switch the hash
    // map to the sort-based fallback (UnsafeKVExternalSorter) after N
    // rows — the exact path real memory pressure takes
    spark.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "100,200")
    try assert(aggChecksum() == base, "sort-fallback aggregation diverged")
    finally spark.conf.unset("spark.sql.TungstenAggregate.testFallbackStartsAt")
  }

  // ---------------------------------------------------------------
  // Retention: eviction tombstones bound the dedup memory — vetoes stop
  // immediately, re-admission revives, compaction reclaims the bytes
  // ---------------------------------------------------------------

  private def duBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }

  test("BandStore retention: evictDocs stops the veto, re-admission outranks the tombstone, compaction physically reclaims") {
    import graft.streaming.BandStore
    val root = tmpDir("r11-evict")
    val store = s"$root/store"
    val admitted = s"$root/admitted"

    // batch 0: the base corpus
    BandStore.admitBatch(frame((0 until 30).map(i => (i.toLong, text("a", i)))),
      0L, store, admitted)
    // batch 1: an exact copy of doc 3 under a new id — the store vetoes
    BandStore.admitBatch(frame(Seq((100L, text("a", 3)))), 1L, store, admitted)
    assert(!admittedIds(spark, admitted).contains(100L), "store veto must drop the copy of a live doc")
    // batch 2: doc 3 leaves the corpus (takedown)
    BandStore.evictDocs(Seq(3L).toDF("doc_id"), 2L, store)
    // batch 3: the SAME text is now admissible — its only peer is
    // evicted — while a copy of retained doc 7 still drops
    BandStore.admitBatch(frame(Seq((101L, text("a", 3)), (102L, text("a", 7)))),
      3L, store, admitted)
    assert(admittedIds(spark, admitted).contains(101L), "eviction must free the dedup memory")
    assert(!admittedIds(spark, admitted).contains(102L), "retained docs must keep vetoing")
    // batch 4: doc 101's rows (batch 3) OUTRANK the batch-2 tombstone —
    // the revived text vetoes again
    BandStore.admitBatch(frame(Seq((103L, text("a", 3)))), 4L, store, admitted)
    assert(!admittedIds(spark, admitted).contains(103L),
      "re-admission must revive the veto (batch-gated mask)")

    // compaction absorbs the tombstone and physically drops the rows
    val before = duBytes(store)
    BandStore.compactStore(spark, store, minLiveBatch = 5L)
    // force-reap (grace 0, quiesced): physical assertions below check
    // the reaped layout — retirement defers deletion by the grace
    BandStore.reapRetired(spark, store, 0L)
    assert(!new java.io.File(BandStore.evictedDir(store)).exists() ||
      Option(new java.io.File(BandStore.evictedDir(store)).listFiles()).getOrElse(Array.empty)
        .forall(f => !f.getName.startsWith("__batch=")),
      "absorbed tombstone partitions must be deleted")
    val sigs = spark.read.parquet(BandStore.sigsDir(store))
    assert(sigs.filter(col("doc_id") === 3L).count() == 0,
      "the evicted doc's rows must be physically gone")
    assert(sigs.filter(col("doc_id") === 101L).count() == 1,
      "the re-admitted doc must survive compaction")
    assert(duBytes(store) < before,
      "compaction after eviction must reclaim disk bytes")
    // post-compaction behavior unchanged: dup of a live doc drops, a
    // fresh doc lands
    BandStore.admitBatch(frame(Seq((104L, text("a", 12)), (105L, text("z", 1)))),
      5L, store, admitted)
    assert(!admittedIds(spark, admitted).contains(104L) && admittedIds(spark, admitted).contains(105L))

    // same-id re-admission: the batch-gate (`__obatch >= __tb`) must let a
    // tombstoned doc_id's OWN newer rows outrank its tombstone — the
    // revive above (101) used a fresh id, which a mask that ignored the
    // gate would also pass
    BandStore.evictDocs(Seq(12L).toDF("doc_id"), 6L, store)
    BandStore.admitBatch(frame(Seq((12L, text("a", 12)))), 7L, store, admitted)
    assert(admittedIn(spark, admitted, 7L).contains(12L),
      "a tombstoned id must be re-admittable (its only peer is its own masked past)")
    BandStore.admitBatch(frame(Seq((106L, text("a", 12)))), 8L, store, admitted)
    assert(admittedIn(spark, admitted, 8L).isEmpty,
      "the re-admitted id's newer rows must outrank its tombstone and veto again")
  }

  test("BandStore fence: a concurrent compaction fails loudly instead of nesting the published base") {
    import graft.streaming.BandStore
    val root = tmpDir("r11-bandfence")
    val store = s"$root/store"
    val admitted = s"$root/admitted"
    def batch(ids: Range) = ids.map(i =>
        (i.toLong, (0 until 20).map(j => s"b${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    BandStore.admitBatch(batch(0 until 30), 0L, store, admitted)
    BandStore.admitBatch(batch(30 until 60), 1L, store, admitted)
    // a competitor holds the first base generation (-1) of bands/
    plantFence(BandStore.bandsDir(store), -1L)
    val e = intercept[IllegalStateException] { BandStore.compactStore(spark, store) }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // stale competitor: reclaimed, compaction proceeds, store intact
    ageFence(BandStore.bandsDir(store), -1L, StoreDirs.staleFenceMs + 60000L)
    BandStore.compactStore(spark, store)
    BandStore.reapRetired(spark, store, 0L)
    val bands = spark.read.parquet(BandStore.bandsDir(store))
    // the partition column reads back int-typed when its values fit
    assert(bands.select(col("__batch").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(-1L), "one compacted base generation")
    assert(bands.select("doc_id").distinct().count() == 60)
  }
}
