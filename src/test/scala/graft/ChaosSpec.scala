package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import ChildJvm.killVictim
import Fixtures.{admittedIds, digest, docSchema, dupDocLine, eventSchema, generations, writeTopic}

/** Fault injection across real process boundaries. The executor-kill
  * test runs [[ChaosMain]] in its own `local-cluster` JVM, which
  * SIGKILLs executor JVMs mid-query, mid-store-maintenance and
  * mid-drain. The driver-kill tests SIGKILL a [[DriverVictim]] driver
  * JVM mid-maintenance, mid-drain and inside the band-compaction
  * publish windows, then recover in THIS JVM — a genuinely different
  * driver process, so the fence sees a foreign stale holder and the
  * whole lease/reclaim path runs for real. Every recovery must converge
  * to a no-kill control or a from-scratch build with no torn
  * generation.
  */
class ChaosSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.BandStore

  private val chaosSf = "/root/testdata/sf0.01"

  /** The dead driver is a FOREIGN stale fence holder to this JVM —
    * shrink the leases so recovery reclaims in seconds, as a production
    * operator would size them to the maintenance cadence.
    */
  private val shortLeases = Seq(
    "graft.store.fence.restartMs" -> "1500",
    "graft.store.fence.staleMs" -> "3000")

  /** Any in-flight Spark write under `root` — the `_temporary` commit
    * tree exists exactly while a write job runs, so a SIGKILL on this
    * trigger lands mid-physical-write, the hardest crash point.
    */
  private def writeInFlight(root: java.io.File): Boolean = {
    val kids = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
    kids.exists(f => f.getName == "_temporary" ||
      (f.isDirectory && writeInFlight(f)))
  }

  private def uniqueGens(store: String): Unit = {
    val gens = generations(store)
    assert(gens.distinct.size == gens.size,
      s"torn store — duplicate generations after driver kill: $gens")
  }

  test("chaos: an executor JVM killed mid-query, mid-LabelStore-write, mid-IvfStore-append, and mid-admission-drain — exact digests, no torn generations, converged stores") {
    val root = tmpDir("r14-chaos")
    val outcome = s"$root/outcome.json"
    val log = new java.io.File(s"$root/chaos.log")
    val proc = ChildJvm.start(log, "graft.ChaosMain", "/root/testdata/sf0.1", outcome)
    try {
      ChildJvm.awaitSuccess(proc, 1500, log, "chaos run")
      val line = java.nio.file.Files.readString(java.nio.file.Paths.get(outcome))
      assert(line.contains("\"query_digest_equal\":true"), line)
      assert(line.contains("\"store_equal\":true"), line)
      assert(line.contains("\"ivf_equal\":true"), line)
      assert(line.contains("\"drain_equal\":true"), line)
      assert(line.contains("\"dbl_equal\":true"), line)
      // the aimed-kill scan landed enough positions to mean something
      val aimedLanded = "\"aimed_landed\":(\\d+)".r
        .findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)
      assert(aimedLanded >= 3, s"aimed-kill scan landed only $aimedLanded/6: $line")
      // the kills verifiably happened and were observed on the bus:
      // four single kills + the double kill's two victims + two per
      // landed aimed attempt
      val events = "\"executor_removed_events\":(\\d+)".r
        .findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)
      assert(events >= 6 + 2 * aimedLanded,
        s"expected ≥${6 + 2 * aimedLanded} executor-removed events, got $events: $line")
      assert(!line.contains("\"query_kill_pid\":-1") &&
        !line.contains("\"store_kill_pid\":-1") &&
        !line.contains("\"ivf_kill_pid\":-1") &&
        !line.contains("\"drain_kill_pid\":-1") &&
        !line.contains("\"dbl_kill_pid\":-1"), line)
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
    }
  }

  test("driver-kill (g): SIGKILL mid-LabelStore-maintenance; a fresh driver reclaims the stale fence and converges hash-equal from-scratch") {
    import graft.operators.LabelStore
    val docs = spark.read.parquet(s"$chaosSf/documents.parquet")
    val work = tmpDir("r15-dkill-label")
    val corpus0 = s"$work/corpus0"
    val corpus1 = s"$work/corpus1"
    docs.filter(col("doc_id") % 10 =!= 7).repartition(4)
      .write.mode("overwrite").parquet(s"$corpus0/documents.parquet")
    docs.repartition(4)
      .write.mode("overwrite").parquet(s"$corpus1/documents.parquet")
    var landed = false
    var store = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      store = s"$work/store-$attempts"
      LabelStore.build(spark, corpus0, store)
      val storeDir = new java.io.File(store)
      landed = killVictim(new java.io.File(s"$work/victim-$attempts.log"),
        Seq("label", corpus1, store))(() => writeInFlight(storeDir))
    }
    assert(landed, s"could not land an in-flight driver kill in $attempts attempts")
    uniqueGens(store)
    // fresh-driver recovery: the victim's fence is stale foreign debris;
    // after the lease (and the staging-activity probe aging out) the
    // reclaim path must converge
    var mode = ""
    var n = 0
    withProps(shortLeases: _*) {
      while (mode == "" && n < 6) {
        n += 1
        try mode = LabelStore.ensureCurrentIncremental(spark, corpus1, store)
        catch {
          case e @ (_: IllegalStateException | _: IllegalArgumentException)
            if n < 6 => Thread.sleep(1500)
        }
      }
    }
    assert(Set("noop", "incremental", "full").contains(mode),
      s"fresh driver did not converge after the kill: '$mode'")
    uniqueGens(store)
    val fresh = s"$work/fresh"
    LabelStore.build(spark, corpus1, fresh)
    assert(digest(LabelStore.read(spark, store)) ==
           digest(LabelStore.read(spark, fresh)),
      "post-driver-kill store labels diverged from a from-scratch build")
  }

  test("driver-kill (g): SIGKILL mid-IvfStore-maintenance; a fresh driver converges bit-equal to a no-kill control") {
    import graft.operators.IvfStore
    val emb = spark.read.parquet(s"$chaosSf/embeddings.parquet")
    val nV = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    // ×8 id-shifted inflation (the ChaosMain trick): enough delta work
    // that the classify→assign→publish chain spans real write jobs
    val embBig = (0 until 8).map(i =>
        emb.select((col("vec_id") + lit(i * nV)).as("vec_id"),
          col("embedding"), col("label")))
      .reduce(_ unionByName _).repartition(8)
    val work = tmpDir("r15-dkill-ivf")
    val corpusV0 = s"$work/vcorpus0"
    val corpusV1 = s"$work/vcorpus1"
    embBig.filter(col("vec_id") % 10 =!= 7)
      .write.mode("overwrite").parquet(s"$corpusV0/embeddings.parquet")
    embBig.write.mode("overwrite").parquet(s"$corpusV1/embeddings.parquet")
    // no-kill control: the incremental path is deterministic given
    // (base subset, delta), so the survivor must match it bit-for-bit
    val control = s"$work/control"
    IvfStore.build(spark, corpusV0, control)
    val ctrlMode = IvfStore.ensureCurrentIncremental(spark, corpusV1, control)
    assert(ctrlMode == "incremental", s"control took '$ctrlMode'")

    var landed = false
    var vstore = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      vstore = s"$work/vstore-$attempts"
      IvfStore.build(spark, corpusV0, vstore)
      val storeDir = new java.io.File(vstore)
      landed = killVictim(new java.io.File(s"$work/victim-$attempts.log"),
        Seq("ivf", corpusV1, vstore))(() => writeInFlight(storeDir))
    }
    assert(landed, s"could not land an in-flight driver kill in $attempts attempts")
    uniqueGens(vstore)
    var mode = ""
    var n = 0
    withProps(shortLeases: _*) {
      while (mode == "" && n < 6) {
        n += 1
        try mode = IvfStore.ensureCurrentIncremental(spark, corpusV1, vstore)
        catch {
          case e @ (_: IllegalStateException | _: IllegalArgumentException)
            if n < 6 => Thread.sleep(1500)
        }
      }
    }
    assert(Set("noop", "incremental").contains(mode),
      s"fresh driver did not converge on the append path: '$mode'")
    uniqueGens(vstore)
    val liveCols = Seq("vec_id", "e", "norm", "c_id").map(col)
    assert(digest(IvfStore.liveVectors(spark, vstore).select(liveCols: _*)) ==
           digest(IvfStore.liveVectors(spark, control).select(liveCols: _*)),
      "post-driver-kill IVF live set diverged from the no-kill control")
    assert(digest(IvfStore.probe(spark, corpusV1, vstore)) ==
           digest(IvfStore.probe(spark, corpusV1, control)),
      "post-driver-kill IVF probe diverged from the no-kill control")
  }

  test("driver-kill (g): SIGKILL mid-dedupAdmitDrain; a fresh driver's checkpoint re-drain equals the no-kill control") {
    import graft.streaming.Streams
    val work = tmpDir("r15-dkill-drain")
    def drainSrc(topic: String) = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").json(topic)

    val ctrlTopic = s"$work/ctrl-topic"
    writeTopic(ctrlTopic, 300)(dupDocLine)
    Streams.dedupAdmitDrain(drainSrc(ctrlTopic), s"$work/ctrl-store",
      s"$work/ctrl-admitted", s"$work/ctrl-ckpt")
    val ctrlAdmitted = admittedIds(spark, s"$work/ctrl-admitted")
    assert(ctrlAdmitted.nonEmpty, "control drain admitted nothing")

    var landed = false
    var root = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      root = s"$work/drain-$attempts"
      val topic = s"$root/topic"
      writeTopic(topic, 300)(dupDocLine)
      val commits = new java.io.File(s"$root/ckpt/commits")
      def committed(): Int =
        Option(commits.listFiles()).getOrElse(Array.empty)
          .count(!_.getName.startsWith("."))
      landed = killVictim(new java.io.File(s"$root/victim.log"),
        Seq("drain", topic, s"$root/store", s"$root/admitted", s"$root/ckpt"))(
        () => committed() >= 2)
    }
    assert(landed, s"could not land an in-flight drain kill in $attempts attempts")
    // fresh-driver recovery: re-drain from the dead driver's checkpoint
    // — exactly-once replay over the idempotent per-batch overwrite
    var converged = false
    var n = 0
    withProps(shortLeases: _*) {
      while (!converged && n < 3) {
        n += 1
        try {
          Streams.dedupAdmitDrain(drainSrc(s"$root/topic"), s"$root/store",
            s"$root/admitted", s"$root/ckpt")
          converged = true
        } catch { case _: Exception if n < 3 => Thread.sleep(1500) }
      }
    }
    assert(converged, "re-drain after the driver kill did not converge")
    assert(admittedIds(spark, s"$root/admitted") == ctrlAdmitted,
      "post-driver-kill admitted set diverged from the no-kill control")
  }

  test("driver-kill (g): SIGKILL mid-DateStore-ingest; a fresh driver re-drains to the control and the union corpus is a provable noop") {
    import graft.sources.DateStore
    val work = tmpDir("r16-dkill-date")
    // dates repeat across micro-batches, so nearly every batch RESTATES
    // late days (old-rows ∪ batch-rows with the XOR'd fingerprint) — the
    // kill must be able to land mid-restate, the hardest crash point
    def line(id: Long): String =
      s"""{"event_id":$id,"ts":"2024-03-0${(id % 7) + 1} 0${id % 10}:00:00","user_id":${id % 50},"event_type":"e${id % 5}","value":${id % 97}.5,"props":"p$id"}"""
    def drainSrc(topic: String) = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").json(topic)
    def drain(topic: String, store: String, ckpt: String): Unit =
      DateStore.ingestSink(drainSrc(topic), store, ckpt).awaitTermination(120000)

    val ctrlTopic = s"$work/ctrl-topic"
    writeTopic(ctrlTopic, 400)(line)
    drain(ctrlTopic, s"$work/ctrl-store", s"$work/ctrl-ckpt")
    val ctrl = digest(DateStore.readEvents(spark, s"$work/ctrl-store"))

    var landed = false
    var root = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      root = s"$work/date-$attempts"
      val topic = s"$root/topic"
      writeTopic(topic, 400)(line)
      val commits = new java.io.File(s"$root/ckpt/commits")
      def committed(): Int =
        Option(commits.listFiles()).getOrElse(Array.empty)
          .count(!_.getName.startsWith("."))
      landed = killVictim(new java.io.File(s"$root/victim.log"),
        Seq("dateingest", topic, s"$root/store", s"$root/ckpt"))(
        () => committed() >= 2)
    }
    assert(landed, s"could not land an in-flight ingest kill in $attempts attempts")
    uniqueGens(s"$root/store")
    // fresh-driver recovery: re-drain from the dead driver's checkpoint.
    // The replayed batch is either below the stored ingest floor (the
    // publish landed before the kill → "skip") or re-merged identically
    // — exactly-once either way.
    var converged = false
    var n = 0
    withProps(shortLeases: _*) {
      while (!converged && n < 3) {
        n += 1
        try {
          drain(s"$root/topic", s"$root/store", s"$root/ckpt")
          converged = true
        } catch { case _: Exception if n < 3 => Thread.sleep(1500) }
      }
    }
    assert(converged, "re-drain after the driver kill did not converge")
    uniqueGens(s"$root/store")
    assert(digest(DateStore.readEvents(spark, s"$root/store")) == ctrl,
      "post-driver-kill DateStore content diverged from the no-kill control")
    // validity by measurement: the corpus-driven maintenance over the
    // UNION of everything ingested must read the crash-restated store as
    // current — the merged manifest's XOR'd fingerprints equal a
    // from-scratch digest exactly (the s11_date_ingest property, now
    // pinned across a driver kill)
    val union = spark.read.schema(eventSchema).json(s"$root/topic")
    assert(DateStore.ensureIncrementalEvents(union, s"$root/store") == "noop",
      "union corpus must be a provable noop over the crash-recovered store")
  }

  // ---- band-compaction publish windows --------------------------------

  private def tokens(tag: String): String =
    (0 until 25).map(j => s"${tag}_$j").mkString(" ")

  /** 6 batches × 12 docs: 10 unique, 2 exact in-batch dups, and from
    * batch 1 on two docs reuse the previous batch's texts — so the
    * compaction under kill folds real admission state (collapsed exact
    * dups, store-vetoed rows), not pass-through batches.
    */
  private def buildStore(store: String, out: String): Unit =
    (0 until 6).foreach { b =>
      val docs = (0 until 10).map(i => ((b * 100 + i).toLong, tokens(s"t${b}_$i"))) ++
        Seq(((b * 100 + 10).toLong, tokens(s"t${b}_0")),
            ((b * 100 + 11).toLong, tokens(s"t${b}_1"))) ++
        (if (b == 0) Seq.empty
         else Seq(((b * 100 + 12).toLong, tokens(s"t${b - 1}_0")),
                  ((b * 100 + 13).toLong, tokens(s"t${b - 1}_1"))))
      BandStore.admitBatch(docs.toDF("doc_id", "text"), b.toLong, store, out)
    }

  private def markerSet(tree: String): Set[String] =
    Option(new java.io.File(tree, ".live").listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("__batch=")).toSet

  private def diskBatches(tree: String): Set[String] =
    Option(new java.io.File(tree).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__batch="))
      .map(_.getName).toSet

  private def dotEntries(tree: String, prefix: String): Seq[String] =
    Option(new java.io.File(tree).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(prefix)).toSeq

  private def trees(store: String): Seq[String] =
    Seq(BandStore.bandsDir(store), BandStore.sigsDir(store))

  /** Window A on disk: a physical base dir none of whose markers exist. */
  private def unmarkedBase(store: String): Boolean =
    trees(store).exists { t =>
      val live = markerSet(t)
      diskBatches(t).filter(_.startsWith("__batch=-")).exists(b =>
        !live.exists(m => m == b || m.startsWith(b + "%%")))
    }

  /** Window B on disk: a base marker is live but no retirement log has
    * been written yet in that tree.
    */
  private def markedUnretired(store: String): Boolean =
    trees(store).exists { t =>
      markerSet(t).exists(_.startsWith("__batch=-")) &&
        dotEntries(t, ".retired-").isEmpty
    }

  /** The store's logical content: data columns only (base ids differ
    * between a killed/recovered store and the control), distinct (a
    * window-B survivor legitimately holds every row in two live
    * generations — the documented benign superset admission decisions
    * are insensitive to).
    */
  private def bandsContent(store: String): DataFrame =
    BandStore.readLive(spark, BandStore.bandsDir(store))
      .select(col("doc_id"), col("band"), col("bh"), col("__obatch"))
      .distinct()

  private def sigsContent(store: String): DataFrame =
    BandStore.readLive(spark, BandStore.sigsDir(store))
      .select(col("doc_id"), col("sig"), sort_array(col("sh")).as("sh"),
        col("__obatch"))
      .distinct()

  // budget high enough that one call folds BOTH trees (the default 2 s
  // budget stops after the first tree at this fixture scale — content
  // comparison is fold-invariant, but a single-call full fold keeps the
  // debris assertions exact)
  private val compactConfs = Seq(
    BandStore.CompactAfterBatchesConf -> "4",
    BandStore.RetireGraceConf -> "0",
    BandStore.CompactSliceBudgetConf -> "600")

  /** Run one kill-point scenario end to end: the `bandcompact`
    * [[DriverVictim]] mode runs one compaction under a failpoint sleep
    * (`spark.graft.band.failpoint.<failpoint>`) that widens the chosen
    * window to seconds, so the 20 ms filesystem poll lands the SIGKILL
    * inside it when `trigger` turns true.
    */
  private def runScenario(name: String, failpoint: String,
                          trigger: String => Boolean): Unit = {
    val work = tmpDir(s"r17-dkill-$name")

    // no-kill control
    val control = s"$work/control"
    buildStore(control, s"$work/control-admitted")
    withConf(compactConfs: _*) {
      assert(BandStore.compactSliceIfNeeded(spark, control).nonEmpty,
        "control gauge must fire")
    }
    BandStore.reapRetired(spark, control, 0L)

    // victim: same store, SIGKILLed inside the window
    var landed = false
    var store = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      store = s"$work/store-$attempts"
      buildStore(store, s"$work/admitted-$attempts")
      landed = killVictim(new java.io.File(s"$work/victim-$attempts.log"),
        Seq("bandcompact", store,
          s"${BandStore.CompactAfterBatchesConf}=4," +
            s"${BandStore.RetireGraceConf}=0," +
            s"spark.graft.band.failpoint.$failpoint=20000"))(
        () => trigger(store))
    }
    assert(landed, s"could not land an in-flight $name kill in $attempts attempts")
    // the kill landed in the protocol window it aimed for
    assert(trigger(store), s"$name window not on disk after the kill")

    // fresh-driver recovery: the next maintenance pass must converge —
    // the dead holder's fence targets a PUBLISHED generation, so the new
    // pass allocates past it without any lease wait
    var recovered = false
    var n = 0
    withProps(shortLeases: _*) {
      withConf(compactConfs: _*) {
        while (!recovered && n < 6) {
          n += 1
          try { BandStore.compactSliceIfNeeded(spark, store); recovered = true }
          catch { case _: IllegalStateException if n < 6 => Thread.sleep(1500) }
        }
      }
    }
    assert(recovered, s"fresh driver did not converge after the $name kill")
    BandStore.reapRetired(spark, store, 0L)

    // content converged to the control
    assert(digest(bandsContent(store)) == digest(bandsContent(control)),
      s"$name: bands content diverged from the no-kill control")
    assert(digest(sigsContent(store)) == digest(sigsContent(control)),
      s"$name: sigs content diverged from the no-kill control")

    // debris reaped clean: physical dirs are exactly the manifest's
    // batches, and no staging / seed-tmp / fence files remain
    trees(store).foreach { t =>
      val liveBatches = markerSet(t).map(_.split("%%")(0))
      assert(diskBatches(t) == liveBatches,
        s"$name: $t holds dirs outside the manifest after the reap: " +
          s"disk=${diskBatches(t)} live=$liveBatches")
      Seq(".compact-", ".live.tmp-", ".fence-", ".retired-").foreach { p =>
        assert(dotEntries(t, p).isEmpty,
          s"$name: $t still holds $p debris: ${dotEntries(t, p)}")
      }
    }

    // and the recovered store DECIDES like the control: one more batch
    // with a store-dup and fresh docs admits identically on both
    val probe = Seq((600L, tokens("t5_0")), (601L, tokens("fresh_a")),
      (602L, tokens("fresh_b"))).toDF("doc_id", "text")
    BandStore.admitBatch(probe, 6L, store, s"$work/post-admitted")
    BandStore.admitBatch(probe, 6L, control, s"$work/post-admitted-ctrl")
    assert(admittedIds(spark, s"$work/post-admitted") ==
           admittedIds(spark, s"$work/post-admitted-ctrl"),
      s"$name: post-recovery admission diverged from the control")
    assert(admittedIds(spark, s"$work/post-admitted") == Set(601L, 602L),
      s"$name: the store-dup must be vetoed and the fresh docs admitted")
  }

  test("driver-kill (g): SIGKILL between a slice's publish rename and its marker adds; a fresh driver reaps the orphan base and converges to the no-kill control") {
    runScenario("publish", "afterPublishMs", unmarkedBase)
  }

  test("driver-kill (g): SIGKILL between a slice's marker adds and its source retirement; the superset folds away and converges to the no-kill control") {
    runScenario("markers", "afterMarkersMs", markedUnretired)
  }
}
