package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 DRIVER-kill chaos (VERDICT r16 Next #1): SIGKILL a real
  * driver JVM inside [[graft.streaming.BandStore.compactSliceIfNeeded]]
  * at BOTH half-published windows of the manifest protocol — (A) after
  * the fold's publish rename but before its markers land (a markerless
  * base: never reader-visible, sources still live), and (B) after the
  * markers land but before the sources retire (a benign manifest
  * superset: every row visible twice). Round16Spec pins the same states
  * STATICALLY by hand-crafting directories; this drives the engine into
  * them for real — fence held at death, staging shell on disk — and
  * proves a FRESH driver's next maintenance pass converges to a no-kill
  * control with every piece of debris (orphan base, retired sources,
  * staging, the dead holder's fence) reclaimed.
  *
  * Mechanics: the `bandcompact` [[DriverVictim]] mode runs one
  * compaction under a failpoint sleep (`spark.graft.band.failpoint.*`)
  * that widens the chosen window to seconds, so the parent's 20 ms
  * filesystem poll lands the SIGKILL deterministically inside it.
  */
class Round17ChaosSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.BandStore

  private def readLog(f: java.io.File): String =
    try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    catch { case _: Throwable => "<no log>" }

  private def digest(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def killVictim(logFile: java.io.File, args: Seq[String])
                        (trigger: () => Boolean): Boolean = {
    val cmd = Sessions.childJvm("graft.DriverVictim", args: _*)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(logFile).start()
    val deadline = System.currentTimeMillis() + 180000L
    var fired = false
    while (!fired && proc.isAlive && System.currentTimeMillis() < deadline) {
      if (trigger()) { proc.destroyForcibly(); fired = true }
      else Thread.sleep(20)
    }
    proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
    val log = readLog(logFile)
    fired && log.contains("VICTIM-START") && !log.contains("VICTIM-DONE")
  }

  // ---- store fixture -------------------------------------------------

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

  private def admittedIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet

  // budget high enough that one call folds BOTH trees (the default 2 s
  // budget stops after the first tree at this fixture scale — content
  // comparison is fold-invariant, but a single-call full fold keeps the
  // debris assertions exact)
  private val compactConfs = Seq(
    BandStore.CompactAfterBatchesConf -> "4",
    BandStore.RetireGraceConf -> "0",
    BandStore.CompactSliceBudgetConf -> "600")

  private val shortLeases = Seq(
    "graft.store.fence.restartMs" -> "1500",
    "graft.store.fence.staleMs" -> "3000")

  /** Run one kill-point scenario end to end; `failpoint` is the conf
    * suffix widening the window, `trigger` the on-disk predicate the
    * SIGKILL fires on.
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
    assert(admittedIds(s"$work/post-admitted") ==
           admittedIds(s"$work/post-admitted-ctrl"),
      s"$name: post-recovery admission diverged from the control")
    assert(admittedIds(s"$work/post-admitted") == Set(601L, 602L),
      s"$name: the store-dup must be vetoed and the fresh docs admitted")
  }

  test("driver-kill (g): SIGKILL between a slice's publish rename and its marker adds; a fresh driver reaps the orphan base and converges to the no-kill control") {
    runScenario("publish", "afterPublishMs", unmarkedBase)
  }

  test("driver-kill (g): SIGKILL between a slice's marker adds and its source retirement; the superset folds away and converges to the no-kill control") {
    runScenario("markers", "afterMarkersMs", markedUnretired)
  }
}
