package graft

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.StoreDirs
import Fixtures.{admittedIds, digest, docSchema, dupDocLine, generations, writeTopic}

/** Executor-loss fault injection (VERDICT r13 next-round #1): crossing a
  * JVM boundary was proven in round 13; SURVIVING the loss of one is the
  * actual cluster-resilience claim behind every 100 TB statement, and no
  * run had ever exercised it. This main boots its own
  * `local-cluster[3,4,1536]` (three REAL executor JVMs, children of this
  * process), then:
  *
  *   (a) kills one executor JVM (`destroyForcibly` — a hard SIGKILL,
  *       indistinguishable from a node crash) MID-FLIGHT through a heavy
  *       oracle query. Task retry + shuffle refetch must reproduce the
  *       EXACT baseline digest, and the listener bus must carry the
  *       executor-removed event (the kill verifiably happened).
  *   (b) kills one executor MID-WRITE through a LabelStore incremental
  *       maintenance call. The generation protocol must either complete
  *       (task retry absorbed the loss) or lose LOUDLY (a lost
  *       localCheckpoint block / aborted job surfaces as an exception —
  *       never a torn generation): afterwards the store must hold unique
  *       generation numbers, a bounded retry must converge, and the
  *       final labels must hash-equal a from-scratch build of the same
  *       corpus — the executor-death sibling of round 13's two-driver
  *       fence race.
  *   (c) the same discipline for the OTHER maintenance protocol: kills
  *       one executor mid-way through an IvfStore incremental append.
  *       Unique generations, bounded retry convergence, and the
  *       surviving index bit-equal (live set AND probe results) to a
  *       no-kill control that ran the identical build→append sequence.
  *   (e) the DOUBLE kill: destroys two of the three executors at once
  *       mid-LabelStore-maintenance. With `localCheckpoint` replication
  *       at 1, losing two JVMs makes pinned-block loss likely — the
  *       LOUD class ((b)'s accepted-but-never-observed branch:
  *       exception, store unchanged, never torn). Whichever class
  *       lands, the pins are identical: unique generations, bounded
  *       retry convergence, final labels hash-equal a from-scratch
  *       build. The observed class is recorded in the outcome line.
  *   (f) the AIMED double kill: six attempts, attempt i double-killing
  *       right after the i-th maintenance job completes — scanning the
  *       job boundaries where eager-localCheckpoint blocks exist but
  *       their consumers have not run, the loud class's natural
  *       window. The invariants must hold at every landed position;
  *       the per-class tally is recorded (`aimed_loud`/`aimed_ok`).
  *   (d) the T11 PRODUCTION LOOP under executor death: kills one
  *       executor mid-way through a `dedupAdmitDrain` of a multi-batch
  *       AvailableNow stream (`maxFilesPerTrigger=1` forces one
  *       micro-batch per file, so the kill lands between committed
  *       batches with more still to come). The drain either absorbs the
  *       loss (task retry inside `foreachBatch`) or terminates loudly
  *       (StreamingQueryException) — and a RE-DRAIN from the same
  *       checkpoint must converge: exactly-once replay over the
  *       idempotent per-batch store overwrite means the final admitted
  *       set equals a no-kill control's on identical input, byte for
  *       byte, whichever class occurred.
  *
  * Run as a subprocess by ChaosSpec (its own cluster must not collide
  * with the suite's shared session). Writes one JSON line to args(1) and
  * exits 0 on success; any assertion failure exits nonzero with the
  * message on stdout (captured to the spec's log file).
  *
  * A kill that lands after the victim phase already finished proves
  * nothing — each phase verifies the work was still in flight when the
  * kill landed and retries the whole phase (fresh store) up to 3 times
  * otherwise, failing loudly if it can never land one. Each store a
  * phase maintains starts as a copy of one base store built per corpus
  * ([[graft.operators.StoreDirs.copyStore]]), and the from-scratch
  * label digest of the appended corpus is computed once.
  */
object ChaosMain {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def executorJvms(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    val all = ProcessHandle.current().descendants().iterator().asScala.toSeq
    // the executor command line carries the full test classpath — far
    // past what /proc-backed ProcessHandle.Info reliably returns — so
    // the class-name match is a preference, not the gate: in THIS
    // process tree the Master and Workers are in-process threads
    // (LocalSparkCluster), making every java child an executor JVM
    val named = all.filter(p => p.info().commandLine()
      .map(c => c.contains("CoarseGrainedExecutorBackend")).orElse(false))
    if (named.nonEmpty) named
    else all.filter(p => p.info().command().map(_.endsWith("java")).orElse(false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val spark = Sessions.start(Sessions.recipe(
      Sessions.withExactMaster(SparkSession.builder(), "local-cluster[3,4,1536]")
        .appName("graft-chaos")
        .config("spark.executor.memory", "1g"), 12), "WARN")

    val removed = new AtomicInteger
    val tasksStarted = new AtomicInteger
    val jobsEnded = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        tasksStarted.incrementAndGet()
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobsEnded.incrementAndGet()
    })

    // cluster warm-up: a job wide enough that all three executors must
    // register before any phase is timed or killed
    spark.range(0, 48, 1, 48).count()

    def require(cond: Boolean, msg: => String): Unit =
      if (!cond) { println(s"CHAOS FAIL: $msg"); spark.stop(); sys.exit(1) }

    /** Never torn: a store's generation numbers are unique whatever a
      * kill left behind.
      */
    def requireUniqueGens(store: String, what: String): Unit = {
      val gens = generations(store)
      require(gens.distinct.size == gens.size, s"duplicate $what: $gens")
    }

    /** A bounded retry (3 attempts, 1 s apart) from whatever state a kill
      * left; the third attempt's failure propagates. Returns the last
      * attempt's result.
      */
    def retried(attempt: => String): String = {
      var r = ""
      var n = 0
      while (r == "" && n < 3) {
        n += 1
        try r = attempt
        catch { case _: Exception if n < 3 => Thread.sleep(1000) }
      }
      r
    }

    /** After a landed kill of `victims` executors, the listener bus must
      * carry as many executor-removed events: the kill is observed, not
      * inferred.
      */
    def awaitRemoved(before: Int, victims: Int, msg: String): Unit = {
      val evDeadline = System.currentTimeMillis() + 30000L
      while (removed.get() < before + victims &&
             System.currentTimeMillis() < evDeadline) Thread.sleep(50)
      require(removed.get() >= before + victims, msg)
    }

    /** The listener bus is ASYNCHRONOUS: events from the setup jobs
      * that ran before a phase (store builds, baseline digests) can
      * still be draining when the phase resets its counters — stale
      * increments would satisfy minTasks/minJobs instantly and fire the
      * kill before the victim work has any tasks in flight (round-14
      * self-review). Quiesce: wait until both counters have been stable
      * for 500 ms (the setup jobs are DONE on the main thread — only
      * their event backlog is in question) before resetting.
      */
    def quiesceCounters(): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      var last = (tasksStarted.get(), jobsEnded.get())
      var stableSince = System.currentTimeMillis()
      while (System.currentTimeMillis() - stableSince < 500 &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        val now = (tasksStarted.get(), jobsEnded.get())
        if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      }
    }

    /** Run `work` in a future, kill `victims` executors once `minTasks`
      * of its tasks have started and it is still in flight; returns
      * (result, killLandedMidFlight, firstKilledPid).
      */
    def killDuring[A](minTasks: Int, victims: Int = 1)(work: => A): (A, Boolean, Long) = {
      quiesceCounters()
      tasksStarted.set(0)
      val fut = Future(work)
      val deadline = System.currentTimeMillis() + 120000L
      while (tasksStarted.get() < minTasks && !fut.isCompleted &&
             System.currentTimeMillis() < deadline) Thread.sleep(5)
      var pid = -1L
      var landed = false
      if (!fut.isCompleted) {
        val vs = executorJvms().take(victims)
        vs.foreach(_.destroyForcibly()) // SIGKILL, returns immediately
        if (vs.nonEmpty) {
          pid = vs.head.pid()
          // "landed" = the signals went out while the work was STILL in
          // flight — checked before the blocking exit-wait, which could
          // otherwise outlast the victim phase and mask a too-late kill
          landed = !fut.isCompleted
          vs.foreach(_.onExit().get(30, TimeUnit.SECONDS))
        }
      }
      (Await.result(fut, 10.minutes), landed, pid)
    }

    /** [[killDuring]] aimed at a JOB BOUNDARY instead of a task count:
      * wait until `minJobs` of the work's jobs have COMPLETED, then kill
      * `victims` executors. An eager `localCheckpoint` materializes as
      * its own job, so a kill placed just after job k lands where
      * truncated-lineage blocks may already exist but their consumers
      * have not run — the aim most likely to force the loud
      * (non-recomputable) loss class.
      */
    def killAfterJobs[A](minJobs: Int, victims: Int)(work: => A): (A, Boolean, Long) = {
      quiesceCounters()
      jobsEnded.set(0)
      val fut = Future(work)
      val deadline = System.currentTimeMillis() + 120000L
      while (jobsEnded.get() < minJobs && !fut.isCompleted &&
             System.currentTimeMillis() < deadline) Thread.sleep(2)
      var pid = -1L
      var landed = false
      if (!fut.isCompleted) {
        val vs = executorJvms().take(victims)
        vs.foreach(_.destroyForcibly())
        if (vs.nonEmpty) {
          pid = vs.head.pid()
          landed = !fut.isCompleted
          vs.foreach(_.onExit().get(30, TimeUnit.SECONDS))
        }
      }
      (Await.result(fut, 10.minutes), landed, pid)
    }

    // ---------------------------------------------------------------
    // (a) heavy oracle query: exact digest across an executor loss.
    // q9 is the suite's heaviest pure-dataflow TPC-H plan (no
    // localCheckpoint — a lost pinned block is NON-recomputable by
    // design and belongs to phase (b)'s loud-loss class). At sf0.1 it
    // finishes too fast for a kill to reliably land inside (a
    // self-union would NOT stretch it — ReuseExchange collapses
    // identical branches), so the chaos data dir carries lineitem
    // inflated ×8 (rows duplicated — join fan-out and aggregates scale
    // deterministically, the digest stays exact) with the other tables
    // symlinked; one execution then spans many seconds of multi-stage
    // shuffle work.
    // ---------------------------------------------------------------
    val work = java.nio.file.Files.createTempDirectory("graft-chaos").toString
    val chaosData = s"$work/data"
    new java.io.File(chaosData).mkdirs()
    new java.io.File(sfDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .filter(_.getName != "lineitem.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(chaosData, f.getName), f.toPath))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    (1 to 8).map(_ => li).reduce(_ unionByName _).repartition(24)
      .write.mode("overwrite").parquet(s"$chaosData/lineitem.parquet")
    val q = () => graft.operators.Analytics.q9ProfitShape(spark, chaosData)
    val baseDigest = digest(q())
    var queryLanded = false
    var queryPid = -1L
    var queryDigest = ""
    var attempts = 0
    while (!queryLanded && attempts < 3) {
      attempts += 1
      val removedBefore = removed.get()
      val (d, landed, pid) = killDuring(4)(digest(q()))
      queryDigest = d
      queryLanded = landed
      queryPid = pid
      // the kill must be VISIBLE on the listener bus, not inferred
      if (landed) awaitRemoved(removedBefore, 1,
        "killed an executor but no SparkListenerExecutorRemoved arrived")
    }
    require(queryLanded, s"could not land a mid-query kill in $attempts attempts")
    require(queryDigest == baseDigest,
      s"post-kill query digest diverged: $queryDigest vs $baseDigest")

    // ---------------------------------------------------------------
    // (b) store maintenance: kill mid-write, never a torn generation
    // ---------------------------------------------------------------
    import graft.operators.LabelStore
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus0 = s"$work/corpus0"
    val corpus1 = s"$work/corpus1"
    docs.filter(col("doc_id") % 10 =!= 7).repartition(12)
      .write.mode("overwrite").parquet(s"$corpus0/documents.parquet")
    docs.repartition(12)
      .write.mode("overwrite").parquet(s"$corpus1/documents.parquet")
    // one base store on corpus0 that every label attempt starts from, and
    // the from-scratch labels of corpus1 every surviving store must equal
    val labelBase = s"$work/store-base"
    LabelStore.build(spark, corpus0, labelBase)
    val labelFresh = s"$work/store-fresh"
    LabelStore.build(spark, corpus1, labelFresh)
    val scratch = digest(LabelStore.read(spark, labelFresh))
    def labelCopy(store: String): Unit = StoreDirs.copyStore(spark, labelBase, store)

    var storeLanded = false
    var storeOutcome = ""
    var storePid = -1L
    var store = ""
    attempts = 0
    while (!storeLanded && attempts < 3) {
      attempts += 1
      store = s"$work/store-$attempts"
      labelCopy(store)
      val removedBefore = removed.get()
      val (out, landed, pid) = killDuring(4) {
        try Right(LabelStore.ensureCurrentIncremental(spark, corpus1, store))
        catch { case e: Exception => Left(e.toString.take(400)) }
      }
      storeLanded = landed
      storePid = pid
      storeOutcome = out.fold(m => s"loud:$m", m => s"ok:$m")
      if (landed) awaitRemoved(removedBefore, 1,
        "killed an executor mid-maintenance but no executor-removed event arrived")
    }
    require(storeLanded, s"could not land a mid-maintenance kill in $attempts attempts")
    require(storeOutcome.startsWith("ok:") || storeOutcome.startsWith("loud:"),
      s"unclassified maintenance outcome: $storeOutcome")

    requireUniqueGens(store, "generations after kill")

    // a bounded retry converges from whatever state the kill left
    val storeRetry = retried(LabelStore.ensureCurrentIncremental(spark, corpus1, store))
    require(Set("noop", "incremental", "full").contains(storeRetry),
      s"retry after kill did not converge: '$storeRetry'")

    // and the surviving store hash-equals a from-scratch build
    val survived = digest(LabelStore.read(spark, store))
    require(survived == scratch,
      s"post-kill store labels diverged from from-scratch: $survived vs $scratch")

    // ---------------------------------------------------------------
    // (e) the DOUBLE kill: two of three executors destroyed at once
    // mid-LabelStore-maintenance — the harshest loss short of losing
    // the driver, and the likeliest route to the LOUD class (a pinned
    // localCheckpoint block with replication 1 dies with its JVM and is
    // non-recomputable by design). Both classes legal; identical pins.
    // ---------------------------------------------------------------
    var dblLanded = false
    var dblOutcome = ""
    var dblPid = -1L
    var dblStore = ""
    attempts = 0
    while (!dblLanded && attempts < 3) {
      attempts += 1
      dblStore = s"$work/store-dbl-$attempts"
      labelCopy(dblStore)
      val removedBefore = removed.get()
      val (out, landed, pid) = killDuring(4, victims = 2) {
        try Right(LabelStore.ensureCurrentIncremental(spark, corpus1, dblStore))
        catch { case e: Exception => Left(e.toString.take(400)) }
      }
      dblLanded = landed
      dblPid = pid
      dblOutcome = out.fold(m => s"loud:$m", m => s"ok:$m")
      if (landed) awaitRemoved(removedBefore, 2,
        "double-killed executors but fewer than 2 executor-removed events arrived")
    }
    require(dblLanded, s"could not land a double kill in $attempts attempts")

    requireUniqueGens(dblStore, "generations after double kill")

    val dblRetried = retried(LabelStore.ensureCurrentIncremental(spark, corpus1, dblStore))
    require(Set("noop", "incremental", "full").contains(dblRetried),
      s"retry after double kill did not converge: '$dblRetried'")

    require(digest(LabelStore.read(spark, dblStore)) == scratch,
      "post-double-kill store labels diverged from from-scratch")

    // ---------------------------------------------------------------
    // (f) the AIMED double kill: scan the maintenance job sequence for
    // the loud-loss window. Attempt i kills two executors right after
    // the i-th job of ensureCurrentIncremental completes — the
    // positions where an eager localCheckpoint's truncated-lineage
    // blocks exist but their consuming jobs have not run. Six
    // positions scanned; EVERY outcome must satisfy the invariants
    // (never torn, retry converges, hash-equal from-scratch); whether
    // the loud class was actually observed is recorded, not required —
    // Spark may absorb even these (e.g. blocks replicated to the
    // survivor or recomputed before truncation commits).
    // ---------------------------------------------------------------
    var aimedLoud = 0
    var aimedOk = 0
    var aimedLanded = 0
    (1 to 6).foreach { pos =>
      val aStore = s"$work/store-aim-$pos"
      labelCopy(aStore)
      val (out, landed, _) = killAfterJobs(pos, victims = 2) {
        try Right(LabelStore.ensureCurrentIncremental(spark, corpus1, aStore))
        catch { case e: Exception => Left(e.toString.take(200)) }
      }
      if (landed) {
        aimedLanded += 1
        out.fold(_ => aimedLoud += 1, _ => aimedOk += 1)
        // invariants hold at EVERY aim position, whatever the class
        requireUniqueGens(aStore, s"generations after aimed kill at job $pos")
        val r = retried(LabelStore.ensureCurrentIncremental(spark, corpus1, aStore))
        require(Set("noop", "incremental", "full").contains(r),
          s"retry after aimed kill at job $pos did not converge: '$r'")
        require(digest(LabelStore.read(spark, aStore)) == scratch,
          s"aimed kill at job $pos: store diverged from from-scratch")
      }
    }
    require(aimedLanded >= 3,
      s"only $aimedLanded of 6 aimed kills landed mid-flight — scan inconclusive")

    // ---------------------------------------------------------------
    // (c) the vector store, same discipline: kill mid-way through an
    // IvfStore incremental append (VERDICT r13 #1 named BOTH store
    // maintenance paths; (b) covered LabelStore). Equality target: a
    // NO-KILL CONTROL store that ran the identical build→append
    // sequence — a from-scratch rebuild would train fresh centroids and
    // legitimately differ, but the incremental path is deterministic
    // given (base subset, delta), so the survivor must match the
    // control bit-for-bit, in what it serves (liveVectors) and in what
    // a probe returns.
    // ---------------------------------------------------------------
    import graft.operators.IvfStore
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVecs = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    // ×8 inflation (the lineitem trick): distinct ids, same vectors —
    // at sf0.1's native 2k vectors the append finishes before a kill
    // can land; 16k gives the delta-classify + assign + publish chain
    // several seconds of multi-stage work
    val embBig = (0 until 8).map(i =>
        emb.select((col("vec_id") + lit(i * nVecs)).as("vec_id"),
          col("embedding"), col("label")))
      .reduce(_ unionByName _).repartition(24)
    val corpusV0 = s"$work/vcorpus0"
    val corpusV1 = s"$work/vcorpus1"
    embBig.filter(col("vec_id") % 10 =!= 7)
      .write.mode("overwrite").parquet(s"$corpusV0/embeddings.parquet")
    embBig.write.mode("overwrite").parquet(s"$corpusV1/embeddings.parquet")

    // one base IVF store on vcorpus0: the control and every attempt copy it
    val vBase = s"$work/vstore-base"
    IvfStore.build(spark, corpusV0, vBase)
    val vControl = s"$work/vstore-control"
    StoreDirs.copyStore(spark, vBase, vControl)
    val ctrlMode = IvfStore.ensureCurrentIncremental(spark, corpusV1, vControl)
    require(ctrlMode == "incremental",
      s"control IVF maintenance did not take the append path: '$ctrlMode'")

    var ivfLanded = false
    var ivfOutcome = ""
    var ivfPid = -1L
    var vstore = ""
    attempts = 0
    while (!ivfLanded && attempts < 3) {
      attempts += 1
      vstore = s"$work/vstore-$attempts"
      StoreDirs.copyStore(spark, vBase, vstore)
      val removedBefore = removed.get()
      val (out, landed, pid) = killDuring(4) {
        try Right(IvfStore.ensureCurrentIncremental(spark, corpusV1, vstore))
        catch { case e: Exception => Left(e.toString.take(400)) }
      }
      ivfLanded = landed
      ivfPid = pid
      ivfOutcome = out.fold(m => s"loud:$m", m => s"ok:$m")
      if (landed) awaitRemoved(removedBefore, 1,
        "killed an executor mid-IVF-maintenance but no executor-removed event arrived")
    }
    require(ivfLanded, s"could not land a mid-IVF-maintenance kill in $attempts attempts")

    requireUniqueGens(vstore, "IVF generations after kill")

    val ivfRetried = retried(IvfStore.ensureCurrentIncremental(spark, corpusV1, vstore))
    require(Set("noop", "incremental").contains(ivfRetried),
      s"IVF retry after kill did not converge on the append path: '$ivfRetried'")

    val liveCols = Seq("vec_id", "e", "norm", "c_id").map(col)
    val vSurvived = digest(IvfStore.liveVectors(spark, vstore).select(liveCols: _*))
    val vCtrl = digest(IvfStore.liveVectors(spark, vControl).select(liveCols: _*))
    require(vSurvived == vCtrl,
      s"post-kill IVF live set diverged from the no-kill control: $vSurvived vs $vCtrl")
    val vProbe = digest(IvfStore.probe(spark, corpusV1, vstore))
    val vProbeCtrl = digest(IvfStore.probe(spark, corpusV1, vControl))
    require(vProbe == vProbeCtrl,
      s"post-kill IVF probe diverged from the no-kill control: $vProbe vs $vProbeCtrl")

    // ---------------------------------------------------------------
    // (d) the streaming admission loop: kill mid-drain, re-drain from
    // the same checkpoint, admitted set equals the no-kill control
    // ---------------------------------------------------------------
    import graft.streaming.Streams
    def drainSrc(topic: String) = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").json(topic)

    val ctrlTopic = s"$work/drain-ctrl-topic"
    writeTopic(ctrlTopic, 500)(dupDocLine)
    Streams.dedupAdmitDrain(drainSrc(ctrlTopic), s"$work/drain-ctrl-store",
      s"$work/drain-ctrl-admitted", s"$work/drain-ctrl-ckpt")
    val ctrlAdmitted = admittedIds(spark, s"$work/drain-ctrl-admitted")
    require(ctrlAdmitted.nonEmpty, "control drain admitted nothing")

    var drainLanded = false
    var drainOutcome = ""
    var drainPid = -1L
    var drainRoot = ""
    attempts = 0
    while (!drainLanded && attempts < 3) {
      attempts += 1
      drainRoot = s"$work/drain-$attempts"
      val topic = s"$drainRoot/topic"
      writeTopic(topic, 500)(dupDocLine)
      val removedBefore = removed.get()
      val (out, landed, pid) = killDuring(4) {
        try Right(Streams.dedupAdmitDrain(drainSrc(topic), s"$drainRoot/store",
          s"$drainRoot/admitted", s"$drainRoot/ckpt"))
        catch { case e: Exception => Left(e.toString.take(400)) }
      }
      drainLanded = landed
      drainPid = pid
      drainOutcome = out.fold(m => s"loud:$m", _ => "ok")
      if (landed) awaitRemoved(removedBefore, 1,
        "killed an executor mid-drain but no executor-removed event arrived")
    }
    require(drainLanded, s"could not land a mid-drain kill in $attempts attempts")

    // converge: a re-drain from the SAME checkpoint replays at most the
    // uncommitted batch into the idempotent per-batch overwrite; after
    // it, the admitted set must equal the control's exactly
    val drainConverged = retried {
      Streams.dedupAdmitDrain(drainSrc(s"$drainRoot/topic"), s"$drainRoot/store",
        s"$drainRoot/admitted", s"$drainRoot/ckpt")
      "drained"
    }
    require(drainConverged.nonEmpty, "re-drain after kill did not converge in 3 attempts")
    val chaosAdmitted = admittedIds(spark, s"$drainRoot/admitted")
    require(chaosAdmitted == ctrlAdmitted,
      s"post-kill admitted set diverged from the no-kill control: " +
        s"${(chaosAdmitted -- ctrlAdmitted).take(5)} extra, " +
        s"${(ctrlAdmitted -- chaosAdmitted).take(5)} missing")

    val line =
      s"""{"query_kill_pid":$queryPid,"query_digest_equal":true,""" +
      s""""store_kill_pid":$storePid,"store_outcome":"${storeOutcome.replace("\"", "'")}",""" +
      s""""store_retry":"$storeRetry","store_equal":true,""" +
      s""""ivf_kill_pid":$ivfPid,"ivf_outcome":"${ivfOutcome.replace("\"", "'")}",""" +
      s""""ivf_retry":"$ivfRetried","ivf_equal":true,""" +
      s""""drain_kill_pid":$drainPid,"drain_outcome":"${drainOutcome.replace("\"", "'")}",""" +
      s""""drain_equal":true,""" +
      s""""dbl_kill_pid":$dblPid,"dbl_outcome":"${dblOutcome.replace("\"", "'")}",""" +
      s""""dbl_retry":"$dblRetried","dbl_equal":true,""" +
      s""""aimed_landed":$aimedLanded,"aimed_loud":$aimedLoud,"aimed_ok":$aimedOk,""" +
      s""""executor_removed_events":${removed.get()}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line)
    println(line)
    spark.stop()
  }
}
