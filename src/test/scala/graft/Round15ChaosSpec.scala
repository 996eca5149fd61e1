package graft

import org.apache.spark.sql.functions._

/** Round-15 DRIVER-kill chaos (VERDICT r14 #2 / What's-missing #2).
  * Round 14 proved the stores survive EXECUTOR loss (11 SIGKILLs across
  * six phases); the remaining cluster failure mode is the DRIVER dying
  * mid-maintenance — holding a generation fence, mid-staging-write,
  * mid-drain — and a FRESH driver recovering the store: reclaim the
  * stale fence after its lease, complete-or-rebuild, hash-equal
  * from-scratch, no torn generation, checkpoint re-drain equal to a
  * no-kill control.
  *
  * Mechanics: [[DriverVictim]] runs one maintenance entry in its own
  * JVM; this suite SIGKILLs it the moment a write is observably in
  * flight (a `_temporary` commit tree under the store for the
  * maintenance lanes, ≥2 committed micro-batches for the drain), then
  * recovers in THIS JVM — a genuinely different driver process, so the
  * fence sees a foreign stale holder and the whole lease/reclaim path
  * runs for real.
  */
class Round15ChaosSpec extends SparkSpec {
  import spark.implicits._

  private val chaosSf = "/root/testdata/sf0.01"

  private def readLog(f: java.io.File): String =
    try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    catch { case _: Throwable => "<no log>" }

  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Spawn [[DriverVictim]] with `args`, SIGKILL it the first moment
    * `trigger()` turns true, and return whether the kill verifiably
    * landed IN FLIGHT: the victim had started its maintenance call
    * (VICTIM-START printed) but not finished it (no VICTIM-DONE). A
    * victim that exits before the trigger fires returns false — the
    * caller retries with a fresh store.
    */
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

  /** Any in-flight Spark write under `root` — the `_temporary` commit
    * tree exists exactly while a write job runs, so a SIGKILL on this
    * trigger lands mid-physical-write, the hardest crash point.
    */
  private def writeInFlight(root: java.io.File): Boolean = {
    val kids = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
    kids.exists(f => f.getName == "_temporary" ||
      (f.isDirectory && writeInFlight(f)))
  }

  /** The dead driver is a FOREIGN stale fence holder to this JVM —
    * shrink the leases so recovery reclaims in seconds, as a production
    * operator would size them to the maintenance cadence.
    */
  private val shortLeases = Seq(
    "graft.store.fence.restartMs" -> "1500",
    "graft.store.fence.staleMs" -> "3000")

  private def uniqueGens(store: String): Unit = {
    val gens = Option(new java.io.File(store).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("gen=")).toSeq
      .map(_.stripPrefix("gen=").takeWhile(_ != '_').toLong)
    assert(gens.distinct.size == gens.size,
      s"torn store — duplicate generations after driver kill: $gens")
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
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("r15-dkill-drain")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docLine(id: Long): String = {
      // every 5th doc duplicates an earlier one's text, so the kill
      // lands on real veto work, not pass-through admission
      val base = if (id % 5 == 4) id - 4 else id
      val words = (0 until 25).map(j => s"w${base}_$j").mkString(" ")
      s"""{"doc_id":$id,"text":"$words"}"""
    }
    def writeTopic(dir: String): Unit = {
      new java.io.File(dir).mkdirs()
      (0 until 6).foreach { f =>
        val ids = (f * 300L) until (f * 300L + 300L)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/b$f.json"),
          ids.map(docLine).mkString("\n"))
      }
    }
    def drainSrc(topic: String) = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").json(topic)
    def admittedSet(dir: String): Set[Long] =
      spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet

    val ctrlTopic = s"$work/ctrl-topic"
    writeTopic(ctrlTopic)
    Streams.dedupAdmitDrain(drainSrc(ctrlTopic), s"$work/ctrl-store",
      s"$work/ctrl-admitted", s"$work/ctrl-ckpt")
    val ctrlAdmitted = admittedSet(s"$work/ctrl-admitted")
    assert(ctrlAdmitted.nonEmpty, "control drain admitted nothing")

    var landed = false
    var root = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      root = s"$work/drain-$attempts"
      val topic = s"$root/topic"
      writeTopic(topic)
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
    assert(admittedSet(s"$root/admitted") == ctrlAdmitted,
      "post-driver-kill admitted set diverged from the no-kill control")
  }

  test("driver-kill (g): SIGKILL mid-DateStore-ingest; a fresh driver re-drains to the control and the union corpus is a provable noop") {
    import graft.sources.DateStore
    import org.apache.spark.sql.types._
    val work = tmpDir("r16-dkill-date")
    // the events-table schema DateStore's row digest is wired to
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // dates repeat across micro-batches, so nearly every batch RESTATES
    // late days (old-rows ∪ batch-rows with the XOR'd fingerprint) — the
    // kill must be able to land mid-restate, the hardest crash point
    def line(id: Long): String =
      s"""{"event_id":$id,"ts":"2024-03-0${(id % 7) + 1} 0${id % 10}:00:00","user_id":${id % 50},"event_type":"e${id % 5}","value":${id % 97}.5,"props":"p$id"}"""
    def writeTopic(dir: String): Unit = {
      new java.io.File(dir).mkdirs()
      (0 until 6).foreach { f =>
        val ids = (f * 400L) until (f * 400L + 400L)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/b$f.json"),
          ids.map(line).mkString("\n"))
      }
    }
    def drainSrc(topic: String) = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").json(topic)
    def drain(topic: String, store: String, ckpt: String): Unit =
      DateStore.ingestSink(drainSrc(topic), store, ckpt).awaitTermination(120000)

    val ctrlTopic = s"$work/ctrl-topic"
    writeTopic(ctrlTopic)
    drain(ctrlTopic, s"$work/ctrl-store", s"$work/ctrl-ckpt")
    val ctrl = digest(DateStore.readEvents(spark, s"$work/ctrl-store"))

    var landed = false
    var root = ""
    var attempts = 0
    while (!landed && attempts < 3) {
      attempts += 1
      root = s"$work/date-$attempts"
      val topic = s"$root/topic"
      writeTopic(topic)
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
    val union = spark.read.schema(evSchema).json(s"$root/topic")
    assert(DateStore.ensureIncrementalEvents(union, s"$root/store") == "noop",
      "union corpus must be a provable noop over the crash-recovered store")
  }
}
