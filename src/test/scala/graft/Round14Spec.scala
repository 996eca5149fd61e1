package graft

import org.apache.spark.sql.functions._

/** Round-14 pins: executor-loss fault injection (VERDICT r13 #1), the
  * gauge-driven auto-compaction loop (#2), the racing-first-writer
  * geometry convergence (ADVICE r13 medium), and the lifecycleGates
  * drift guard (ADVICE r13 low).
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // ADVICE r13 (low): lifecycleGates is a hand-maintained list — a
  // renamed query key must fail loudly, not silently skew the bench's
  // total_queries/total_gates subtotals.
  // ---------------------------------------------------------------

  test("SparkEntry.lifecycleGates names only live query keys") {
    val drifted = SparkEntry.lifecycleGates.diff(SparkEntry.queries.keySet)
    assert(drifted.isEmpty, s"lifecycleGates drifted: ${drifted.toSeq.sorted}")
  }

  // ---------------------------------------------------------------
  // ADVICE r13 (medium): racing FIRST writers on one upsert store must
  // converge on ONE bucket count. A fresh different-value geometry
  // record is presumed a live racer's stamp and ADOPTED (this test); a
  // stale one is dead-store debris and force-replaced (the r13 recreate
  // pin, updated to age its record).
  // ---------------------------------------------------------------

  test("upsert-store geometry: a FRESH foreign record is adopted (racing first writers converge), and the layout matches it") {
    import graft.sources.Sinks
    val root = tmpDir("r14-ugeo-race")
    val store = s"$root/store"
    // simulate racer A: it stamped upsertBuckets=4 milliseconds ago and
    // has not written its data yet
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, ".store.geometry"), "upsertBuckets=4")
    // racer B arrives with conf 16: it must ADOPT 4, not force 16 —
    // bucketing its data by anything but the surviving record is the
    // silent mis-prune ADVICE r13 flagged
    withConf(Sinks.UpsertBucketsConf -> "16") {
      Sinks.upsertByKey(
        (0L until 64L).map(i => (i, i, s"v$i")).toDF("off", "id", "v"),
        "id", "off", store)
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, ".store.geometry")) == "upsertBuckets=4",
      "a fresh record is a live racer's — adopt, never replace")
    val buckets = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).map(_.getName).toSeq
    assert(buckets.nonEmpty && buckets.size <= 4,
      s"the data layout must follow the adopted 4-bucket record: $buckets")
    // and the adopted geometry serves merges correctly: an upsert of an
    // existing key must replace, not duplicate
    withConf(Sinks.UpsertBucketsConf -> "16") {
      Sinks.upsertByKey(Seq((100L, 3L, "new")).toDF("off", "id", "v"), "id", "off", store)
    }
    val rows = spark.read.parquet(store).filter(col("id") === 3L).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("v") == "new",
      s"merge under adopted geometry must upsert exactly: ${rows.toSeq}")
  }

  // ---------------------------------------------------------------
  // VERDICT r13 #2: the admission lane self-maintains — the gauge fires
  // past the batch threshold, the drain's quiesce point runs the full
  // compact automatically, the store folds to base generations, and
  // admission semantics (store veto incl. pre-compact history) survive.
  // ---------------------------------------------------------------

  test("T11 auto-compaction: dedupAdmitDrain compacts when the gauge fires; admitted set equals the never-compacted twin; pre-compact vetoes survive") {
    import org.apache.spark.sql.types._
    import graft.streaming.{BandStore, Streams}
    val root = tmpDir("r14-autocompact")
    val topic = s"$root/topic"
    new java.io.File(topic).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def src() = spark.readStream.schema(docSchema).json(topic)
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def text(tag: String, i: Int) =
      (0 until 25).map(j => s"${tag}_w${i}_$j").mkString(" ")

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
      def admitted(dir: String): Set[Long] =
        spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet
      // the dup structure actually bit: the cross-batch copies dropped
      val dupIds = (3 until 6).map(b => b * 2L + 1).toSet
      assert(dupIds.intersect(admitted(s"$root/admitted")).isEmpty,
        s"cross-batch duplicates were admitted: ${dupIds.intersect(admitted(s"$root/admitted"))}")
      assert(admitted(s"$root/admitted") == admitted(s"$root/admitted2"),
        "auto-compaction changed the admitted set")

      // pre-compact history still vetoes: an exact copy of batch-0's
      // doc 0 (now folded into the base generation) must drop
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$topic/b6.json"),
        Seq(doc(100L, text("a", 0)), doc(101L, text("b", 101))).mkString("\n"))
      Streams.dedupAdmitDrain(src(), s"$root/store", s"$root/admitted", s"$root/ckpt")
      val ids = admitted(s"$root/admitted")
      assert(!ids.contains(100L), "the folded base generation must still veto")
      assert(ids.contains(101L), "a fresh doc must still admit")
    }
  }

  // ---------------------------------------------------------------
  // VERDICT r13 #1: executor-loss fault injection. ChaosMain boots its
  // own local-cluster[3,4,1536] (three real executor JVMs), SIGKILLs
  // one mid-query and one mid-store-maintenance, and verifies exact
  // digests, loud losses, unique generations, and convergence — the
  // executor-death sibling of round 13's two-driver fence race.
  // ---------------------------------------------------------------

  test("chaos: an executor JVM killed mid-query, mid-LabelStore-write, mid-IvfStore-append, and mid-admission-drain — exact digests, no torn generations, converged stores") {
    val root = tmpDir("r14-chaos")
    val outcome = s"$root/outcome.json"
    val log = new java.io.File(s"$root/chaos.log")
    val cmd = Sessions.childJvm(
      "graft.ChaosMain", "/root/testdata/sf0.1", outcome)
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
    // the standalone Worker threads inside the chaos JVM launch executor
    // JVMs through the spark-launcher command builder, which needs the
    // scala version pinned when SPARK_HOME is a binary dist (the
    // local-cluster recipe) — without it every executor dies at launch
    // with "Cannot find any build directories"
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val proc = pb.start()
    try {
      assert(proc.waitFor(1500, java.util.concurrent.TimeUnit.SECONDS),
        s"chaos run timed out — ${tail(log)}")
      assert(proc.exitValue() == 0, s"chaos run failed — ${tail(log)}")
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

  private def tail(f: java.io.File): String =
    try scala.io.Source.fromFile(f).mkString.takeRight(1200)
    catch { case _: Throwable => "(no log)" }
}
