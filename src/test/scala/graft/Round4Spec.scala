package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{BandStore, Streams}
import Fixtures.{doc, docSchema, dropLatestCommit}

/** Round-4 pins: bucket-pruned band-store probe, greedy within-batch
  * admission, and crash-replay idempotence of the foreachBatch sinks
  * (VERDICT r3 items 1–3).
  */
class Round4Spec extends SparkSpec {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def toksA(sub: Option[(Int, String)] = None): String =
    (1 to 50).map(i => sub.filter(_._1 == i).map(_._2).getOrElse(s"tok$i")).mkString(" ")

  /** Content fingerprint of a parquet directory: sorted row renderings.
    * (File bytes differ across runs via task UUIDs in file names; replay
    * idempotence is a CONTENT claim per partition.)
    */
  private def contentOf(dir: String, cols: String*): Seq[String] = {
    val df = spark.read.parquet(dir)
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
  }

  test("T11 probe reads only the touched __bb buckets of the band store (partition pruning)") {
    val store = tmpDir("bstore")
    val admitted = tmpDir("badmit")
    BandStore.admitBatch(docsDf(1L -> toksA(), 2L -> (1 to 50).map(i => s"w$i").mkString(" ")),
      0L, store, admitted)
    BandStore.admitBatch(docsDf(4L -> (1 to 50).map(i => s"utok$i").mkString(" ")),
      1L, store, admitted)

    val all = spark.read.parquet(BandStore.bandsDir(store))
    val totalParts = all.select(col("__batch"), col("__bb")).distinct().count()
    assert(totalParts > 10, s"fixture store too small to pin pruning (parts=$totalParts)")

    // a probe touching ONE bucket must scan at most one (__batch, __bb)
    // leaf per stored batch — not the whole store
    val oneBucket = all.select(pmod(col("bh"), lit(BandStore.BandBuckets)).cast("int"))
      .head().getInt(0)
    val probe = BandStore.probeScan(spark, store, Seq(oneBucket), 2L)
    val scanned = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.head <= 2,
      s"probe must prune to the touched bucket: scanned=$scanned of $totalParts partitions")
    assert(probe.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      .contains("PartitionFilters: ["), "probe filter must reach the scan as a partition filter")
  }

  test("T11 within-batch veto is greedy min-id admission: a dropped doc cannot veto") {
    // chain A(1) ~ B(2) ~ C(3) with A !~ C: sequential min-id admission
    // admits A, drops B (near A), ADMITS C (its only near peer B was
    // dropped). The old single-pass veto dropped C too.
    val a = toksA()
    val b = toksA(Some(25 -> "zzz"))                       // ~ a (J≈0.88), ~ c
    // c = b plus one more spaced-out change: J(b,c)=45/51≈0.88 ≥ 0.8 but
    // J(a,c)=42/54≈0.78 < 0.8 (changes at 25 and 35 damage disjoint shingles)
    val cTxt = (1 to 50).map(i => if (i == 25) "zzz" else if (i == 35) "yyy" else s"tok$i").mkString(" ")
    // verify the chain shape holds under the operator's own Jaccard:
    // J(a,b) >= 0.8, J(b,cTxt) >= 0.8, J(a,cTxt) < 0.8
    def j(x: String, y: String): Double = {
      def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val (sx, sy) = (sh(x), sh(y))
      sx.intersect(sy).size.toDouble / sx.union(sy).size
    }
    assert(j(a, b) >= 0.8 && j(b, cTxt) >= 0.8 && j(a, cTxt) < 0.8,
      s"fixture chain broken: ${j(a, b)} ${j(b, cTxt)} ${j(a, cTxt)}")

    val store = tmpDir("gstore")
    val admitted = tmpDir("gadmit")
    BandStore.admitBatch(docsDf(1L -> a, 2L -> b, 3L -> cTxt), 0L, store, admitted)
    val got = spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"greedy admission should keep {1, 3}, got $got")
  }

  test("T11 replay idempotence: re-running a batch leaves store and output content-identical") {
    val store = tmpDir("rstore")
    val admitted = tmpDir("radmit")
    val b0 = docsDf(1L -> toksA(), 2L -> (1 to 50).map(i => s"w$i").mkString(" "))
    val b1 = docsDf(3L -> toksA(Some(25 -> "zzz")), 4L -> (1 to 50).map(i => s"utok$i").mkString(" "))
    BandStore.admitBatch(b0, 0L, store, admitted)
    BandStore.admitBatch(b1, 1L, store, admitted)
    val adm1 = contentOf(admitted, "doc_id", "text", "__batch")
    val sig1 = contentOf(BandStore.sigsDir(store), "doc_id", "__batch")
    val bnd1 = contentOf(BandStore.bandsDir(store), "doc_id", "band", "bh", "__batch")

    // crash-replay of batch 1: effects already on disk, commit lost —
    // the recomputation must overwrite its own partitions with the same
    // content (the probe excludes __batch=1, so the decision is
    // unchanged even though batch 1's signatures are already stored)
    BandStore.admitBatch(b1, 1L, store, admitted)
    assert(contentOf(admitted, "doc_id", "text", "__batch") == adm1)
    assert(contentOf(BandStore.sigsDir(store), "doc_id", "__batch") == sig1)
    assert(contentOf(BandStore.bandsDir(store), "doc_id", "band", "bh", "__batch") == bnd1)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L))
  }

  test("T11 degenerate batches: short docs admitted by construction, empty batch is a no-op") {
    val store = tmpDir("estore")
    val admitted = tmpDir("eadmit")
    // batch 0: one signable doc + one 2-token doc (no shingles — must be
    // admitted without touching the dedup machinery)
    BandStore.admitBatch(docsDf(1L -> toksA(), 2L -> "too short"), 0L, store, admitted)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
    // only the signable doc enters the signature store
    assert(spark.read.parquet(BandStore.sigsDir(store)).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // batch 1: empty — no writes, no errors, store untouched
    BandStore.admitBatch(docsDf(), 1L, store, admitted)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
    // batch 2: near-dup of the signable doc still vetoed; a new short
    // doc still sails through
    BandStore.admitBatch(docsDf(3L -> toksA(Some(25 -> "zzz")), 4L -> "also short"),
      2L, store, admitted)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L))
  }

  test("T11 store compaction collapses per-batch partitions, preserves admission and pruning") {
    val store = tmpDir("cstore")
    val admitted = tmpDir("cadmit")
    val docsB0 = docsDf(1L -> toksA(), 2L -> (1 to 50).map(i => s"w$i").mkString(" "))
    val docsB1 = docsDf(4L -> (1 to 50).map(i => s"utok$i").mkString(" "))
    // batch 3 holds a near-dup of a doc admitted in batch 0 — the
    // compacted store must still veto it
    val docsB3 = docsDf(5L -> toksA(Some(25 -> "zzz")), 6L -> (1 to 50).map(i => s"q$i").mkString(" "))
    BandStore.admitBatch(docsB0, 0L, store, admitted)
    BandStore.admitBatch(docsB1, 1L, store, admitted)

    val partsBefore = spark.read.parquet(BandStore.bandsDir(store))
      .select(col("__batch"), col("__bb")).distinct().count()
    BandStore.compactStore(spark, store)
    // force-reap (grace 0, quiesced): the physical layout assertions
    // below check the reaped tree — retirement defers deletion
    BandStore.reapRetired(spark, store, 0L)
    val partsAfter = spark.read.parquet(BandStore.bandsDir(store))
      .select(col("__batch"), col("__bb")).distinct().count()
    assert(partsAfter < partsBefore,
      s"compaction must shrink the partition tree ($partsBefore -> $partsAfter)")
    assert(spark.read.parquet(BandStore.bandsDir(store))
      .select(col("__batch").cast("long")).distinct().collect().map(_.getLong(0)).toSeq
      == Seq(BandStore.BaseBatch))
    // signature content survives compaction intact
    assert(spark.read.parquet(BandStore.sigsDir(store)).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))

    // probe pruning still holds on the compacted layout
    val oneBucket = spark.read.parquet(BandStore.bandsDir(store))
      .select(pmod(col("bh"), lit(BandStore.BandBuckets)).cast("int")).head().getInt(0)
    val probe = BandStore.probeScan(spark, store, Seq(oneBucket), 3L)
    val scanned = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.head <= 1,
      s"compacted probe must scan one leaf per touched bucket, got $scanned")

    // admission against the compacted store: near-dup of batch-0 doc
    // vetoed, fresh doc admitted
    BandStore.admitBatch(docsB3, 3L, store, admitted)
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L, 6L))
  }

  test("X2e: cluster propagation converges past any fixed round count (10-deep chain)") {
    // docs 0..9: consecutive pairs are near-dups (one spaced token apart,
    // J≈0.88), distant pairs are not — one component of DIAMETER 9. The
    // old fixed-4-round loop would leave the tail mislabeled; the
    // fixpoint loop must collapse everything to representative 0.
    val dir = tmpDir("chain")
    import spark.implicits._
    val docs = (0 until 10).map { d =>
      val txt = (1 to 60).map { t =>
        // doc d flips spaced slots 5, 10, ..., 5d — each hop changes one
        val slot = t % 5 == 0 && t / 5 <= d
        if (slot) s"alt${t}" else s"tok$t"
      }.mkString(" ")
      (d.toLong, txt, "synthetic", "en", txt.length.toLong)
    }.toDF("doc_id", "text", "source", "lang", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // sanity: consecutive docs qualify, the chain's ends do not
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def j(a: String, b: String) = {
      val (x, y) = (sh(a), sh(b)); x.intersect(y).size.toDouble / x.union(y).size
    }
    val texts = docs.orderBy("doc_id").collect().map(_.getString(1))
    assert(j(texts(0), texts(1)) >= 0.8 && j(texts(8), texts(9)) >= 0.8)
    assert(j(texts(0), texts(9)) < 0.8)

    val labels = graft.operators.Dedup.x2DupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 10 && labels.values.toSet == Set(0L),
      s"10-deep chain must collapse to one cluster rep, got $labels")
  }

  // --- binned-range-join guards ---------------------------------------------

  test("BinnedRangeJoinRule: an OOM-scale reversed interval generates zero bins") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // lo − hi ≈ 2e10 → unguarded, Sequence DESCENDS and manufactures
      // ~6e8 junk bins per interval row (sequence-length error / OOM);
      // the If guard must turn the unsatisfiable band into zero bins
      val pts = spark.range(0, 100).select(col("id").as("p"))
      val ivs = spark.range(0, 5).select(
        (col("id") + lit(20000000000L)).as("lo"), col("id").as("hi"))
      val joined = pts.join(ivs, col("p") >= col("lo") && col("p") < col("hi"))
      assert(joined.count() == 0)
      // the rewrite DID fire (this is the guard's path, not a BNLJ dodge)
      assert(joined.queryExecution.optimizedPlan.toString.contains("__gr_pbin"))
    }
  }

  test("pointInInterval: wide intervals measured at runtime fall back to the original join") {
    import graft.plans.RangeJoin
    val pts = spark.range(0, 2000).select(col("id").as("p"))
    // one pathological interval covers [0, 1e9): 1e9/7 bins >> 4096 cap
    val ivs = spark.range(0, 20).select(
      when(col("id") === 0, lit(0L)).otherwise(col("id") * 7).as("lo"),
      when(col("id") === 0, lit(1000000000L)).otherwise(col("id") * 7 + 21).as("hi"))
    val binned = RangeJoin.pointInInterval(pts, "p", ivs, "lo", "hi", binWidth = 7)
    // fallback chosen: no bin machinery in the plan
    assert(!binned.queryExecution.optimizedPlan.toString.contains("__gr_ibin"),
      "a >cap interval must disable the binned plan")
    val exact = pts.join(ivs, col("p") >= col("lo") && col("p") < col("hi"))
    assert(binned.count() == exact.count() && binned.count() > 0)
  }

  test("pointInInterval: reversed and null intervals generate no bins on the binned path") {
    import graft.plans.RangeJoin
    val pts = spark.range(0, 100).select(col("id").as("p"))
    val ivs = spark.range(0, 6).select(
      when(col("id") === 0, lit(20000000000L))        // huge reversal
        .when(col("id") === 1, lit(null))             // null lo
        .otherwise(col("id") * 10).as("lo"),
      when(col("id") === 0, lit(0L)).otherwise(col("id") * 10 + 10).as("hi"))
    val out = RangeJoin.pointInInterval(pts, "p", ivs, "lo", "hi", binWidth = 7)
    // binned path stays on (max width = reversed < 0 never trips the cap);
    // normal intervals still match, degenerate ones contribute nothing
    assert(out.queryExecution.optimizedPlan.toString.contains("__gr_ibin"))
    val exact = pts.join(ivs, col("p") >= col("lo") && col("p") < col("hi"))
    assert(out.count() == exact.count() && out.count() > 0)
  }

  test("BinnedRangeJoinRule: CBO column stats above the cap keep the original join") {
    val tbl = "gr_r4_wide_ivs"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.range(0, 50).select((col("id") * 7).as("lo"), (col("id") * 7 + 900000000L).as("hi"))
      .write.saveAsTable(tbl)
    try {
      spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS lo, hi")
      withConf("spark.sql.cbo.enabled" -> "true",
               "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val pts = spark.range(0, 100).select(col("id").as("p"))
        val df = pts.join(spark.table(tbl), col("p") >= col("lo") && col("p") < col("hi"))
        assert(!df.queryExecution.optimizedPlan.toString.contains("__gr_pbin"),
          "stats-estimated ~1.3e8 bins/interval must skip the rewrite")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  // --- spill-safe top-k per group --------------------------------------------

  test("TopKPerGroupExec: 1M distinct groups in one partition survive a tiny hash budget") {
    import graft.plans.TopKPerGroup
    withConf("spark.graft.topk.fallbackThreshold" -> "1000") {
      // 2M rows, 1M groups, ALL in one partition: the hash map may hold
      // at most 1000 keys; every other group must flow through the
      // external-sort lane and still produce exact per-group top-1
      val df = spark.range(0, 2000000).select(
        (col("id") % 1000000).as("g"),
        col("id").as("v")).coalesce(1)
      val topk = TopKPerGroup(df, Seq(col("g")), Seq(col("v").desc), k = 1)
      val rows = topk.collect()
      // top-1 by v desc per group g is exactly v = g + 1e6
      val expectS = (0L until 1000000L).map(_ + 1000000L).sum
      assert(rows.length == 1000000 && rows.map(_.getLong(1)).sum == expectS,
        s"got n=${rows.length}")
      // descend through AQE wrappers/stages — plain collect stops at them
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def deep(p: SparkPlan): Seq[graft.plans.TopKPerGroupExec] = p match {
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case s: QueryStageExec        => deep(s.plan)
        case t: graft.plans.TopKPerGroupExec => t +: t.children.flatMap(deep)
        case o                        => o.children.flatMap(deep)
      }
      val fallbacks = deep(topk.queryExecution.executedPlan)
        .map(_.metrics("sortFallbackRows").value).sum
      assert(fallbacks > 0, "the sort fallback lane must have engaged")
    }
  }

  test("TopKPerGroupExec: ±0.0 group keys merge into one group, like the window form") {
    import spark.implicits._
    import graft.plans.TopKPerGroup
    // the exec groups by raw UnsafeRow bytes and the exchange hashes raw
    // bits — without the strategy's NormalizeFloatingNumbers wrap, 0.0
    // and -0.0 would form two groups (and shuffle to different
    // partitions), emitting 2k rows where row_number().over(partitionBy)
    // emits k
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (-0.0, 4L),
        (Double.NaN, 5L), (Double.NaN, 6L), (1.5, 7L))
      .toDF("g", "id")
    val kept = TopKPerGroup(df, Seq(col("g")), Seq(col("id")), k = 2)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 5L, 6L, 7L),
      s"±0.0 must be ONE group (keep ids 1,2 only), got $kept")
  }

  test("TopKPerGroupExec: fallback path is exact — equals the window form with duplicates and ties") {
    import graft.plans.TopKPerGroup
    import org.apache.spark.sql.expressions.Window
    withConf("spark.graft.topk.fallbackThreshold" -> "7") {
      // 200 groups of 40 rows with value ties; threshold 7 forces most
      // groups through the sorter in BOTH the partial and final pass
      val df = spark.range(0, 8000).select(
        (col("id") % 200).as("g"),
        (col("id") % 13).as("v"),
        col("id").as("tie"))
      val native = TopKPerGroup(df, Seq(col("g")),
          Seq(col("v").desc, col("tie")), k = 3)
        .select(col("g"), col("v"), col("tie"))
        .collect().map(_.toString).sorted.toSeq
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("tie"))
      val windowed = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("g"), col("v"), col("tie"))
        .collect().map(_.toString).sorted.toSeq
      assert(native == windowed && native.nonEmpty)
    }
  }

  test("T5 upsert sink crash recovery: lost checkpoint commit replays to the uninterrupted state") {
    import org.apache.spark.sql.types._
    def topicWith(lines: Seq[String]): String = {
      val dir = tmpDir("ctopic")
      Files.writeString(Paths.get(s"$dir/part-0.json"), lines.mkString("\n"))
      dir
    }
    def msg(id: Long, user: Long, typ: String) =
      s"""{"event_id":$id,"user_id":$user,"event_type":"$typ","value":1.0,"k":1}"""
    val lines = Seq(msg(10, 1, "a"), msg(11, 1, "b"), msg(12, 2, "c"))

    // uninterrupted run
    val storeA = tmpDir("storeA")
    Streams.upsertSink(Streams.subscribe(spark, topicWith(lines)),
      "user_id", "event_id", storeA, tmpDir("ckA")).awaitTermination(60000)

    // crashed run: batch effects land, then the commit record is lost
    // (crash between the foreachBatch body and the checkpoint commit);
    // restart must replay the batch against the already-merged store
    val storeB = tmpDir("storeB")
    val topicB = topicWith(lines)
    val ckB = tmpDir("ckB")
    Streams.upsertSink(Streams.subscribe(spark, topicB),
      "user_id", "event_id", storeB, ckB).awaitTermination(60000)
    dropLatestCommit(ckB)
    Streams.upsertSink(Streams.subscribe(spark, topicB),
      "user_id", "event_id", storeB, ckB).awaitTermination(60000)

    def content(dir: String) = spark.read.parquet(dir)
      .select("event_id", "user_id", "event_type").collect().map(_.toString).toSeq.sorted
    assert(content(storeB) == content(storeA),
      "replayed store diverged from the uninterrupted run")
    assert(spark.read.parquet(storeB).groupBy("user_id").count()
      .filter(col("count") > 1).count() == 0, "replay must not duplicate keys")
  }

  test("T11 sink crash recovery: lost commit replays the dedup batch to identical content") {
    import org.apache.spark.sql.types._
    val topic = tmpDir("dctopic")
    val store = tmpDir("dcstore")
    val admitted = tmpDir("dcadmit")
    val ckpt = tmpDir("dcck")
    def src() = spark.readStream.schema(docSchema).json(topic)
    Files.writeString(Paths.get(s"$topic/b1.json"),
      Seq(doc(1, toksA()), doc(2, (1 to 50).map(i => s"w$i").mkString(" "))).mkString("\n"))
    Streams.dedupAdmitSink(src(), store, admitted, ckpt).awaitTermination(60000)
    Files.writeString(Paths.get(s"$topic/b2.json"),
      Seq(doc(3, toksA(Some(25 -> "zzz"))), doc(4, (1 to 50).map(i => s"utok$i").mkString(" "))).mkString("\n"))
    Streams.dedupAdmitSink(src(), store, admitted, ckpt).awaitTermination(60000)
    val admBefore = contentOf(admitted, "doc_id", "__batch")
    val sigBefore = contentOf(BandStore.sigsDir(store), "doc_id", "__batch")

    // lose the second batch's commit and restart: the batch replays
    dropLatestCommit(ckpt)
    Streams.dedupAdmitSink(src(), store, admitted, ckpt).awaitTermination(60000)

    assert(contentOf(admitted, "doc_id", "__batch") == admBefore,
      "replay must not duplicate admitted rows")
    assert(contentOf(BandStore.sigsDir(store), "doc_id", "__batch") == sigBefore,
      "replay must not duplicate store signatures")
    assert(spark.read.parquet(admitted).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L))
  }
}
