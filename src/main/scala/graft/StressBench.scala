package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness for the dedup family (VERDICT r3 item 8): the
  * driver ships no sf1 fixtures, so this builds a 10× corpus DERIVED
  * from sf0.1 and measures the LSH scale paths at N and 10N docs. The
  * quadratic oracle twins are excluded by design — they exist for
  * correctness at small SF, not for scale.
  *
  * Replication must not manufacture quadratic near-dup structure:
  * replica i prefixes every token with `r$i` (cross-replica Jaccard = 0)
  * and sign-flips embedding dimensions with a replica-specific ±1
  * pattern (cross-replica cosine ≈ 0, within-replica cosines exactly
  * preserved — signs square away). So the TRUE pair count scales ×10,
  * and a sub-quadratic engine should show runtime ratios near the data
  * ratio, far under the ×100 an all-pairs plan would pay.
  *
  * Output: one JSON line
  * `{"stress":"dedup10x","base":{...},"x10":{...},"queries":{name:
  *   {"base_sec":s,"x10_sec":s,"ratio":r,"base_rows":n,"x10_rows":n}}}`.
  */
object StressBench {

  private def replicate(spark: SparkSession, baseDir: String, outDir: String,
                        copies: Int): Unit = {
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val nDocs = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val nVecs = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val docReps = (0 until copies).map { i =>
      val prefixed =
        if (i == 0) col("text")
        else expr(s"array_join(transform(split(text, ' '), t -> concat('r$i', t)), ' ')")
      docs.select((col("doc_id") + lit(i * nDocs)).as("doc_id"),
        prefixed.as("text"),
        col("source"), col("lang"), col("n_chars"))
    }
    docReps.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
    val embReps = (0 until copies).map { i =>
      val flipped =
        if (i == 0) col("embedding")
        else expr(s"""transform(embedding, (v, j) ->
                     |  CAST(v * (CAST(pmod(xxhash64(j * 131 + $i), 2) AS DOUBLE) * 2.0 - 1.0) AS FLOAT))"""
          .stripMargin)
      emb.select((col("vec_id") + lit(i * nVecs)).as("vec_id"), flipped.as("embedding"),
        col("label"))
    }
    embReps.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  /** Planted-boilerplate corpus (VERDICT r7 item 1): 30% of the docs
    * (doc_id % 10 < 3) are replaced by a template — the templated/
    * identical-doc shape of a crawl corpus. NOTE the real shape: since
    * 10 divides 40, `doc_id % 40` restricted to `doc_id % 10 < 3`
    * reaches only 12 of the 40 template ids ({0,1,2,10,11,12,...}) —
    * ~125 copies per template at sf0.1, a ~3× HOTTER pileup than 40
    * templates would give. Kept as-is deliberately: it is the stricter
    * guard test, and every recorded stress artifact measured THIS
    * corpus (changing the shape would break cross-round comparability).
    * The embeddings table is copied through unchanged.
    */
  private def boilerize(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val templates = docs.filter(col("doc_id") < 40)
      .select(col("doc_id").as("tid"), col("text").as("ttext"))
    docs.withColumn("tid", when(col("doc_id") % 10 < 3, col("doc_id") % 40))
      .join(broadcast(templates), Seq("tid"), "left")
      .withColumn("text", coalesce(col("ttext"), col("text")))
      .drop("tid", "ttext")
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$baseDir/embeddings.parquet")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  /** Candidate-stage diagnostics for the skew guard: per-(band, bh)
    * bucket populations summed as pair counts. `unguarded` is what the
    * pre-guard self-join would have generated (Σ n·(n−1)/2 over ALL
    * docs' band rows — quadratic in the hottest bucket); `guarded` is
    * what the shipped path generates (identical texts collapsed to reps
    * first, over-cap buckets starred to n−1 pairs).
    */
  private def candStats(spark: SparkSession, dir: String): (Long, Long) = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("text"))
    // same cap the shipped operator derives from its measured count
    val cap = Dedup.bucketCap(spark, docs.count())
    def bucketSizes(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
        .withColumn("sig", Dedup.minhashSig)
        .select(col("doc_id"), posexplode(expr(Dedup.bandSql)).as(Seq("band", "bh")))
        .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
    val unguarded = bucketSizes(docs)
      .agg(sum(col("n") * (col("n") - 1) / 2)).head.getDouble(0).toLong
    val reps = docs.groupBy(graft.operators.Dedup.textKey.as("th"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(docs, Seq("doc_id"))
    val guarded = bucketSizes(reps)
      .agg(sum(when(col("n") <= cap, col("n") * (col("n") - 1) / 2)
        .otherwise(col("n") - 1))).head.getDouble(0).toLong
    (guarded, unguarded)
  }

  /** Embedding corpus with PLANTED near-dups in the operating regime
    * (VERDICT r7 item 3): after the sign-flip replication, every 50th
    * vector gains a twin whose dimensions are scaled by a deterministic
    * ±10% pattern — cosine ≈ 1/√1.01 ≈ 0.995 to its source, ≈ 0 to
    * everything else — so the TRUE ≥0.9 pair count equals the planted
    * count and scales linearly with the corpus.
    */
  private def plantEmbeddings(spark: SparkSession, srcDir: String, outDir: String): Long = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val planted = emb.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"),
        expr("""transform(embedding, (v, j) ->
               |  CAST(v * (1.0D + 0.1D * (CAST(pmod(xxhash64(j * 31 + vec_id), 2) AS DOUBLE) * 2.0D - 1.0D)) AS FLOAT))"""
          .stripMargin).as("embedding"),
        col("label"))
    val n = planted.count()
    emb.unionByName(planted)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    n
  }

  /** Candidate-stage accounting for the auto-geometry embedding arm
    * (VERDICT r12 #2): at the sizing law's geometry for the measured
    * corpus, the CAPPED banded candidate count vs the all-pairs product —
    * the measured prune ratio whose analytic floor (≥5×,
    * [[graft.operators.Dedup.lshBeatsBrute]]) licensed the banded arm.
    * Returns (geometry, candidatePairs, allPairs, prune).
    */
  private def embCandStats(spark: SparkSession, dir: String): (String, Long, Long, Double) = {
    import graft.operators.{Dedup, Similarity}
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val (b, p) = Dedup.embeddingGeometry(n)
    val cap = Dedup.bucketCap(spark, n)
    val e = Similarity.bandedCorpus(spark, dir, b, p)
    val bb = e.select(col("vec_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val cand = Dedup.cappedSelfPairs(bb, "vec_id", cap, "a", "b").count()
    val allPairs = n * (n - 1) / 2
    // max(cand, 1): a zero candidate count must not print Infinity —
    // the %.1f interpolation would emit a bare `Infinity` token and the
    // whole artifact line stops being JSON
    (s"${b}x$p", cand, allPairs, allPairs.toDouble / math.max(cand, 1L))
  }

  /** File count + total bytes under a store tree — the small-files tax
    * the `needsCompaction` gauge reports, measured directly.
    */
  private def du(dir: String): (Long, Long) = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (1L, f.length())
      else Option(f.listFiles()).getOrElse(Array.empty)
        .map(walk).foldLeft((0L, 0L)) { case ((c1, b1), (c2, b2)) => (c1 + c2, b1 + b2) }
    if (!root.exists()) (0L, 0L) else walk(root)
  }

  /** The IVF maintain+serve lifecycle at a configurable vector scale
    * (VERDICT r13 #5: the second decade). `ivfCopies` replicas of the
    * ×N embeddings corpus are built through the same sign-flip law
    * (cross-replica cosine ≈ 0, within-replica cosines preserved), then
    * the full cycle runs against it: full train, 9/10 build + frozen-
    * centroid append, 0.1% tombstone delete, three log-driven ingest
    * batches, a restate, and a brute-force-grounded recall@5 check over
    * the LIVE rows. Returns the artifact's JSON fragments
    * (`"ivf_inc"`, `"ivf_del"`, `"vec_ingest"`). Default 50 copies of
    * the ×10 corpus = the recorded 1M-vector point; 50 copies of a ×50
    * corpus (or SPARK_GRAFT_STRESS_IVF_COPIES=250 on ×10) = 5M.
    */
  private def ivfScaleCycle(spark: SparkSession, bigOut: String,
                            work: String, ivfCopies: Int): String = {
    // --- incremental IVF maintenance (X3c''): at the x10 corpus's 20k
    // vectors both paths are fixed-overhead-bound, so the asymptotic
    // separation (append = O(delta · nlist) assignment vs re-train =
    // O(sample) centroid training + ONE O(corpus · nlist) assignment
    // pass + full list rewrite, r15) is measured on a ×500 embeddings
    // corpus (1M vecs — same sign-flip replication, cross-replica
    // cosine ≈ 0): build on 9/10, append the last tenth ---
    val embScale = s"$work/ivf-scale"
    locally {
      val emb = spark.read.parquet(s"$bigOut/embeddings.parquet")
      val nV = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
      // replica id as a COLUMN (one broadcast cross join), not one plan
      // branch per copy — a 250-way unionByName of lambda transforms is
      // an analyzer stress test, not a data one. `j * 977 + __rep` is
      // long arithmetic here (the old literal path hashed ints), so the
      // ±1 patterns differ from pre-r14 corpora in VALUE but not in LAW:
      // deterministic per (replica, dim), cross-replica cosine ≈ 0
      emb.crossJoin(broadcast(spark.range(0, ivfCopies).select(col("id").as("__rep"))))
        .select((col("vec_id") + col("__rep") * nV).as("vec_id"),
          when(col("__rep") === 0, col("embedding"))
            .otherwise(expr("""transform(embedding, (v, j) ->
                              |  CAST(v * (CAST(pmod(xxhash64(j * 977 + __rep), 2) AS DOUBLE) * 2.0 - 1.0) AS FLOAT))"""
              .stripMargin)).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$embScale/embeddings.parquet")
    }
    val ivfIncStore = s"$work/ivfstore-inc"
    val scaleVecs = spark.read.parquet(s"$embScale/embeddings.parquet")
    val scaleVecCount = scaleVecs.count()
    // self-contained across runs: the ingest phase below records a
    // micro-batch-id floor that SURVIVES rebuilds by design (replay
    // safety across mixed maintenance), so a reused work dir would skip
    // this run's fixed batch ids — start from a clean store
    locally {
      val p = new org.apache.hadoop.fs.Path(s"$work/ivfstore-scale")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val tIvfFull = System.nanoTime()
    graft.operators.IvfStore.build(spark, embScale, s"$work/ivfstore-scale")
    val ivfScaleBuildSec = (System.nanoTime() - tIvfFull) / 1e9
    val tIvfIncB = System.nanoTime()
    graft.operators.IvfStore.buildVecs(scaleVecs.filter(col("vec_id") % 10 =!= 7), ivfIncStore)
    val ivfIncBuildSec = (System.nanoTime() - tIvfIncB) / 1e9
    val tIvfIncA = System.nanoTime()
    val ivfIncMode = graft.operators.IvfStore.ensureCurrentIncremental(spark, embScale, ivfIncStore)
    val ivfIncAppendSec = (System.nanoTime() - tIvfIncA) / 1e9
    require(ivfIncMode == "incremental", s"expected the incremental path, ran '$ivfIncMode'")
    require(!graft.operators.IvfStore.ensureCurrent(spark, embScale, ivfIncStore),
      "append must leave the store fingerprint-current")
    val ivfIncAppended = scaleVecs.filter(col("vec_id") % 10 === 7).count()

    // --- incremental IVF DELETE (X3c'''', round 10): a 0.1% takedown
    // against the 1M-vector store. The tombstone path pays one digest
    // classification pass plus a NARROW id scan of the lists (vec_id +
    // partition column, no vector data) — it must cost a small fraction
    // of the full re-train (ivfScaleBuildSec), which is what every
    // delete used to pay ---
    val ivfDelCorpus = scaleVecs.filter(col("vec_id") % 1000 =!= 3)
    val ivfDeleted = scaleVecCount - ivfDelCorpus.count()
    val tIvfDel = System.nanoTime()
    val ivfDelMode = graft.operators.IvfStore.ensureIncrementalVecs(
      ivfDelCorpus, s"$work/ivfstore-scale")
    val ivfDelSec = (System.nanoTime() - tIvfDel) / 1e9
    require(ivfDelMode == "incremental-delete", s"expected the delete path, ran '$ivfDelMode'")

    // --- log-driven vector UPSERT at 1M scale (round-10 §16): three
    // 10k micro-batches of new vectors, then a 1k re-embed restate,
    // against the 1M store the delete phase just served. Per-batch cost
    // = one narrow digest classification pass + delta-only assignment —
    // it must stay a small fraction of the full re-train, and flat
    // across batches ---
    val vecIngestSecs = (0 until 3).map { b =>
      val batch = scaleVecs.filter(col("vec_id") % 100 === b)
        .withColumn("vec_id", col("vec_id") + 100000000L + b.toLong * 10000000L)
      val t0 = System.nanoTime()
      val m = graft.operators.IvfStore.appendVectors(
        batch, s"$work/ivfstore-scale", 1000L + b)
      require(m == "ingest", s"vector ingest batch $b ran '$m'")
      (System.nanoTime() - t0) / 1e9
    }
    // % 1000 alone: divisibility by 1000 implies the % 100 === 0 batch-0
    // membership, so every remapped id here restates a just-ingested one
    val reBatch = scaleVecs.filter(col("vec_id") % 1000 === 0)
      .withColumn("vec_id", col("vec_id") + 100000000L)
      .withColumn("embedding", expr("transform(embedding, x -> CAST(x * 2.0 AS FLOAT))"))
    val vecRestated = reBatch.count()
    val tVecRe = System.nanoTime()
    val vecReMode = graft.operators.IvfStore.appendVectors(
      reBatch, s"$work/ivfstore-scale", 2000L)
    val vecRestateSec = (System.nanoTime() - tVecRe) / 1e9
    require(vecReMode == "ingest", s"vector restate ran '$vecReMode'")

    // --- ANN recall at the 1M scale (VERDICT r10 item 5): the fixture
    // pins recall@5 ≥ 0.85 only at sf0.01/sf0.1; the 1M store above has
    // now absorbed a 0.1% delete, three 10k frozen-centroid ingests and
    // a 1k restate — exactly the train-once-add-forever policy whose
    // recall decay was an assumption, not a number. Ground truth is
    // brute-force cosine top-5 over the LIVE store rows (deletes and
    // ingests applied), so the measurement covers what a probe could
    // possibly return; the floor asserted is the fixture LlmOpsSpec
    // floor (0.8 mean). A measured drop below it is the re-train
    // trigger this policy owes its users ---
    val scaleStore = s"$work/ivfstore-scale"
    val tRecall = System.nanoTime()
    val (qcScale, prunedLists) = graft.operators.IvfStore.probeInputs(
      spark, embScale, scaleStore, maxQueryId = 24L)
    val annScale = graft.operators.Similarity.ivfScore(prunedLists, qcScale)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    val liveScale = graft.operators.IvfStore.liveVectors(spark, scaleStore)
    val queriesScale = qcScale.select(col("q_id"), col("qe"), col("qnorm")).distinct()
    val dot = graft.functions.VectorFunctions.dotF64 _
    val exactScored = liveScale.crossJoin(broadcast(queriesScale))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 6))
      .select(col("q_id"), col("vec_id"), col("cosine"))
    val exactScale = graft.plans.TopKPerGroup.topKRanked(exactScored,
        Seq(col("q_id")), Seq(col("cosine").desc, col("vec_id")), 5, "rank")
      .select(col("q_id"), col("vec_id"))
    val recallRow = exactScale.join(annScale, Seq("q_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .head
    val recallAt5 = recallRow.getLong(1).toDouble / recallRow.getLong(0)
    val recallSec = (System.nanoTime() - tRecall) / 1e9
    require(recallAt5 >= 0.8,
      f"1M-store recall@5 $recallAt5%.3f fell below the 0.8 floor — " +
        "frozen-centroid decay: re-train the store")

    f""""ivf_inc":{"corpus_vecs":$scaleVecCount,"base_build_sec":$ivfIncBuildSec%.3f,""" +
    f""""append_sec":$ivfIncAppendSec%.3f,"appended_vecs":$ivfIncAppended,""" +
    f""""full_build_sec":$ivfScaleBuildSec%.3f},""" +
    f""""ivf_del":{"deleted":$ivfDeleted,"sec":$ivfDelSec%.3f,""" +
    f""""full_build_sec":$ivfScaleBuildSec%.3f},""" +
    s""""vec_ingest":{"base_vecs":$scaleVecCount,""" +
    s""""upsert_secs":${vecIngestSecs.map(s => f"$s%.3f").mkString("[", ",", "]")},""" +
    f""""restated":$vecRestated,"restate_sec":$vecRestateSec%.3f,""" +
    f""""full_build_sec":$ivfScaleBuildSec%.3f,""" +
    f""""recall_at_5":$recallAt5%.4f,"recall_floor":0.8,"recall_sec":$recallSec%.3f}"""
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft-stress"
    // load context, the Bench discipline: three post-review stress runs
    // disagreed 9 s vs 18 s on the same code purely from box load, and
    // only an artifact-borne load reading separates contention from
    // regression without a re-run
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg
    // corpus scale knob (VERDICT r13 #5): the default ×10 derived corpus
    // proved flat-to-one-decade; SPARK_GRAFT_STRESS_COPIES=50 drives the
    // second decade (250k docs / 100k vecs at sf0.1 base) through the
    // SAME replication law — cross-replica Jaccard and cosine stay ≈ 0,
    // so true pair counts scale linearly and any superlinear runtime is
    // the engine's, not the corpus's
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt
    val spark = Sessions.start(Sessions.builder(Sessions.width(32))
      // SPARK_GRAFT_DEBUG_TIMING=true prints the admission loop's
      // per-stage [admit-timing] lines — the soak-drift attribution
      // hook (a -D on the sbt CLI never reaches the forked run JVM)
      .config("spark.graft.debug.timing",
        sys.env.getOrElse("SPARK_GRAFT_DEBUG_TIMING", "false")), "WARN")
    // compaction-cadence knob (ROUND14 §9): the soak's between-compaction
    // slope is the small-files tax curve — a lower threshold trades more
    // (smaller) quiesced pauses against a flatter per-batch curve. The
    // default 64 is the production conf; recorded cadence experiments
    // set e.g. 16 and carry the value in their artifact line via the
    // compactions array (batch numbers expose the cadence directly).
    sys.env.get("SPARK_GRAFT_STRESS_COMPACT_AFTER").foreach(v =>
      spark.conf.set(graft.streaming.BandStore.CompactAfterBatchesConf, v))

    // both corpora rebuilt through the same writer so file layout and
    // compression are comparable; base = 1 copy of sf0.1
    val baseOut = s"$work/base"
    val bigOut = s"$work/x10"
    replicate(spark, baseDir, baseOut, 1)
    replicate(spark, baseDir, bigOut, copies)

    // isolated embedding-LSH drive (VERDICT r12 #2): the full suite's
    // embauto x10 cell single-sampled 21.7 s in r12 vs 8.35 s in r11
    // with no code change to that path — this mode reproduces JUST the
    // planted-embedding phases on a fresh JVM, multi-sampled, with the
    // candidate-stage accounting that the one wall number can't show.
    // Recorded STRESS artifacts never set this.
    if (sys.env.contains("SPARK_GRAFT_STRESS_EMB_ONLY")) {
      val embBase = s"$work/embplant-base"
      val embBig = s"$work/embplant-x10"
      val plantedBase = plantEmbeddings(spark, baseOut, embBase)
      val plantedBig = plantEmbeddings(spark, bigOut, embBig)
      def sample(dir: String): (Double, Long) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = graft.operators.Dedup.x2EmbeddingLshAuto(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      // interleaved, 3 passes — the Bench discipline: contention must
      // span the whole run to bias a cell
      val passes = (1 to 3).map { _ => (sample(embBase), sample(embBig)) }
      val (bg, bCand, bAll, bPrune) = embCandStats(spark, embBase)
      val (xg, xCand, xAll, xPrune) = embCandStats(spark, embBig)
      def arr(f: ((Double, Long), (Double, Long)) => Double) =
        passes.map { case (b, x) => math.round(f(b, x) * 1000) / 1000.0 }.mkString("[", ",", "]")
      println(
        f"""{"stress":"emb-only","planted_base":$plantedBase,"planted_x10":$plantedBig,""" +
        f""""base_secs":${arr((b, _) => b._1)},"x10_secs":${arr((_, x) => x._1)},""" +
        f""""base_pairs":${passes.head._1._2},"x10_pairs":${passes.head._2._2},""" +
        f""""base_geom":"$bg","base_cand":$bCand,"base_allpairs":$bAll,"base_prune":$bPrune%.1f,""" +
        f""""x10_geom":"$xg","x10_cand":$xCand,"x10_allpairs":$xAll,"x10_prune":$xPrune%.1f,""" +
        f""""loadavg_start":"$loadStart","loadavg_end":"$loadavg"}""")
      spark.stop()
      return
    }

    // isolated IVF lifecycle drive (VERDICT r13 #5): the full suite pays
    // ~15 min of unrelated phases before the vector store — this mode
    // runs JUST the maintain+serve cycle on a fresh JVM at a chosen
    // scale (COPIES × IVF_COPIES × 2000 vecs at sf0.1: 10×50=1M, the
    // recorded point; 50×50 or 10×250 = 5M, the second decade).
    // Recorded STRESS artifacts carry the in-suite run; this one's line
    // is recorded alongside it, labeled.
    if (sys.env.contains("SPARK_GRAFT_STRESS_IVF_ONLY")) {
      val ivfCopies = sys.env.getOrElse("SPARK_GRAFT_STRESS_IVF_COPIES", "50").toInt
      val j = ivfScaleCycle(spark, bigOut, work, ivfCopies)
      println(s"""{"stress":"ivf-scale","copies":$copies,"ivf_copies":$ivfCopies,$j,"loadavg_start":"$loadStart","loadavg_end":"$loadavg"}""")
      spark.stop()
      return
    }

    val queries = Seq("x2_minhash_lsh", "x2_incremental", "x2_dup_clusters",
      "x2_embedding_lsh")
    def timeOne(name: String, dir: String): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    // soak knob (VERDICT r12 #7): the 10-batch default proves the
    // plateau; SPARK_GRAFT_STRESS_ADMIT_BATCHES=50..100 (with
    // ADMIT_ONLY) drives the long tail that a 10-batch window could
    // hide a second-order growth term behind
    val admBatches = sys.env.getOrElse("SPARK_GRAFT_STRESS_ADMIT_BATCHES", "10").toInt
    // a LONG soak measures the store's growth law, not the JVM-state
    // interaction the 10-batch escape hatch exists for — skip the query
    // preamble so an 80-batch ×50 run spends its wall on the claim
    // (isolatePhase() already severs the preamble's cache state either
    // way, so the curves are comparable across both shapes)
    val longSoak = sys.env.contains("SPARK_GRAFT_STRESS_ADMIT_ONLY") && admBatches != 10
    // interleaved best-of-2, the Bench r8 discipline: a contention window
    // must span BOTH full passes to bias any single cell, and pass-2
    // disagreement vs pass-1 is visible in the log
    val passes = if (longSoak) Seq.empty else (1 to 2).map { p =>
      queries.map { name =>
        val (bs, br) = timeOne(name, baseOut)
        val (xs, xr) = timeOne(name, bigOut)
        System.err.println(f"pass$p $name base=$bs%.3f x10=$xs%.3f")
        name -> (bs, xs, br, xr)
      }.toMap
    }
    val stats = if (longSoak) Seq.empty else queries.map { name =>
      val cells = passes.map(_(name))
      name -> (cells.map(_._1).min, cells.map(_._2).min,
        cells.head._3, cells.head._4)
    }

    // isolated query drive (round 14): the second-decade SOAK proved
    // admission at ×50, but the four dedup query cells were only ever
    // measured at ×10 — this mode runs JUST the interleaved query
    // passes at base and ×COPIES and stops, so a ×50 query point does
    // not drag the (driver-heap-hungry at 5M vecs) IVF cycle and the
    // admission/boiler phases behind it. Recorded artifacts label the
    // line; the ratio divisor is the corpus ratio COPIES.
    if (sys.env.contains("SPARK_GRAFT_STRESS_QUERIES_ONLY")) {
      // env conflict guard: ADMIT_ONLY with a non-default batch count
      // empties the query passes above — a queries-only artifact built
      // from that would be the valid-looking-line-benchmarking-nothing
      // failure mode Bench fails loudly on. Refuse the combination.
      require(stats.nonEmpty,
        "SPARK_GRAFT_STRESS_QUERIES_ONLY conflicts with the long-soak env " +
          "(ADMIT_ONLY + ADMIT_BATCHES != 10): the query passes were skipped, " +
          "so there is nothing to record — unset one of the two modes")
      val qJson = stats.map { case (n, (b, x, br, xr)) =>
        f""""$n":{"base_sec":$b%.3f,"xn_sec":$x%.3f,"ratio":${x / b}%.2f,"base_rows":$br,"xn_rows":$xr}"""
      }.mkString("{", ",", "}")
      println(s"""{"stress":"queries-only","copies":$copies,"queries":$qJson,"loadavg_start":"$loadStart","loadavg_end":"$loadavg"}""")
      spark.stop()
      return
    }

    // the VERDICT-1 claim measured directly: admit the 10x corpus as 10
    // sequential micro-batches against a growing band store — per-batch
    // wall time must stay FLAT (probe cost is bucket-bounded, never
    // O(store)); before the bucketed store each batch rescanned and
    // re-banded the full signature history, so batch 10 cost ~10x batch 1
    //
    // phase isolation: the query phases above leave their cached frames
    // resident (clearCache in timeOne runs at each timing's START, so the
    // LAST query's blocks survive it). Leftover storage blocks shrink the
    // memory the admission loop's own per-batch transient caches grow
    // into, so the in-run samples climbed (r11: 4.0→9.2 s) while
    // isolated fresh-JVM drives of the same loop stayed flat — the
    // residue measured nothing. Each phase starts from a clean block
    // manager; what admission measures is then store-size cost alone.
    def isolatePhase(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    isolatePhase()
    val admStore = s"$work/admstore"
    val admOut = s"$work/admout"
    val allDocs = spark.read.parquet(s"$bigOut/documents.parquet").persist()
    val perBatch = allDocs.count() / admBatches
    // the range slicing below assumes ids contiguous from 0 — on a gapped
    // corpus (e.g. an already-deduped one passed as baseDir) it would
    // silently drop every doc past admBatches*perBatch and undercount
    // `admitted`
    require(allDocs.agg(max(col("doc_id"))).head.getLong(0) == allDocs.count() - 1,
      "admission slicing requires contiguous doc_ids from 0")
    // the production quiesce point, mirrored (round 14): every batch is
    // committed when admitBatch returns, so the gauge-driven full
    // compact is safe here exactly as at dedupAdmitDrain's exit. The
    // pause is recorded SEPARATELY from the admission wall so the
    // per-batch curve stays comparable across rounds and the artifact
    // carries the recovery shape: batch times climb with the
    // small-files tax, the compact fires past the 64-batch threshold,
    // and post-compact batches must fall back onto the early curve
    val admCompactions = scala.collection.mutable.ArrayBuffer.empty[String]
    // VERDICT r15 #7: sample /proc/loadavg PER BATCH so an in-soak
    // batch-wall spike is adjudicable from the artifact alone (the r15
    // soak carried 30-50 s spikes attributable to box contention only
    // by argument)
    val admLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    // VERDICT r15 #5: STEADY EVICTION during the soak — every
    // SPARK_GRAFT_STRESS_EVICT_EVERY batches, 20% of the batch admitted
    // two cycles ago is evicted, so tombstone partitions accumulate
    // between full passes and their dead-mass share of the probe bytes
    // is measurable (the gauge that decides whether a dead-mass trigger
    // is warranted). 0/absent = off (the recorded r15 curve's shape).
    val evictEvery = sys.env.getOrElse("SPARK_GRAFT_STRESS_EVICT_EVERY", "0").toInt
    val deadShares = scala.collection.mutable.ArrayBuffer.empty[String]
    val gaugeMs = scala.collection.mutable.ArrayBuffer.empty[Int]
    // retire-grace shaped to the soak cadence: folds fire minutes apart
    // and each fold's reap clears the PREVIOUS fold's retired leaves, so
    // a short grace keeps the physical files curve comparable with the
    // recorded pre-manifest rounds (production keeps the 60 s default,
    // sized to probe duration)
    if (spark.conf.getOption(graft.streaming.BandStore.RetireGraceConf).isEmpty)
      spark.conf.set(graft.streaming.BandStore.RetireGraceConf, "2000")
    def duTree(d: String): (Long, Long) = du(d)
    def deadShare(): Double = {
      val (_, evB) = duTree(graft.streaming.BandStore.evictedDir(admStore))
      val (_, bB) = duTree(graft.streaming.BandStore.bandsDir(admStore))
      val (_, sB) = duTree(graft.streaming.BandStore.sigsDir(admStore))
      if (bB + sB + evB == 0L) 0.0 else evB.toDouble / (bB + sB + evB)
    }
    val admSecs = (0 until admBatches).map { b =>
      val batch = allDocs.filter(col("doc_id") >= b * perBatch && col("doc_id") < (b + 1) * perBatch)
      val t0 = System.nanoTime()
      graft.streaming.BandStore.admitBatch(batch, b.toLong, admStore, admOut)
      val sec = (System.nanoTime() - t0) / 1e9
      admLoads += loadavg.split(",").headOption.getOrElse("")
      if (evictEvery > 0 && b >= 2 && b % evictEvery == evictEvery - 1) {
        val lo = (b - 2).toLong * perBatch
        val ids = allDocs.filter(col("doc_id") >= lo && col("doc_id") < lo + perBatch / 5)
          .select(col("doc_id"))
        graft.streaming.BandStore.evictDocs(ids, b.toLong, admStore)
        deadShares += f"""{"batch":$b,"dead_share":${deadShare()}%.4f}"""
      }
      // gauge once, then fold directly — compactSliceIfNeeded would
      // re-run the same listing-based gauge this branch just evaluated.
      // r15: budgeted SLICES, the production quiesce hook
      // (dedupAdmitDrain) — per-quiesce pause is bounded by the slice
      // budget instead of one stop-the-world fold (the r14 soak's
      // 14.9 s outlier), and the artifact records the per-firing slice
      // count so the fold's convergence is visible in the curve.
      // With eviction on, the evicted tree crossing the threshold runs
      // the FULL pass instead (tombstone partitions only reclaim there)
      // — compactSliceIfNeeded's own branch, mirrored so the artifact
      // records which tier fired.
      // VERDICT r16 #7: the gauge wall IS the manifest-listing cost on
      // the maintenance path (one flat `.live/` listing per tree) — the
      // per-batch series makes "listing cost scales sublinearly with
      // store growth" adjudicable from the artifact alone.
      val tG = System.nanoTime()
      val needs = graft.streaming.BandStore.needsCompaction(spark, admStore)
      gaugeMs += math.round((System.nanoTime() - tG) / 1e6).toInt
      if (needs) {
        val threshold = spark.conf.get(
          graft.streaming.BandStore.CompactAfterBatchesConf, "64").toInt
        val (fb, bb) = du(admStore)
        val evShareBefore = deadShare()
        val tC = System.nanoTime()
        val full = graft.streaming.BandStore.liveBatchIds(spark,
          graft.streaming.BandStore.evictedDir(admStore)).size >= threshold
        val slices =
          if (full) { graft.streaming.BandStore.compactStore(spark, admStore); -1 }
          else graft.streaming.BandStore.compactSlices(spark, admStore,
            Long.MaxValue, minFoldDirs = threshold)
        val pause = (System.nanoTime() - tC) / 1e9
        val (fa, ba) = du(admStore)
        admCompactions += f"""{"batch":$b,"pause_sec":$pause%.3f,"slices":$slices,"full":$full,"files_before":$fb,"files_after":$fa,"bytes_before":$bb,"bytes_after":$ba,"dead_share_before":$evShareBefore%.4f,"dead_share_after":${deadShare()}%.4f,"loadavg":"${loadavg.split(",").headOption.getOrElse("")}"}"""
      }
      sec
    }
    allDocs.unpersist()
    val admCompactJson = admCompactions.mkString("[", ",", "]")

    // soak exit: a 50-100-batch ADMIT_ONLY run wants the long per-batch
    // curve plus the store's physical footprint, not the boiler loop —
    // print and stop here. Store size = file count + bytes under the
    // three trees (the small-files tax needsCompaction gauges).
    if (longSoak) {
      // final census at a TRUE quiesce: force-reap grace-deferred
      // retired leaves first so the exit numbers are the live store,
      // not transient debris awaiting its grace window
      graft.streaming.BandStore.reapRetired(spark, admStore, 0L)
      val (nFiles, nBytes) = du(admStore)
      val gauge = graft.streaming.BandStore.needsCompaction(spark, admStore)
      val cadence = spark.conf.get(
        graft.streaming.BandStore.CompactAfterBatchesConf, "64")
      // retire-grace adjudication line (VERDICT r16 #2): the soak's own
      // gauged slowest admission wall vs the configured floor and the
      // DERIVED grace the reaps actually bound to — the constant is now
      // measured, not assumed, and the artifact shows the measurement
      val probeWall = graft.streaming.BandStore.maxProbeWallMs(spark, admStore)
      val confGrace = spark.conf.get(
        graft.streaming.BandStore.RetireGraceConf, "60000").toLong
      val effGrace = math.max(confGrace, 2L * probeWall)
      println(s"""{"stress":"admit-soak","copies":$copies,"batches":$admBatches,"docs_per_batch":$perBatch,"compact_after":$cadence,"evict_every":$evictEvery,"admission_batch_secs":[${admSecs.map(s => math.round(s * 1000) / 1000.0).mkString(",")}],"admission_batch_loadavg":[${admLoads.map("\"" + _ + "\"").mkString(",")}],"dead_shares":${deadShares.mkString("[", ",", "]")},"gauge_listing_ms":${gaugeMs.mkString("[", ",", "]")},"compactions":$admCompactJson,"admitted":${spark.read.parquet(admOut).count()},"store_files":$nFiles,"store_bytes":$nBytes,"final_dead_share":${deadShare()},"needs_compaction":$gauge,"max_probe_wall_ms":$probeWall,"retire_grace_conf_ms":$confGrace,"effective_grace_ms":$effGrace,"loadavg_start":"$loadStart","loadavg_end":"$loadavg"}""")
      spark.stop()
      return
    }

    // --- planted boilerplate corpus (VERDICT r7 item 1): ~30% identical
    // docs; the guard must keep candidate count and wall time bounded ---
    val boilOut = s"$work/boiler"
    boilerize(spark, baseDir, boilOut)
    val (boilSec, boilRows) = timeOne("x2_minhash_lsh", boilOut)
    val (gCand, uCand) = candStats(spark, boilOut)
    isolatePhase()
    val bAdmStore = s"$work/boiler-admstore"
    val bAdmOut = s"$work/boiler-admout"
    val bDocs = spark.read.parquet(s"$boilOut/documents.parquet").persist()
    val bPer = bDocs.count() / 10
    require(bDocs.agg(max(col("doc_id"))).head.getLong(0) == bDocs.count() - 1,
      "admission slicing requires contiguous doc_ids from 0")
    val boilAdmSecs = (0 until 10).map { b =>
      val batch = bDocs.filter(col("doc_id") >= b * bPer && col("doc_id") < (b + 1) * bPer)
      val t0 = System.nanoTime()
      graft.streaming.BandStore.admitBatch(batch, b.toLong, bAdmStore, bAdmOut)
      (System.nanoTime() - t0) / 1e9
    }
    val boilAdmitted = spark.read.parquet(bAdmOut).count()
    bDocs.unpersist()
    // local-iteration escape hatch: reproduce the two admission loops
    // (with their full query preamble — the JVM state under test) and
    // stop, instead of paying the whole 15-minute suite per experiment.
    // Recorded STRESS artifacts never set this.
    if (sys.env.contains("SPARK_GRAFT_STRESS_ADMIT_ONLY")) {
      println(s"""{"stress":"admit-only","admission_batch_secs":[${admSecs.map(s => math.round(s * 1000) / 1000.0).mkString(",")}],"boiler_admission_batch_secs":[${boilAdmSecs.map(s => math.round(s * 1000) / 1000.0).mkString(",")}],"admitted":${spark.read.parquet(admOut).count()},"boiler_admitted":$boilAdmitted,"loadavg_start":"$loadStart","loadavg_end":"$loadavg"}""")
      spark.stop()
      return
    }

    // --- planted embedding near-dups at cosine ≥ 0.9 (r7 item 3): the
    // 8×8 narrow-bucket geometry measured in its operating regime ---
    val embBase = s"$work/embplant-base"
    val embBig = s"$work/embplant-x10"
    val plantedBase = plantEmbeddings(spark, baseOut, embBase)
    val plantedBig = plantEmbeddings(spark, bigOut, embBig)
    def timeEmb(dir: String): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = graft.operators.Dedup.x2EmbeddingLshAt(spark, dir, 8, 8, 0.9).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (ebSec, ebRows) = timeEmb(embBase)
    val (exSec, exRows) = timeEmb(embBig)

    // --- the corpus-size-auto-sized geometry (X2d'') on the same
    // planted corpora: ONE call, correctly sized at both scales — pairs
    // must track the planted count and the chosen geometry must widen
    // with n ---
    def timeEmbAuto(dir: String): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = graft.operators.Dedup.x2EmbeddingLshAuto(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (abSec, abRows) = timeEmbAuto(embBase)
    val (axSec, axRows) = timeEmbAuto(embBig)
    // second interleaved sample of the x10 cell (VERDICT r12 #2): the
    // r12 artifact's single 21.7 s sample was unadjudicable from the
    // artifact alone — with two samples a contention burst shows as one
    // inflated sample among normal ones
    val (axSec2, _) = timeEmbAuto(embBig)
    def geomOf(dir: String): String = {
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val (b, p) = graft.operators.Dedup.embeddingGeometry(n)
      // record the crossover's arm choice next to the geometry — at base
      // scale the law takes the exact product (far fraction 0.32 at
      // 12x5), at x10 the banded arm engages (0.05 at 25x9)
      val arm = if (graft.operators.Dedup.lshBeatsBrute(b, p)) "lsh" else "brute"
      s"${b}x$p:$arm"
    }
    val (abGeom, axGeom) = (geomOf(embBase), geomOf(embBig))
    // candidate-stage accounting for the banded x10 arm: the measured
    // prune ratio whose analytic >=5x floor licensed the banded plan —
    // a wall-time jump with the prune intact is environment, a collapsed
    // prune is a real sizing-law failure
    val (_, axCand, axAll, axPrune) = embCandStats(spark, embBig)

    // --- the end-to-end composite at scale (r7 item 5): the heaviest
    // real-user query measured whole, not inferred from its parts — on
    // the ×10 corpus (runtime must track data, not data²) and on the
    // 30%-boilerplate corpus (the skew shape all three stages guard) ---
    def timeCorpusBuild(dir: String, store: Option[String] = None): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = graft.operators.Dags.dagCorpusBuildFrom(spark, dir, store).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (cbBaseSec, cbBaseRows) = timeCorpusBuild(baseOut)
    val (cbX10Sec, cbX10Rows) = timeCorpusBuild(bigOut)
    val (cbBoilSec, cbBoilRows) = timeCorpusBuild(boilOut)
    // the label-store split of the same composite: one pipeline build,
    // then the consumer reads labels instead of recomputing them — the
    // production shape for N consumers of one dedup artifact
    val labelStore = s"$work/labelstore"
    val tStoreBuild = System.nanoTime()
    graft.operators.LabelStore.build(spark, bigOut, labelStore)
    val storeBuildSec = (System.nanoTime() - tStoreBuild) / 1e9
    val (cbViaStoreSec, cbViaStoreRows) = timeCorpusBuild(bigOut, Some(labelStore))
    require(cbViaStoreRows == cbX10Rows,
      s"store-backed composite diverged: $cbViaStoreRows vs $cbX10Rows")

    // --- incremental label maintenance (X2e''): build the store on 9/10
    // of the x10 corpus, append the last tenth through the incremental
    // path — per-append cost must track the batch and its candidates,
    // never the corpus, and the merged labels must equal a full build ---
    val incStore = s"$work/labelstore-inc"
    val bigDocs = spark.read.parquet(s"$bigOut/documents.parquet")
    val tIncB = System.nanoTime()
    graft.operators.LabelStore.buildDocs(bigDocs.filter(col("doc_id") % 10 =!= 7), incStore)
    val incBuildSec = (System.nanoTime() - tIncB) / 1e9
    val tIncA = System.nanoTime()
    val incMode = graft.operators.LabelStore.ensureCurrentIncremental(spark, bigOut, incStore)
    val incAppendSec = (System.nanoTime() - tIncA) / 1e9
    require(incMode == "incremental", s"expected the incremental path, ran '$incMode'")
    val incLabels = graft.operators.LabelStore.read(spark, incStore)
    val fullLabels = graft.operators.LabelStore.read(spark, labelStore)
    require(incLabels.exceptAll(fullLabels).isEmpty && fullLabels.exceptAll(incLabels).isEmpty,
      "incremental labels diverged from the full build")
    val incAppendedDocs = bigDocs.filter(col("doc_id") % 10 === 7).count()

    // --- incremental label DELETE (X2e''', round 10): two takedowns
    // against the full x10 store — 0.1% then a further 1% of the corpus.
    // The tombstone path pays one digest classification pass plus a
    // re-fixpoint of only the TOUCHED components, so both deletes must
    // cost a small fraction of the full rebuild (storeBuildSec), and the
    // 10x-larger second delete must scale with its touched membership,
    // not the corpus ---
    val delCorpus1 = bigDocs.filter(col("doc_id") % 1000 =!= 3)
    val labelDel1 = bigDocs.count() - delCorpus1.count()
    val tDel1 = System.nanoTime()
    val delMode1 = graft.operators.LabelStore.ensureIncrementalDocs(delCorpus1, labelStore)
    val labelDelSec1 = (System.nanoTime() - tDel1) / 1e9
    require(delMode1 == "incremental-delete", s"expected the delete path, ran '$delMode1'")
    val delCorpus2 = delCorpus1.filter(col("doc_id") % 100 =!= 7)
    val labelDel2 = delCorpus1.count() - delCorpus2.count()
    val tDel2 = System.nanoTime()
    val delMode2 = graft.operators.LabelStore.ensureIncrementalDocs(delCorpus2, labelStore)
    val labelDelSec2 = (System.nanoTime() - tDel2) / 1e9
    require(delMode2 == "incremental-delete", s"expected the delete path, ran '$delMode2'")
    // and the maintained store equals a from-scratch build on what
    // remains — the correctness half of the stress claim
    val delScratch = s"$work/labelstore-delscratch"
    graft.operators.LabelStore.buildDocs(delCorpus2, delScratch)
    locally {
      val a = graft.operators.LabelStore.read(spark, labelStore)
      val b = graft.operators.LabelStore.read(spark, delScratch)
      require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "deleted labels diverged from the from-scratch build")
    }

    // --- materialized IVF index (X3c'): the index is a build artifact;
    // the store-served probe must beat rebuilding the index inside the
    // query, at identical output ---
    val ivfStore = s"$work/ivfstore"
    spark.catalog.clearCache()
    val tIvfD = System.nanoTime()
    val ivfDirect = graft.operators.Similarity.x3AnnIvf(spark, bigOut)
    val ivfDirectRows = ivfDirect.count()
    val ivfDirectSec = (System.nanoTime() - tIvfD) / 1e9
    val tIvfB = System.nanoTime()
    graft.operators.IvfStore.build(spark, bigOut, ivfStore)
    val ivfBuildSec = (System.nanoTime() - tIvfB) / 1e9
    spark.catalog.clearCache()
    val tIvfP = System.nanoTime()
    val ivfProbe = graft.operators.IvfStore.probe(spark, bigOut, ivfStore)
    val ivfProbeRows = ivfProbe.count()
    val ivfProbeSec = (System.nanoTime() - tIvfP) / 1e9
    require(ivfProbe.exceptAll(ivfDirect).isEmpty && ivfProbeRows == ivfDirectRows,
      "store-served IVF probe diverged from the self-contained query")

    val ivfScaleJson = ivfScaleCycle(spark, bigOut, work,
      sys.env.getOrElse("SPARK_GRAFT_STRESS_IVF_COPIES", "50").toInt)

    // --- log-driven date-store ingestion (round-10 §15): per-batch
    // cost must track the BATCH (a new day) or the touched DAY (a late
    // restate) — never the history. Ten 100k-row day-batches land into
    // a store growing 100k → 1M rows, then two 10k-row late batches
    // restate day 1 (cost = re-land that one ~100k-row day) ---
    spark.catalog.clearCache(); System.gc()
    val ingStoreRoot = new org.apache.hadoop.fs.Path(s"$work/date-ingest")
    val ingFs = ingStoreRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ingFs.exists(ingStoreRoot)) ingFs.delete(ingStoreRoot, true)
    val ingestStore = s"$work/date-ingest/store"
    def dayFrame(day: Int, lo: Long, hi: Long) =
      spark.range(lo, hi).select(
        col("id").as("event_id"),
        to_timestamp(lit(f"2024-03-$day%02d 12:00:00")).as("ts"),
        pmod(col("id"), lit(997)).as("user_id"),
        concat(lit("t"), pmod(col("id"), lit(5))).as("event_type"),
        (pmod(col("id"), lit(1000)) / 10.0).as("value"),
        md5(col("id").cast("string")).as("props"))
    val dayRows = 100000L
    var ingBid = 0L
    val ingestNewSecs = (1 to 10).map { d =>
      val t0 = System.nanoTime()
      val m = graft.sources.DateStore.appendEvents(
        dayFrame(d, (d - 1) * dayRows, d * dayRows), ingestStore, ingBid)
      ingBid += 1
      require(m == (if (d == 1) "append-initial" else "append"),
        s"ingest day $d ran '$m'")
      (System.nanoTime() - t0) / 1e9
    }
    val ingestRestateSecs = (1 to 2).map { r =>
      val lo = 2000000L + r * 10000L
      val t0 = System.nanoTime()
      val m = graft.sources.DateStore.appendEvents(
        dayFrame(1, lo, lo + 10000L), ingestStore, ingBid)
      ingBid += 1
      require(m == "append", s"ingest restate $r ran '$m'")
      (System.nanoTime() - t0) / 1e9
    }
    val ingestRows = graft.sources.DateStore.readEvents(spark, ingestStore).count()
    require(ingestRows == 10 * dayRows + 20000L,
      s"ingested store holds $ingestRows rows")

    // --- skew join under AQE (VERDICT r9 item 7): a Zipf-hot fact key
    // against a dim too large to broadcast. 30% of 20M fact rows land on
    // ONE key, so one shuffle partition of the sort-merge join carries
    // ~6M rows while the median carries ~0.4M — the OptimizeSkewedJoin
    // shape. The skew thresholds are scaled to the stress volume
    // (default 256 MB trigger ÷ ~32, matching how the 100 TB deployment
    // leaves them at default against multi-GB partitions); the claims
    // under test: AQE actually splits the hot partition (the executed
    // plan says skew=true), and the split run beats the split-disabled
    // one on the same data. Two hard-won probe findings baked in here:
    // (a) the flag must be read AFTER executing the dataset's OWN
    // QueryExecution — Dataset.head runs a separate limit(1) execution,
    // leaving joined.queryExecution at isFinalPlan=false with no skew
    // markers no matter what AQE did (collect() executes the plan the
    // check reads); (b) detection compares COMPRESSED shuffle-partition
    // bytes against max(threshold, factor × median), and a constant hot
    // key with small cyclic values run-length-compresses so well the hot
    // partition missed 5×median — the factor scales down with the other
    // thresholds (÷~2.5 as they are ÷32), and the value column is a
    // 64-bit hash so partition bytes track row counts ---
    spark.catalog.clearCache(); System.gc()
    val nFact = 20000000L
    val nDim = 5000000L
    def skewRun(split: Boolean): (Double, Long, Boolean) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", split)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      try {
        val fact = spark.range(nFact).select(
          when(col("id") % 10 < 3, 0L)
            .otherwise(pmod(xxhash64(col("id")), lit(nDim))).as("k"),
          xxhash64(col("id")).as("v"))
        val dim = spark.range(nDim).select(col("id").as("k"),
          md5(col("id").cast("string")).as("payload"))
        val joined = fact.join(dim, Seq("k"))
          .agg(count(lit(1)).as("n"),
            sum(pmod(col("v"), lit(97)) + length(col("payload"))).as("chk"))
        val t0 = System.nanoTime()
        val row = joined.collect().head
        val sec = (System.nanoTime() - t0) / 1e9
        val skewed = joined.queryExecution.executedPlan.toString.contains("skew=true")
        (sec, row.getLong(0), skewed)
      } finally {
        Seq("spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes").foreach(spark.conf.unset)
      }
    }
    val (skewOffSec, skewOffRows, _) = skewRun(split = false)
    val (skewOnSec, skewOnRows, skewSplit) = skewRun(split = true)
    require(skewOnRows == nFact && skewOffRows == nFact,
      s"skew join lost rows: on=$skewOnRows off=$skewOffRows expected $nFact")
    require(skewSplit, "AQE did not split the skewed partition (no skew=true in the plan)")

    // --- clustering at scale (r7 item 1): a synthetic 11M-pair graph —
    // 160k chains of 64 (worst diameter) plus 2k 32-cliques (pair
    // volume) — through the SAME clusterPairs as the fixture path; the
    // derived partition count and the logarithmic round count are the
    // claims under test ---
    // phase isolation: drop cached plans and give the ContextCleaner a
    // chance to reap earlier phases' localCheckpoint blocks before the
    // 22M-edge fixpoint — without it the accumulated store/label phases
    // inflate this row ~75% through memory pressure alone
    spark.catalog.clearCache()
    System.gc()
    val chainPairs10m = spark.range(0L, 10160128L)
      .filter(col("id") % 64 =!= 63)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val cliqueBase = 100000000L
    val cliquePairs = spark.range(0L, 2000L).select(col("id").as("c"))
      .crossJoin(spark.range(0L, 32L).select(col("id").as("i")))
      .crossJoin(spark.range(0L, 32L).select(col("id").as("j")))
      .filter(col("i") < col("j"))
      .select((lit(cliqueBase) + col("c") * 32 + col("i")).as("doc_a"),
        (lit(cliqueBase) + col("c") * 32 + col("j")).as("doc_b"))
    val bigPairs = chainPairs10m.unionByName(cliquePairs)
    val tBig = System.nanoTime()
    val (bigLabels, bigRounds) = graft.operators.Dedup.clusterPairs(bigPairs)
    val bigClusters = bigLabels.select(col("cluster_rep")).distinct().count()
    val bigClusterSec = (System.nanoTime() - tBig) / 1e9
    val bigEdgeCount = 2L * (10001376L + 2000L * 496L)
    val bigParts = graft.operators.Dedup.edgePartitions(bigEdgeCount)
    // the scale row must also be RIGHT: 158,752 chains + 2,000 cliques
    require(bigClusters == 160752L, s"11M-pair clustering found $bigClusters components")

    // --- long-chain clustering (r7 item 6): 256-doc pure chain, the
    // worst diameter shape — propagation must stay logarithmic ---
    val chainDir = s"$work/chain"
    locally {
      import spark.implicits._
      (0 until 256).map(i =>
          (i.toLong, (0 until 40).map(j => s"w${4 * i + j}").mkString(" ")))
        .toDF("doc_id", "text")
        .withColumn("source", lit("s")).withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(8)
        .write.mode(SaveMode.Overwrite).parquet(s"$chainDir/documents.parquet")
    }
    val tChain = System.nanoTime()
    val chainPairs = graft.operators.Dedup.x2MinHashLsh(spark, chainDir)
      .select(col("doc_a"), col("doc_b")).persist()
    val chainEdges = chainPairs.count()
    // this row exists to prove the DISTRIBUTED fixpoint stays
    // logarithmic on the worst diameter shape — keep the tiny chain off
    // the driver union-find fast path
    spark.conf.set(graft.operators.Dedup.DriverMaxEdgesConf, "0")
    val (chainLabels, chainRounds) = try graft.operators.Dedup.clusterPairs(chainPairs)
      finally spark.conf.unset(graft.operators.Dedup.DriverMaxEdgesConf)
    val chainClusters = chainLabels.select(col("cluster_rep")).distinct().count()
    val chainSec = (System.nanoTime() - tChain) / 1e9

    def cnt(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    val qs = stats.map { case (n, (bs, xs, br, xr)) =>
      f""""$n":{"base_sec":$bs%.3f,"x10_sec":$xs%.3f,"ratio":${xs / bs}%.2f,"base_rows":$br,"x10_rows":$xr}"""
    }.mkString("{", ",", "}")
    val admJson = admSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    val boilAdmJson = boilAdmSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    println(s"""{"stress":"dedup${copies}x","loadavg_start":"$loadStart","loadavg_end":"$loadavg","copies":$copies,"compactions":$admCompactJson,""" +
      s""""base_docs":${cnt(baseOut, "documents")},"x10_docs":${cnt(bigOut, "documents")},""" +
      s""""base_vecs":${cnt(baseOut, "embeddings")},"x10_vecs":${cnt(bigOut, "embeddings")},""" +
      s""""admission_batch_secs":$admJson,""" +
      s""""admitted":${spark.read.parquet(admOut).count()},""" +
      s""""queries":$qs,""" +
      f""""boiler":{"docs":${cnt(boilOut, "documents")},"minhash_sec":$boilSec%.3f,"pairs":$boilRows,""" +
      f""""cand_guarded":$gCand,"cand_unguarded":$uCand,""" +
      s""""admission_batch_secs":$boilAdmJson,"admitted":$boilAdmitted},""" +
      f""""embplant":{"planted_base":$plantedBase,"planted_x10":$plantedBig,""" +
      f""""base_sec":$ebSec%.3f,"base_pairs":$ebRows,"x10_sec":$exSec%.3f,"x10_pairs":$exRows,""" +
      f""""time_ratio":${exSec / ebSec}%.2f,"pair_ratio":${exRows.toDouble / math.max(ebRows, 1)}%.2f},""" +
      f""""embauto":{"base_geom":"$abGeom","x10_geom":"$axGeom",""" +
      f""""base_sec":$abSec%.3f,"base_pairs":$abRows,"x10_sec":$axSec%.3f,"x10_sec2":$axSec2%.3f,"x10_pairs":$axRows,""" +
      f""""x10_cand":$axCand,"x10_allpairs":$axAll,"x10_prune":$axPrune%.1f,"prune_floor":5,""" +
      f""""time_ratio":${axSec / abSec}%.2f,"pair_ratio":${axRows.toDouble / math.max(abRows, 1)}%.2f},""" +
      f""""corpus_build":{"base_sec":$cbBaseSec%.3f,"base_rows":$cbBaseRows,""" +
      f""""x10_sec":$cbX10Sec%.3f,"x10_rows":$cbX10Rows,"time_ratio":${cbX10Sec / cbBaseSec}%.2f,""" +
      f""""boiler_sec":$cbBoilSec%.3f,"boiler_rows":$cbBoilRows,""" +
      f""""label_store_build_sec":$storeBuildSec%.3f,"via_store_sec":$cbViaStoreSec%.3f},""" +
      f""""label_inc":{"base_build_sec":$incBuildSec%.3f,"append_sec":$incAppendSec%.3f,""" +
      f""""appended_docs":$incAppendedDocs,"full_build_sec":$storeBuildSec%.3f},""" +
      f""""ivf_store":{"direct_sec":$ivfDirectSec%.3f,"build_sec":$ivfBuildSec%.3f,""" +
      f""""probe_sec":$ivfProbeSec%.3f,"rows":$ivfProbeRows},""" +
      s"""$ivfScaleJson,""" +
      f""""label_del":{"deleted_1":$labelDel1,"sec_1":$labelDelSec1%.3f,""" +
      f""""deleted_2":$labelDel2,"sec_2":$labelDelSec2%.3f,"full_build_sec":$storeBuildSec%.3f},""" +
      s""""date_ingest":{"day_rows":$dayRows,""" +
      s""""new_day_secs":${ingestNewSecs.map(s => f"$s%.3f").mkString("[", ",", "]")},""" +
      s""""restate_secs":${ingestRestateSecs.map(s => f"$s%.3f").mkString("[", ",", "]")},""" +
      s""""rows":$ingestRows},""" +
      f""""skew_join":{"fact":$nFact,"dim":$nDim,"rows":$skewOnRows,"skew_split":$skewSplit,""" +
      f""""split_sec":$skewOnSec%.3f,"no_split_sec":$skewOffSec%.3f},""" +
      f""""cluster11m":{"pairs":${10001376L + 2000L * 496L},"edges":$bigEdgeCount,""" +
      f""""partitions":$bigParts,"rounds":$bigRounds,"clusters":$bigClusters,"sec":$bigClusterSec%.3f},""" +
      f""""chain":{"docs":256,"edges":$chainEdges,"rounds":$chainRounds,"clusters":$chainClusters,"sec":$chainSec%.3f}}""")
    spark.stop()
  }
}
