package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.streaming.BandStore
import Fixtures.{admittedIds, admittedIn, template, tokens}

/** Round-7 pins: the LSH boilerplate-skew guard (exact pre-collapse +
  * per-bucket population cap, VERDICT r6 item 1), age-based store
  * compaction concurrent with admission (item 2), the ANN-pipeline
  * sorter-fallback engagement (item 7), and the long-chain cluster
  * convergence bound (item 6).
  */
class Round7Spec extends SparkSpec {

  test("X2 skew guard: planted boilerplate corpus — guarded LSH equals exact all-pairs") {
    // 3 templates × 12 identical copies (exact pre-collapse territory),
    // 6 near-identical-but-distinct docs off template 0 (J=10/11 vs the
    // template, 10/12 pairwise), 20 unique docs (no pairs)
    val docs =
      (0 until 36).map(i => (i.toLong, template(i % 3))) ++
      (0 until 6).map(i => ((100 + i).toLong, template(0) + s" uniq$i")) ++
      (0 until 20).map(i => ((200 + i).toLong, tokens(s"x${i}w", 8)))
    val dir = tmpDir("r7-boiler")
    writeDocs(docs, dir)
    val lsh = Dedup.x2MinHashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.x2Jaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact,
      s"guarded LSH must equal exact all-pairs: missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
    // sanity on the shape: 3 × C(12,2) within-group + template0 group
    // (12 copies) × 6 near-identicals + C(6,2) among near-identicals
    assert(exact.size == 3 * 66 + 12 * 6 + 15, s"fixture shape changed: ${exact.size}")
  }

  test("X2 skew guard: over-cap buckets star to the bucket min — subset of exact, clique stays one cluster") {
    // 12 DISTINCT near-identical docs (a J≈0.83 clique — the collapse
    // can't touch them) force the per-bucket population cap at cap=4
    val clique = (0 until 12).map(i => ((10 + i).toLong, template(0) + s" uniq$i"))
    val docs = clique ++ (0 until 8).map(i => ((900 + i).toLong, tokens(s"z${i}w", 8)))
    val dir = tmpDir("r7-cap")
    writeDocs(docs, dir)
    withConf(Dedup.BucketCapConf -> "4") {
      val lsh = Dedup.x2MinHashLsh(spark, dir)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Dedup.x2Jaccard(spark, dir)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh.nonEmpty && lsh.subsetOf(exact),
        s"star overflow may only drop pairs, never invent them: ${(lsh -- exact).take(5)}")
      // the overflow policy's contract: the clique remains ONE connected
      // component (every member reaches the min through star pairs), so
      // dedup clustering still collapses it to one representative
      import spark.implicits._
      val (labels, _) = Dedup.clusterPairs(
        lsh.toSeq.toDF("doc_a", "doc_b"))
      val reps = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(clique.map(_._1).forall(d => reps(d) == 10L),
        s"clique must cluster to doc 10: $reps")
    }
  }

  test("T11 skew guard: boilerplate batch pre-collapses before signing; admission = greedy min-id") {
    import spark.implicits._
    val store = tmpDir("r7-admstore")
    val out = tmpDir("r7-admout")
    def frame(docs: Seq[(Long, String)]): DataFrame =
      docs.toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    // batch 0: 10 identical copies of template 1 + two unique docs
    val b0 = (0 until 10).map(i => (i.toLong, template(1))) ++
      Seq((100L, tokens("aw", 8)), (101L, tokens("bw", 8)))
    BandStore.admitBatch(frame(b0), 0L, store, out)
    val admitted0 = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted0 == Set(0L, 100L, 101L),
      s"only the min-id template rep and the uniques survive: $admitted0")
    // batch 1: 5 more copies of template 1 (exact vs store rep) + one
    // near-identical variant (J=10/11 vs stored template) + one unique
    val b1 = (0 until 5).map(i => ((200 + i).toLong, template(1))) ++
      Seq((300L, template(1) + " uniqX"), (301L, tokens("cw", 8)))
    BandStore.admitBatch(frame(b1), 1L, store, out)
    val admitted1 = spark.read.parquet(out)
      .filter(col("__batch") === 1L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted1 == Set(301L),
      s"store dups (exact AND near) must all drop: $admitted1")
  }

  test("compactStore(minLiveBatch) concurrent with admission equals serial admission") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").persist()
    def batchOf(b: Int): DataFrame =
      docs.filter(col("doc_id") >= b * 125 && col("doc_id") < (b + 1) * 125)

    // serial reference: 4 batches, no compaction
    val (storeA, outA) = (tmpDir("r7-serA"), tmpDir("r7-serA-out"))
    (0 until 4).foreach(b => BandStore.admitBatch(batchOf(b), b.toLong, storeA, outA))

    // concurrent: admit 0,1; then compact batches < 2 WHILE admitting 2,3.
    // Manifest-pinned reads (VERDICT r15 #2): a probe resolves its file
    // listing from the tree's `.live` manifest and retirement DEFERS the
    // physical delete by the retire grace — so a probe racing the
    // retirement reads intact files and admission needs ZERO retries.
    // The retry budget that used to absorb the listing race is gone on
    // purpose: any retry here is a regression of the pinning discipline.
    val (storeB, outB) = (tmpDir("r7-conB"), tmpDir("r7-conB-out"))
    (0 until 2).foreach(b => BandStore.admitBatch(batchOf(b), b.toLong, storeB, outB))
    val compactor = new Thread(() => BandStore.compactStore(spark, storeB, 2L))
    compactor.start()
    var retries = 0
    (2 until 4).foreach { b =>
      def attempt(left: Int): Unit =
        try BandStore.admitBatch(batchOf(b), b.toLong, storeB, outB)
        catch { case scala.util.control.NonFatal(e) =>
          retries += 1
          if (left <= 0) throw e else attempt(left - 1) }
      attempt(4)
    }
    compactor.join()
    assert(retries == 0,
      s"manifest-pinned probes must not race retirement: $retries retries consumed")
    assert(admittedIds(spark, outA) == admittedIds(spark, outB),
      "admission decisions must be interleaving-invariant under compaction")
    // live batches were never touched: 2 and 3 still sit in their own
    // partitions; 0 and 1 were merged into the base generation
    val bandBatches =
      BandStore.liveBatchIds(spark, BandStore.bandsDir(storeB)).toSet
    assert(bandBatches == Set(BandStore.BaseBatch, 2L, 3L), s"got $bandBatches")

    // and the compacted store still drives identical future decisions
    val probe = docs.filter(col("doc_id") >= 0 && col("doc_id") < 500)
    val (o2a, o2b) = (tmpDir("r7-probeA"), tmpDir("r7-probeB"))
    BandStore.admitBatch(probe, 9L, storeA, o2a)
    BandStore.admitBatch(probe, 9L, storeB, o2b)
    assert(admittedIds(spark, o2a) == admittedIds(spark, o2b), "post-compaction probe decisions diverged")
    docs.unpersist()
  }

  test("compaction crash debris: trash purged, duplicated rows decision-neutral, lone base no-op") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val (store, out) = (tmpDir("r7-debris"), tmpDir("r7-debris-out"))
    def frame(docs: Seq[(Long, String)]): DataFrame =
      docs.toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    BandStore.admitBatch(frame((0 until 8).map(i => (i.toLong, tokens(s"da$i", 10)))),
      0L, store, out)
    BandStore.admitBatch(frame((0 until 8).map(i => ((100 + i).toLong, tokens(s"db$i", 10)))),
      1L, store, out)
    // simulate a compaction that crashed between PUBLISH and RETIRE:
    // batch 0's rows are also visible under a published base generation,
    // and a retirement rename left a dot-prefixed trash dir behind
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = Seq(BandStore.bandsDir(store), BandStore.sigsDir(store))
    dirs.foreach { dir =>
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      FileUtil.copy(fs, new Path(p, "__batch=0"), fs, new Path(p, "__batch=-1"), false, conf)
      fs.mkdirs(new Path(p, ".trash-leftover"))
    }
    // decisions over the debris store are unchanged: an exact dup of a
    // batch-0 doc (visible TWICE, under __batch=0 and the base) drops
    // once, the fresh doc is admitted — candidates/drops are distinct'd
    val b2 = Seq((500L, tokens("da0", 10)), (501L, tokens("zw", 10)))
    BandStore.admitBatch(frame(b2), 2L, store, out)
    def admitted2: Set[Long] = admittedIn(spark, out, 2L)
    assert(admitted2 == Set(501L), s"debris changed a decision: $admitted2")
    // compaction below the live watermark purges the trash and merges
    // batches {−1, 0, 1} into one new base generation with no duplicate
    // rows left
    BandStore.compactStore(spark, store, 2L)
    // force-reap at grace 0 (true quiesce): the physical assertions below
    // check the REAPED layout — retirement itself only switches the
    // manifest and defers deletion, and the markerless `__batch=-1`
    // debris is reconciled as a crashed-publish orphan
    BandStore.reapRetired(spark, store, 0L)
    dirs.foreach { dir =>
      val names = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(!names.exists(_.startsWith(".trash-")), s"trash not purged: $names")
      assert(names.filter(_.startsWith("__batch=")) == Set("__batch=-2", "__batch=2"),
        s"unexpected generations in $dir: $names")
      val base = spark.read.parquet(dir).filter(col("__batch") === -2L).drop("__batch")
      assert(base.count() == base.distinct().count(), "duplicate rows survived compaction")
    }
    // replaying the live batch against the compacted store is idempotent
    BandStore.admitBatch(frame(b2), 2L, store, out)
    assert(admitted2 == Set(501L))
    // a second compaction at the same watermark sees one lone base
    // generation and must not churn it
    BandStore.compactStore(spark, store, 2L)
    dirs.foreach { dir =>
      val batches = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("__batch=")).toSet
      assert(batches == Set("__batch=-2", "__batch=2"), s"lone base churned: $batches")
    }
  }

  test("replay of a live batch after age-based compaction recomputes the identical decision") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def batchOf(b: Int): DataFrame =
      docs.filter(col("doc_id") >= b * 125 && col("doc_id") < (b + 1) * 125)
    val (store, out) = (tmpDir("r7-replay"), tmpDir("r7-replay-out"))
    (0 until 3).foreach(b => BandStore.admitBatch(batchOf(b), b.toLong, store, out))
    val before = spark.read.parquet(out).filter(col("__batch") === 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // compact everything the checkpoint could no longer replay (< 2),
    // then replay the LIVE batch 2 — the one crash recovery could re-run
    BandStore.compactStore(spark, store, 2L)
    BandStore.admitBatch(batchOf(2), 2L, store, out)
    val after = spark.read.parquet(out).filter(col("__batch") === 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(before == after, "replay after compaction must be idempotent")
  }

  test("full ANN pipeline at high query cardinality engages the top-k sorter fallback") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def deep(p: SparkPlan): Seq[graft.plans.TopKPerGroupExec] = p match {
      case a: AdaptiveSparkPlanExec        => deep(a.executedPlan)
      case s: QueryStageExec               => deep(s.plan)
      case t: graft.plans.TopKPerGroupExec => t +: t.children.flatMap(deep)
      case o                               => o.children.flatMap(deep)
    }
    val dir = "/root/testdata/sf0.01"
    // every vector is a query: 500 top-k groups through the real banded
    // pipeline; with the hash budget capped at 64 keys the final top-k
    // must divert to the UnsafeKVExternalSorter lane instead of OOMing
    val capped = withConf("spark.graft.topk.fallbackThreshold" -> "64") {
      val df = Similarity.annTopKAll(spark, dir, 500L)
      val rows = df.collect()
      val fallbacks = deep(df.queryExecution.executedPlan)
        .map(_.metrics("sortFallbackRows").value).sum
      assert(fallbacks > 0, "the sorter fallback lane must have engaged")
      rows
    }
    // and the fallback lane is exact: identical output with an
    // effectively-unbounded hash budget
    val unbounded = Similarity.annTopKAll(spark, dir, 500L).collect()
    assert(capped.map(_.toString).sorted.toSeq == unbounded.map(_.toString).sorted.toSeq,
      "fallback lane must not change ANN results")
  }

  test("X2e: 64-doc near-dup chain clusters in O(log diameter) propagation rounds") {
    // doc i = tokens w(4i)..w(4i+39): consecutive docs overlap at
    // J = 34/42 ≈ 0.81 (an edge), distance-2 at 30/46 ≈ 0.65 (no edge) —
    // a pure 63-hop chain, the worst diameter shape for propagation
    val docs = (0 until 64).map(i =>
      (i.toLong, (0 until 40).map(j => s"w${4 * i + j}").mkString(" ")))
    val dir = tmpDir("r7-chain")
    writeDocs(docs, dir)
    val pairs = Dedup.x2MinHashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    assert(pairs.count() == 63, "exactly the 63 consecutive chain edges")
    // this test pins the DISTRIBUTED fixpoint's convergence class — keep
    // the measured-small graph off the driver union-find fast path
    spark.conf.set(Dedup.DriverMaxEdgesConf, "0")
    val (labels, rounds) = try Dedup.clusterPairs(pairs)
      finally spark.conf.unset(Dedup.DriverMaxEdgesConf)
    val reps = labels.collect().map(r => r.getLong(1)).toSet
    assert(reps == Set(0L), s"one cluster rooted at doc 0, got reps $reps")
    // pointer doubling squares the reach each round: ⌈log₂ 63⌉ = 6 plus
    // the fixpoint-detection round and slack — far under the 63 rounds
    // one-hop propagation would need
    assert(rounds <= 10, s"expected O(log diameter) convergence, took $rounds rounds")
  }

  test("X2d: vector-collapsed embedding LSH equals the quadratic form on duplicate vectors") {
    // 10 identical copies of u, 5 near-copies at cosine ≈ 0.99995
    // (balanced ±1% scaling), 20 mutually-orthogonal basis vectors —
    // the collapse engages (identical vectors exist) and the 8×8
    // geometry catches every ≥0.9 pair, so guarded output == all-pairs
    import spark.implicits._
    val u = (0 until 64).map(j => 1.0f + 0.1f * (j % 7))
    val near = (0 until 5).map { i =>
      u.zipWithIndex.map { case (v, j) => v * (1.0f + 0.01f * (if ((j + i) % 2 == 0) 1 else -1)) }
    }
    val basis = (0 until 20).map(i => (0 until 64).map(j => if (j == i) 5.0f else 0.0f))
    val vecs: Seq[(Long, Seq[Float])] =
      (0 until 10).map(i => (i.toLong, u)) ++
      near.zipWithIndex.map { case (v, i) => ((100 + i).toLong, v) } ++
      basis.zipWithIndex.map { case (v, i) => ((200 + i).toLong, v) }
    val dir = tmpDir("r7-emb-dup")
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0)).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val lsh = Dedup.x2EmbeddingLshAt(spark, dir, 8, 8, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.dotF64(col("e"), col("e"))))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", round(
        graft.functions.VectorFunctions.dotF64(col("a.e"), col("b.e")) /
          (col("a.norm") * col("b.norm")), 6))
      .filter(col("cosine") >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact,
      s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
    // C(10,2) identical + 10×5 copy-to-near + C(5,2) near-to-near
    assert(exact.size == 45 + 50 + 10, s"fixture shape changed: ${exact.size}")
  }

  test("X2c: fp-collapsed SimHash partner counts equal the quadratic form on boilerplate") {
    // 3 templates × 12 identical copies + near-identicals + uniques: the
    // fp-distinct band join must reproduce the doc-level quadratic count
    // exactly (identical texts ⇒ identical fps ⇒ hamming-0 partners)
    val docs =
      (0 until 36).map(i => (i.toLong, template(i % 3))) ++
      (0 until 6).map(i => ((100 + i).toLong, template(0) + s" uniq$i")) ++
      (0 until 20).map(i => ((200 + i).toLong, tokens(s"x${i}w", 8)))
    val dir = tmpDir("r7-simhash-boiler")
    writeDocs(docs, dir)
    val out = Dedup.x2SimHash(spark, dir)
      .select(col("doc_id"), col("n_near")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val fp = Dedup.x2SimHashPortable(spark, dir).persist()
    val quad = fp.as("a").join(fp.as("b"),
        col("a.doc_id") =!= col("b.doc_id")
          && bit_count(col("a.fp").bitwiseXOR(col("b.fp"))) <= 3)
      .groupBy(col("a.doc_id").as("doc_id")).agg(count(lit(1)).as("n_near"))
    val ref = fp.select(col("doc_id")).join(quad, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_near"), lit(0L)).as("n_near"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    fp.unpersist()
    assert(out == ref,
      s"diff: ${(ref.toSet -- out.toSet).take(5)} vs ${(out.toSet -- ref.toSet).take(5)}")
    // the fixture genuinely exercises the collapse: identical-text groups
    // of 12 must report ≥ 11 partners each
    assert((0 until 36).forall(i => out(i.toLong) >= 11), out.take(8).toString)
  }

  test("X4j: repetition signals match hand-computed values; fixture keeps are mixed") {
    // doc 1 "a b a b a b a b": 7 bigrams ("a b"×4, "b a"×3) → top
    // 4/7 ≈ 0.571429; all 6 trigrams occur ≥2× → dup mass 1.0 → drop.
    // doc 2: 30 distinct tokens → top bigram 1/29 ≈ 0.034483, zero
    // duplicated trigrams → keep. doc 0 (2 tokens) is under the 3-token
    // floor and must be absent.
    val docs = Seq(
      (0L, "a b"),
      (1L, Seq.fill(4)("a b").mkString(" ")),
      (2L, tokens("w", 30)))
    val dir = tmpDir("r7-rep")
    writeDocs(docs, dir)
    val out = graft.operators.TextAnalysis.x4Repetition(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 0.571429, 1.0, false),
      (2L, 0.034483, 0.0, true)), s"got ${out.toSeq}")
    // on the fixture corpus the 0.05 gates genuinely split the docs —
    // the filter is a decision, not a constant
    val fxDf = graft.operators.TextAnalysis.x4Repetition(spark, sfDir)
    val fx = fxDf.groupBy(col("keep")).count().collect().map(r => r.getBoolean(0)).toSet
    assert(fx == Set(true, false), s"fixture keep outcomes: $fx")
    // plan pins: the scan reads only (doc_id, text) — no n_chars/source/
    // lang columns for a 2-column consumer — and the gram aggregate is
    // two-phase (partial map-side before its exchange), so a repetitive
    // doc's gram rows collapse BEFORE they shuffle
    val p = fxDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
    val exec = fxDf.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(exec).size >= 4, exec.take(800))
  }

  test("X2d'': auto-sized embedding LSH finds every planted twin and sizes with the corpus") {
    // positive path for the corpus-size-derived geometry: 40 base
    // near-orthogonal vectors, each 4th with a planted twin at cosine
    // ≈ 0.9999 — auto geometry must equal the quadratic ≥0.9 form
    import spark.implicits._
    val base = (0 until 40).map { i =>
      (0 until 64).map(j => if (j == i) 4.0f else if (j == 63) 0.3f * (i % 5) else 0.0f)
    }
    // per-dim ±2% perturbation, not a scalar multiple — a parallel twin
    // would share the exact sign signature and prove nothing about the
    // banding
    val twins = (0 until 40 by 4).map { i =>
      (1000 + i, base(i).zipWithIndex.map { case (v, j) =>
        v * (if (j % 2 == 0) 1.02f else 0.98f)
      })
    }
    val vecs: Seq[(Long, Seq[Float])] =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      twins.map { case (id, v) => (id.toLong, v: Seq[Float]) }
    val dir = tmpDir("r7-emb-auto")
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0)).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val auto = Dedup.x2EmbeddingLshAuto(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.dotF64(col("e"), col("e"))))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", round(
        graft.functions.VectorFunctions.dotF64(col("a.e"), col("b.e")) /
          (col("a.norm") * col("b.norm")), 6))
      .filter(col("cosine") >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact,
      s"missing=${(exact -- auto).take(5)} extra=${(auto -- exact).take(5)}")
    assert(exact.size >= 10, s"fixture shape changed: ${exact.size}")
    // the sizing LAW, not its constants (ADVICE r7): bucket-value count
    // 2^planes tracks n/targetBucketPop within one doubling wherever the
    // clamp is not binding, planes clamp to [4, 12] and never shrink
    // with n, bands are non-decreasing in n (flatter per-band
    // probability must buy more bands), and the analytic recall bound
    // holds at every size — retuning targetBucketPop/recallFloor may
    // move the numbers, never break these
    val ns = Seq(500L, 2000L, 200000L, 20000000L)
    val geoms = ns.map(n => (n, Dedup.embeddingGeometry(n)))
    val perPlane = 1.0 - math.acos(0.9) / math.Pi
    geoms.foreach { case (n, (bands, planes)) =>
      assert(planes >= 4 && planes <= 12, s"n=$n planes=$planes outside clamp")
      if (planes > 4 && planes < 12) {
        val pop = n.toDouble / (1L << planes)
        assert(pop <= 64 && pop > 16, // target 64: within one doubling below
          s"n=$n: 2^$planes leaves expected population $pop, not ~64")
      }
      assert(math.pow(1.0 - math.pow(perPlane, planes), bands) <= 0.001 + 1e-12,
        s"n=$n: $bands x $planes misses the 0.999 recall floor")
    }
    assert(geoms.map(_._2._2) == geoms.map(_._2._2).sorted, "planes must not shrink with n")
    assert(geoms.map(_._2._1) == geoms.map(_._2._1).sorted, "bands must not shrink with n")
  }

  test("X2f': dedup keep-set = documents minus non-representative cluster members") {
    val docs = graft.engine.Tables.documents(spark, sfDir).select(col("doc_id"))
    val labels = Dedup.x2DupClusters(spark, sfDir).persist()
    val nonRep = labels.filter(col("doc_id") =!= col("cluster_rep"))
    val keep = Dedup.x2DedupKeep(spark, sfDir).select(col("doc_id")).persist()
    assert(keep.count() == docs.count() - nonRep.count())
    // every cluster representative is kept; every non-rep member is not
    assert(labels.filter(col("doc_id") === col("cluster_rep"))
      .join(keep, Seq("doc_id"), "left_anti").count() == 0)
    assert(nonRep.join(keep, Seq("doc_id"), "left_semi").count() == 0)
    labels.unpersist(); keep.unpersist()
  }

  test("X7': decontam keep-set = train split minus contaminated; sub-floor train docs kept") {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val train = graft.engine.Tables.documents(spark, sfDir)
      .withColumn("bucket", bucket).filter(col("bucket") < 96)
      .select(col("doc_id")).persist()
    val contaminated = Dedup.x7Decontaminate(spark, sfDir)
      .select(col("train_id").as("doc_id")).persist()
    val keep = Dedup.x7DecontamKeep(spark, sfDir).select(col("doc_id")).persist()
    assert(keep.count() == train.count() - contaminated.count())
    assert(contaminated.join(keep, Seq("doc_id"), "left_semi").count() == 0)
    // keep ∪ contaminated = the train split exactly (nothing invented,
    // nothing beyond the split dropped)
    assert(keep.unionByName(contaminated).exceptAll(train).count() == 0)
    assert(train.exceptAll(keep.unionByName(contaminated)).count() == 0)
    Seq(train, contaminated, keep).foreach(_.unpersist())
  }

  test("dag_corpus_build == intersection of its three component keep-sets") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val funnel = ids(graft.operators.TextAnalysis.x4PrepFunnel(spark, sfDir)
      .filter(col("keep")))
    val dedup = ids(Dedup.x2DedupKeep(spark, sfDir))
    val decon = ids(Dedup.x7DecontamKeep(spark, sfDir))
    val built = ids(graft.operators.Dags.dagCorpusBuild(spark, sfDir))
    assert(built == (funnel & dedup & decon),
      s"composite diverged: extra=${(built -- (funnel & dedup & decon)).take(5)} " +
        s"missing=${((funnel & dedup & decon) -- built).take(5)}")
    // each filter must bite on the real fixture — the composite is an
    // intersection of decisions, not a rename of any one input
    assert(built.nonEmpty && built != funnel && built != dedup && built != decon)
  }

  test("X4k prep funnel: every stage fires on a planted corpus, first-failure attribution") {
    // one doc per stage, constructed to fail EXACTLY its own gate:
    //   0 short: 2 tokens
    //   1 quality: pure filler — diversity 2/8, filler ratio 1
    //   2 repetition: 90 unique tokens + 'x y' ×6 → quality 0.97 but
    //     top bigram 6/101 ≈ 0.0594 > 0.05
    //   3/4 identical good text → min-id 3 keeps, 4 is exact_dup
    //   5 unique good text → keep
    val good = tokens("k", 60)
    val docs = Seq(
      (0L, "a b"),
      (1L, Seq.fill(4)("the a").mkString(" ")),
      (2L, tokens("q", 90) + " " + Seq.fill(6)("x y").mkString(" ")),
      (3L, good),
      (4L, good),
      (5L, tokens("u", 60)))
    val dir = tmpDir("r7-funnel")
    writeDocs(docs, dir)
    val out = graft.operators.TextAnalysis.x4PrepFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (0L, "short", false),
      (1L, "quality", false),
      (2L, "repetition", false),
      (3L, "keep", true),
      (4L, "exact_dup", false),
      (5L, "keep", true)), s"got ${out.toSeq}")
    // a gate a doc never reaches must not relabel it: doc 4's text is
    // also high-quality and low-repetition, so only the dedup stage can
    // claim it — and doc 3, bit-identical, must stay 'keep'
    val fx = graft.operators.TextAnalysis.x4PrepFunnel(spark, sfDir)
    val stages = fx.groupBy(col("stage")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the fixture corpus (all-distinct, no shorts) must split on the
    // per-doc gates and keep a real remainder — the funnel is a
    // decision, not a constant
    assert(stages.keySet.subsetOf(Set("short", "quality", "repetition", "exact_dup", "keep")))
    assert(stages.getOrElse("keep", 0L) > 0 &&
      (stages.getOrElse("quality", 0L) > 0 || stages.getOrElse("repetition", 0L) > 0),
      s"fixture stages: $stages")
    // scale pins: the dedup stage shuffles the 128-bit digest, never the
    // raw text — the window's partition expression is md5-keyed — and
    // the scan reads only (doc_id, text) despite the 5-column table
    val p = fx.queryExecution.executedPlan.toString
    assert(p.contains("md5"), p.take(800))
    val fmt = fx.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(fmt.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      fmt.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }
}
