package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dags, IvfStore, LabelStore}

/** Round-10 additions: tombstone DELETE maintenance for both
  * materialized stores (VERDICT r9 items 1, 2) and the store-backed
  * corpus composite surviving a full append → delete → read lifecycle
  * (item 6).
  */
class Round10Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // Label store — incremental delete
  // ---------------------------------------------------------------

  /** Synthetic corpus with two planted structures:
    *   - a CHAIN 10–11–12: 10≈11 and 11≈12 are near-dups (J ≈ 0.81)
    *     but 10 vs 12 is not (J ≈ 0.65) — deleting 11 must SPLIT the
    *     component and drop both survivors from the label table;
    *   - a TRIANGLE 20, 21, 22, mutually near-dup — deleting the REP 20
    *     must relabel {21, 22} under the new minimum 21.
    * Texts are 30 unique tokens per structure (fillers fully disjoint),
    * so no unplanned edges exist.
    */
  private def docRows(drop: Set[Long]): Seq[(Long, String)] = {
    def toks(p: String, n: Int) = (0 until n).map(i => s"${p}$i")
    val chainA = toks("ch", 30)
    val chainB = chainA.updated(28, "chx28").updated(29, "chx29")
    val chainC = chainB.updated(0, "chy0").updated(1, "chy1")
    val triBase = toks("tr", 30)
    val tri21 = triBase.updated(29, "trx29")
    val tri22 = triBase.updated(28, "try28")
    // enough fillers that the planted structures stay well under the
    // touched-mass rebuild threshold (half the corpus)
    val fillers = (100L until 120L).map(i => (i, toks(s"f${i}_", 30).mkString(" ")))
    val planted = Seq(
      10L -> chainA.mkString(" "), 11L -> chainB.mkString(" "),
      12L -> chainC.mkString(" "),
      20L -> triBase.mkString(" "), 21L -> tri21.mkString(" "),
      22L -> tri22.mkString(" "))
    (fillers ++ planted).filter { case (id, _) => !drop.contains(id) }
  }

  /** Write `rows` as `<dir>/documents.parquet` in two files. */
  private def writeDocRows(dir: String, rows: Seq[(Long, String)]): Unit =
    documentsOf(rows).repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("X2e''': deleting a bridge doc splits its cluster; deleting a rep relabels — equal to from-scratch") {
    val dir = tmpDir("r10-label-del")
    val store = tmpDir("r10-label-delstore") + "/store"
    writeDocRows(dir, docRows(Set.empty))
    LabelStore.build(spark, dir, store)
    // sanity: chain and triangle each one component under min-label
    assert(labelSet(store) == Set((10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L)))

    writeDocRows(dir, docRows(drop = Set(11L, 20L)))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    // chain split to singletons (out of the table); triangle relabeled
    assert(labelSet(store) == Set((21L, 21L), (22L, 21L)))
    // the real pin: equal to a from-scratch build on the reduced corpus
    val scratch = tmpDir("r10-label-scratch") + "/store"
    LabelStore.build(spark, dir, scratch)
    assert(labelSet(store) == labelSet(scratch))
  }

  test("X2e''': a doc re-added after deletion is an append again and rejoins its cluster") {
    val dir = tmpDir("r10-label-readd")
    val store = tmpDir("r10-label-readdstore") + "/store"
    writeDocRows(dir, docRows(Set.empty))
    LabelStore.build(spark, dir, store)
    writeDocRows(dir, docRows(drop = Set(11L)))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
    // re-add the SAME doc: the batch-aware tombstone mask must keep the
    // new rows live (its new batch outranks the tombstone) while the old
    // dead rows stay masked — the chain re-forms exactly
    writeDocRows(dir, docRows(Set.empty))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "incremental")
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    assert(labelSet(store) == Set((10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L)))
  }

  test("X2e''': mixed append+delete and past-half deletes fall back to the full rebuild") {
    val dir = tmpDir("r10-label-mixed")
    val store = tmpDir("r10-label-mixedstore") + "/store"
    writeDocRows(dir, docRows(Set.empty))
    LabelStore.build(spark, dir, store)
    // one doc out, one new doc in — mixed batch, full rebuild
    writeDocRows(dir, docRows(drop = Set(21L)) :+ (30L -> "mx0 mx1 mx2 mx3 mx4"))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "full")
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    // now delete far past the compaction threshold (9 of 12 docs)
    writeDocRows(dir, (docRows(drop = Set(21L)) :+ (30L -> "mx0 mx1 mx2 mx3 mx4"))
      .filter(_._1 >= 10L).take(3))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "full")
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
  }

  // ---------------------------------------------------------------
  // IVF store — incremental delete
  // ---------------------------------------------------------------

  private def writeEmb(dir: String, vecs: Seq[(Long, Seq[Float])]): Unit =
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0)).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def baseVecs: Seq[(Long, Seq[Float])] =
    (0 until 64).map { i =>
      (i.toLong, (0 until 64).map { j =>
        if (j == i % 16) 3.0f
        else if (j == (i * 7) % 64) 1.5f
        else 0.1f * ((i + j) % 5)
      })
    }

  test("X3c'''': successive deletes accumulate tombstones correctly; re-add revives the vector") {
    val dir = tmpDir("r10-ivf-del")
    val store = tmpDir("r10-ivf-delstore") + "/store"
    writeEmb(dir, baseVecs)
    IvfStore.build(spark, dir, store)
    writeEmb(dir, baseVecs.filterNot(_._1 == 20L))
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
    writeEmb(dir, baseVecs.filterNot(v => v._1 == 20L || v._1 == 21L))
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    val probed = IvfStore.probe(spark, dir, store)
    assert(probed.filter(col("vec_id").isin(20L, 21L)).isEmpty,
      "tombstoned vectors must never be served")
    // re-add vector 20: an append whose new list rows outrank its
    // tombstone — served again, while 21 stays dead
    writeEmb(dir, baseVecs.filterNot(_._1 == 21L))
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "incremental")
    val served = IvfStore.probe(spark, dir, store)
    assert(served.filter(col("vec_id") === 21L).isEmpty)
    assert(served.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("X3c'''': mixed append+delete and past-half deletes fall back to the full rebuild") {
    val dir = tmpDir("r10-ivf-mixed")
    val store = tmpDir("r10-ivf-mixedstore") + "/store"
    writeEmb(dir, baseVecs)
    IvfStore.build(spark, dir, store)
    writeEmb(dir, baseVecs.filterNot(_._1 == 7L) :+
      (100L, (0 until 64).map(j => if (j == 3) 2.0f else 0.2f)))
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "full")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    writeEmb(dir, baseVecs.take(8))
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "full")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
  }

  test("X3c'''': the delete oracle row takes the delete path and serves no deleted vector") {
    val out = IvfStore.x3AnnIvfDelete(spark, sfDir)
    assert(out.columns.toSeq == Seq("q_id", "rank", "vec_id", "cosine"))
    assert(out.filter(col("vec_id") % 5 === 3 && col("vec_id") >= 10).isEmpty,
      "deleted vectors surfaced in the served top-k")
    assert(out.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  // ---------------------------------------------------------------
  // S11 — date-partitioned store: pruning pinned in the plan
  // ---------------------------------------------------------------

  test("S11: the date-ranged scan reads exactly the requested partitions (PruneFileSourcePartitions)") {
    import graft.sources.DateStore
    val store = tmpDir("r10-datestore") + "/store"
    assert(DateStore.ensureCurrent(spark, sfDir, store), "first build must write")
    assert(!DateStore.ensureCurrent(spark, sfDir, store), "second call must be a fingerprint noop")
    val total = DateStore.readEvents(spark, store)
      .select(col("event_date")).distinct().count()
    assert(total == 30, s"fixture events span 30 days, found $total partitions")
    val scan = DateStore.rollupScan(spark, store)
    val p = scan.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters: ["), p.take(1500))
    val scanned = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty, "no file scan found")
    assert(scanned.head == 7,
      s"expected exactly the 7 requested day-partitions scanned, got ${scanned.head} of $total")
    // and no row-level date recomputation survives: the filter is fully
    // absorbed by partition pruning (nothing left in the data filters)
    assert(!p.contains("to_date"), "date filter leaked past the partition boundary")
  }

  test("S11b: day-grain maintenance — append, late-data restate, date delete") {
    import graft.sources.DateStore
    val store = tmpDir("r10-dateevolve") + "/store"
    val ev0 = graft.engine.Tables.events(spark, sfDir).localCheckpoint()
    def day(c: org.apache.spark.sql.Column) = to_date(c)
    def dates(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("event_date").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("event_id")).collect().map(_.getLong(0)).toSet

    // initial build on the first 24 days, then append days 25..30
    assert(DateStore.ensureIncrementalEvents(
      ev0.filter(day(col("ts")) < lit("2024-01-25")), store) == "full")
    assert(DateStore.ensureIncrementalEvents(ev0, store) == "incremental")
    assert(DateStore.ensureIncrementalEvents(ev0, store) == "noop")
    // the appended batch holds ONLY the new dates — the old 24 days
    // were not rewritten
    val b2 = spark.read.parquet(s"$store/days/__batch=2")
    assert(dates(b2).forall(_ >= "2024-01-25"), s"old dates rewritten: ${dates(b2)}")
    assert(ids(DateStore.readEvents(spark, store)) == ids(
      ev0.withColumn("event_date", day(col("ts")))), "merged view != source")

    // late data restates one old day: only that date lands in the new
    // batch, and the view serves the restated rows
    val extra = ev0.filter(day(col("ts")) === lit("2024-01-10")).limit(5)
      .withColumn("event_id", col("event_id") + 10000000L)
    val ev1 = ev0.unionByName(extra).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev1, store) == "incremental")
    val b3 = spark.read.parquet(s"$store/days/__batch=3")
    assert(dates(b3) == Set("2024-01-10"), s"restate touched ${dates(b3)}")
    assert(ids(DateStore.readEvents(spark, store)) == ids(
      ev1.withColumn("event_date", day(col("ts")))))

    // deleting whole dates drops them from the manifest without any
    // data write — no __batch=4 appears
    val ev2 = ev1.filter(day(col("ts")) =!= lit("2024-01-03") &&
      day(col("ts")) =!= lit("2024-01-04")).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev2, store) == "incremental-delete")
    assert(!new java.io.File(s"$store/days/__batch=4").exists,
      "a date delete must not write data")
    val after = DateStore.readEvents(spark, store)
    assert(dates(after).size == 28 && !dates(after)("2024-01-03"))
    assert(ids(after) == ids(ev2.withColumn("event_date", day(col("ts")))))
  }

  test("store publishes sweep prior retired generations — disk held by a long-lived store is bounded") {
    import graft.sources.DateStore
    val store = tmpDir("r10-datesweep") + "/store"
    val ev0 = graft.engine.Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) < lit("2024-01-05")).localCheckpoint()
    def listNames = new java.io.File(store).list() match {
      case null => Seq.empty[String]; case a => a.toSeq
    }
    // four publish cycles: build, then three single-day restates (the
    // dead-mass compaction gauge may turn a later restate of this tiny
    // 4-day table into a compacting "full" — either path PUBLISHES,
    // which is all the sweep contract is about)
    assert(DateStore.ensureIncrementalEvents(ev0, store) == "full")
    (1 to 3).foreach { i =>
      val extra = ev0.limit(i).withColumn("event_id", col("event_id") + 900000L + i)
      assert(Set("incremental", "full").contains(DateStore.ensureIncrementalEvents(
        ev0.unionByName(extra).localCheckpoint(), store)))
    }
    val retired = listNames.filter(_.endsWith(".retired"))
    val live = listNames.filter(_.startsWith("gen="))
    assert(live.size == 2, s"two live generations expected, found $live")
    assert(retired.size <= 1,
      s"retired debris must be bounded at one publish cycle, found $retired")
  }

  // ---------------------------------------------------------------
  // Round-10 review hardening: crash-debris tolerance
  // ---------------------------------------------------------------

  test("review: an empty tombstones dir (crash before any commit / GC of the last batch) does not brick maintenance") {
    val dir = tmpDir("r10-emptytombs")
    val store = tmpDir("r10-emptytombsstore") + "/store"
    writeDocRows(dir, docRows(Set.empty))
    LabelStore.build(spark, dir, store)
    // crash simulation: the tombstones dataset dir exists but holds no
    // batch — only the debris a killed first delete leaves behind
    val tp = new java.io.File(s"$store/index/tombstones")
    assert(tp.mkdirs())
    new java.io.File(tp, "_SUCCESS").createNewFile()
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    // and a real delete still runs through it
    writeDocRows(dir, docRows(drop = Set(11L)))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
  }

  test("review: a crashed append attempt's unpublished index batch is invisible to the retry and overwritten by it") {
    val dir = tmpDir("r10-crashretry")
    val store = tmpDir("r10-crashretrystore") + "/store"
    writeDocRows(dir, docRows(Set.empty).filterNot(_._1 == 12L))
    LabelStore.build(spark, dir, store)
    // crash simulation: an append died after its sigs/bands landed as
    // __batch=2 (digests last — never written), leaving garbage rows in
    // the index. Clone batch 1 as the garbage: worst case, it duplicates
    // every existing doc under the unpublished batch number.
    import java.nio.file.{Files, Path => JPath}
    import scala.jdk.CollectionConverters._
    def clone1to2(ds: String): Unit = {
      val src = JPath.of(s"$store/index/$ds/__batch=1")
      val dst = JPath.of(s"$store/index/$ds/__batch=2")
      Files.walk(src).iterator().asScala.toSeq.foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    clone1to2("bands"); clone1to2("sigs")
    // the retry: doc 12 arrives; the maintenance call must neither read
    // the crashed batch (FNF race with its own concurrent rewrite) nor
    // pair against its rows, and the merged labels must equal from-scratch
    writeDocRows(dir, docRows(Set.empty))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "incremental")
    assert(LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    val scratch = tmpDir("r10-crashscratch") + "/store"
    LabelStore.build(spark, dir, scratch)
    assert(labelSet(store) == labelSet(scratch))
  }

  test("review: DateStore compacts once dead mass from deletes/restates passes half the table") {
    import graft.sources.DateStore
    val store = tmpDir("r10-datedead") + "/store"
    val ev0 = graft.engine.Tables.events(spark, sfDir).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev0, store) == "full")
    // drop 7 of 30 days (248 of 1,000 rows dead < half the 752 live) —
    // below the trigger, manifest-only delete
    val ev1 = ev0.filter(to_date(col("ts")) >= lit("2024-01-08")).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev1, store) == "incremental-delete")
    // drop through day 20: cumulative dead mass (698) dwarfs the 302
    // live rows — the store must compact instead of leaking
    val ev2 = ev0.filter(to_date(col("ts")) >= lit("2024-01-21")).localCheckpoint()
    assert(DateStore.ensureIncrementalEvents(ev2, store) == "full",
      "accumulated dead mass must trigger the compacting rebuild")
    assert(DateStore.ensureIncrementalEvents(ev2, store) == "noop")
    assert(DateStore.readEvents(spark, store)
      .select(col("event_date")).distinct().count() == 10)
  }

  // ---------------------------------------------------------------
  // Mergeable-sketch family (R6e/R6f/R6g)
  // ---------------------------------------------------------------

  test("R6f: the shard-folded KLL rank gate holds at any shard count") {
    import graft.engine.Tables
    val ev = Tables.events(spark, sfDir)
    // the estimate itself may differ by shard count (KLL retains a
    // sample set; merge order matters) — the GUARANTEE that must hold
    // regardless of sharding is the rank error bound
    for (shards <- Seq(4, 16, 64)) {
      val est = ev.withColumn("shard", pmod(col("event_id"), lit(shards)))
        .groupBy(col("shard")).agg(expr("kll_sketch_agg_double(value)").as("sk"))
        .agg(collect_list(col("sk")).as("sks"))
        .select(expr("aggregate(slice(sks, 2, size(sks) - 1), sks[0], " +
          "(acc, x) -> kll_sketch_merge_double(acc, x))").as("sk"))
        .select(expr("kll_sketch_get_quantile_double(sk, 0.5)").as("p50"))
        .head.getDouble(0)
      val n = ev.count()
      val rank = ev.filter(col("value") <= est).count().toDouble / n
      assert(math.abs(rank - 0.5) <= 0.03,
        s"$shards shards: p50 estimate $est has rank $rank")
    }
    val row = graft.operators.Relational.r6KllShards(spark, sfDir).head
    assert(Seq("p50_within_tol", "p95_within_tol", "p99_within_tol")
      .forall(row.getAs[Boolean](_)))
  }

  test("R6e: theta union and intersection are EXACT below sketch capacity, and match set arithmetic") {
    import graft.engine.Tables
    val ev = Tables.events(spark, sfDir)
    val users = ev.select(col("user_id")).distinct().count()
    assume(users < 4096, "fixture user cardinality exceeds theta exact mode")
    val row = graft.operators.Relational.r6ThetaSetops(spark, sfDir).head
    assert(row.getAs[Long]("exact_users") == users)
    assert(row.getAs[Boolean]("union_within_tol") && row.getAs[Boolean]("inter_within_tol"))
    // below 4,096 distinct the sketch stores every hash — the estimate
    // is not just within tolerance, it is exact, so the intersection
    // equals true set arithmetic
    val est = ev.groupBy(col("event_type"))
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      .filter(col("event_type").isin("click", "purchase"))
      .agg(expr("CAST(round(theta_sketch_estimate(theta_intersection_agg(sk))) AS BIGINT)"))
      .head.getLong(0)
    assert(est == row.getAs[Long]("exact_both"),
      s"exact-mode intersection $est != set-arithmetic ${row.getAs[Long]("exact_both")}")
  }

  test("R6g: the count-min bound holds both-sided for every label") {
    val rows = graft.operators.Relational.r6CmHeavyHitters(spark, sfDir).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Boolean]("cm_within_eps")))
  }

  // ---------------------------------------------------------------
  // Store-backed corpus composite across the append→delete lifecycle
  // ---------------------------------------------------------------

  test("composite lifecycle: dag_corpus_build_stored serves the maintained store across append and delete") {
    // scratch corpus dir: the sf0.001 documents table copied, so the
    // canonical store keyed by this path starts empty and the composite's
    // ensureCurrentIncremental drives the real maintenance transitions
    val dir = tmpDir("r10-lifecycle")
    val docs0 = graft.engine.Tables.documents(spark, sfDir)
    docs0.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def storeless = Dags.dagCorpusBuildFrom(spark, dir, labelStore = None)
      .collect().map(_.getLong(0)).toSet
    def stored = Dags.dagCorpusBuildStored(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(stored == storeless, "initial build")

    // APPEND: duplicate the texts of docs 3 and 4 under new ids — they
    // must join those docs' clusters and fall out of the keep set
    val dupes = docs0.filter(col("doc_id").isin(3L, 4L))
      .withColumn("doc_id", col("doc_id") + 100000L)
    docs0.unionByName(dupes).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(stored == storeless, "after append")

    // DELETE: drop the duplicates and a slice of originals — the stored
    // composite must serve the reduced corpus via the tombstone path
    docs0.filter(col("doc_id") % 9 =!= 5)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(stored == storeless, "after delete")
  }

  // ---------------------------------------------------------------
  // clusterPairs driver fast path (the broadcast-discipline gate)
  // ---------------------------------------------------------------

  test("X2e: the measured-small driver union-find equals the distributed fixpoint") {
    import spark.implicits._
    import graft.operators.Dedup
    // chain ⊕ clique ⊕ two isolated-pair components ⊕ a revisited edge —
    // mixed shapes, edges in arbitrary order with duplicates
    val pairs = ((0L until 63L).map(i => (i, i + 1)) ++
      (for { a <- 100L until 108L; b <- (a + 1) until 108L } yield (a, b)) ++
      Seq((200L, 300L), (301L, 201L), (0L, 1L)))
      .toDF("doc_a", "doc_b")
    val (driver, driverRounds) = Dedup.clusterPairs(pairs) // 186 ≤ 1M edges
    assert(driverRounds == 0, "small graph must take the driver path")
    spark.conf.set(Dedup.DriverMaxEdgesConf, "0")
    val (dist, distRounds) = try Dedup.clusterPairs(pairs)
      finally spark.conf.unset(Dedup.DriverMaxEdgesConf)
    assert(distRounds > 0, "conf 0 must force the distributed path")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (a, b) = (m(driver), m(dist))
    assert(a == b, s"paths disagree: ${(a.toSet diff b.toSet).take(5)}")
    assert((0L until 64L).forall(a(_) == 0L) &&
      (100L until 108L).forall(a(_) == 100L) &&
      a(300L) == 200L && a(301L) == 201L)
    // empty edge set: both paths yield an empty label table
    val none = spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"))
    assert(Dedup.clusterPairs(none)._1.count() == 0)
  }

  // ---------------------------------------------------------------
  // S11c — dynamic partition pruning over the date store
  // ---------------------------------------------------------------

  test("S11c: the dim-driven scan prunes partitions at RUNTIME (DynamicPruningSubquery)") {
    import graft.sources.DateStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val store = tmpDir("r10-datedpp") + "/store"
    assert(DateStore.ensureCurrent(spark, sfDir, store), "first build must write")
    val scan = DateStore.dppScan(spark, sfDir, store)
    val n = scan.collect().length
    // the injected subquery prints as dynamicpruningexpression inside the
    // store scan's PartitionFilters — static pruning cannot know the busy
    // days, so its absence means the full 30-day history was listed
    val planStr = scan.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"no DynamicPruningSubquery on the store scan:\n${planStr.take(2000)}")
    def deep(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case s: QueryStageExec        => deep(s.plan)
      case f: FileSourceScanExec    => f +: f.children.flatMap(deep)
      case o                        => o.children.flatMap(deep)
    }
    // the runtime partitions-read metric on the days/ scan must be the
    // busy-day subset, strictly under the 30-day history
    val dayScans = deep(scan.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/days"))
    assert(dayScans.nonEmpty, "no days/ file scan found in the executed plan")
    val scanned = dayScans.head.metrics("numPartitions").value
    val busyDays = scan.select(col("event_date")).distinct().count()
    assert(busyDays > 0 && busyDays < 30, s"degenerate busy-day set: $busyDays")
    assert(scanned == busyDays,
      s"runtime-pruned scan read $scanned partitions, expected the $busyDays busy days")
    assert(n > 0, "DPP join returned no rows")
  }

  // ---------------------------------------------------------------
  // Runtime bloom-filter join (the non-partitioned analogue of DPP)
  // ---------------------------------------------------------------

  test("runtime bloom filter: a selective non-broadcastable dim semi-prunes the fact scan") {
    // DPP needs a partition column; when the selective dim joins the fact
    // on a DATA column and is too big to broadcast, Spark's
    // InjectRuntimeFilter is the remaining scan-cost lever: the dim side
    // builds a bloom filter and the fact side drops non-members BEFORE
    // the join shuffle. At 100 TB that turns a full-fact shuffle into a
    // near-output-sized one. The size thresholds are scaled down the same
    // way the suite's AQE skew thresholds are (the fixture is not 10 GB);
    // the geometry — selective dim, shuffle join, filter on the fact's
    // scan — is the production one.
    val exact = graft.engine.Tables.lineitem(spark, sfDir)
      .join(graft.engine.Tables.part(spark, sfDir)
          .filter(col("p_type") === "PROMO" && col("p_size") <= 5),
        col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1))).head().getLong(0)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val df = graft.engine.Tables.lineitem(spark, sfDir)
        .join(graft.engine.Tables.part(spark, sfDir)
            .filter(col("p_type") === "PROMO" && col("p_size") <= 5),
          col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no bloom-filter runtime filter injected:\n${opt.take(1500)}")
      assert(df.head().getLong(0) == exact,
        "bloom-filtered join changed the result")
    }
  }

  // ---------------------------------------------------------------
  // S11d — log-driven ingestion into the date store
  // ---------------------------------------------------------------

  private def eventRows(ids: Range, day: Int) = {
    import spark.implicits._
    ids.map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"),
        i.toLong % 7, "click", 1.5, s"p$i"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("S11d: streaming ingest is exactly-once across checkpoint replays and restarts") {
    import graft.sources.DateStore
    val store = tmpDir("r10-ingest") + "/store"
    val src = tmpDir("r10-ingestsrc")
    val ckpt = tmpDir("r10-ingestckpt")
    def land(ids: Range, day: Int): Unit =
      eventRows(ids, day).coalesce(1).write.mode("append").parquet(src)
    land(0 until 20, 1); land(20 until 40, 2)
    val schema = spark.read.parquet(src).schema
    def runSink(): Unit = {
      val q = DateStore.ingestSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        store, ckpt)
      assert(q.awaitTermination(120000), "ingest query did not finish")
    }
    runSink()
    assert(DateStore.readEvents(spark, store).count() == 40)
    // same checkpoint, no new files: nothing reprocessed, store unchanged
    runSink()
    assert(DateStore.readEvents(spark, store).count() == 40)
    // a restart sees only the new files: late data for day 1 + a new day
    land(40 until 50, 1); land(50 until 60, 3)
    runSink()
    val got = DateStore.readEvents(spark, store)
    assert(got.count() == 60, s"expected 60 rows, got ${got.count()}")
    assert(got.filter(col("event_date") === "2024-01-01").count() == 30,
      "late data did not merge into the restated day")
    assert(got.select("event_id").distinct().count() == 60, "duplicated rows")
    // a direct replay of an already-committed micro-batch id is a skip
    assert(DateStore.appendEvents(eventRows(0 until 5, 1), store, 0L) == "skip")
  }

  test("S11d: accumulated restate dead mass triggers the compacting rebuild, which resets it") {
    import graft.sources.DateStore
    val store = tmpDir("r10-ingestcompact") + "/store"
    def day1(ids: Range) = eventRows(ids, 1)
    assert(DateStore.appendEvents(
      day1(0 until 4).unionByName(eventRows(100 until 120, 9)), store, 0L)
      == "append-initial")
    // restates of day 1 against the 24-row store: dead 4 ≤ 14, then
    // 12 ≤ 16, then 24 > 18 → compact
    assert(DateStore.appendEvents(day1(4 until 8), store, 1L) == "append")
    assert(DateStore.appendEvents(day1(8 until 12), store, 2L) == "append")
    assert(DateStore.appendEvents(day1(12 until 16), store, 3L) == "append-compact")
    assert(DateStore.readEvents(spark, store).count() == 36)
    // compaction reset the dead count: the next restate appends again
    assert(DateStore.appendEvents(day1(16 until 20), store, 4L) == "append")
    val got = DateStore.readEvents(spark, store)
    assert(got.count() == 40)
    assert(got.filter(col("event_date") === "2024-01-01").count() == 20)
    // and the corpus-driven fingerprint agrees with the merged manifest
    val all = day1(0 until 20).unionByName(eventRows(100 until 120, 9))
    assert(DateStore.ensureIncrementalEvents(all, store) == "noop",
      "log-driven manifest drifted from the corpus digest")
  }

  // ---------------------------------------------------------------
  // X3e — log-driven vector ingestion (upsert + retrain-from-store)
  // ---------------------------------------------------------------

  private def vecFrame(rows: Seq[(Long, Seq[Float], Int)]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  /** 64 spread directions; vec 7 carries `v7` (defaults to v0's exact
    * direction, making it q0's guaranteed nearest neighbor).
    */
  private def vecCorpus(v7: Seq[Float]): Seq[(Long, Seq[Float], Int)] =
    (0L until 64L).map { i =>
      val v: Seq[Float] =
        if (i == 7L) v7
        else Seq(math.cos(i * 0.07).toFloat, math.sin(i * 0.07).toFloat, 0f, 0f)
      (i, v, (i % 3).toInt)
    }

  test("X3e: a log-driven restate replaces the served vector and stays corpus-consistent") {
    import graft.operators.IvfStore
    val dir = tmpDir("r10-ivfing")
    val store = tmpDir("r10-ivfingstore") + "/store"
    val v7old = Seq(1f, 0f, 0f, 0f)
    val v7new = Seq(0f, 0f, 1f, 0f)
    def landCorpus(v7: Seq[Float]): Unit =
      vecFrame(vecCorpus(v7)).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
    landCorpus(v7old)
    assert(IvfStore.appendVectors(vecFrame(vecCorpus(v7old)), store, 0L)
      == "ingest-initial")
    def q0TopIds(): Seq[Long] = IvfStore.probe(spark, dir, store)
      .filter(col("q_id") === 0).orderBy(col("rank"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(q0TopIds().head == 7L, "v7 == v0 must be q0's nearest neighbor")
    // the re-embedded v7 replaces its predecessor in ONE publish
    assert(IvfStore.appendVectors(
      vecFrame(vecCorpus(v7new)).filter(col("vec_id") === 7), store, 1L) == "ingest")
    landCorpus(v7new)
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop",
      "restated store must fingerprint as the restated corpus")
    assert(!q0TopIds().contains(7L), "the predecessor embedding still serves")
    // restate BACK: the doubly-restated vector revives under its old value
    assert(IvfStore.appendVectors(
      vecFrame(vecCorpus(v7old)).filter(col("vec_id") === 7), store, 2L) == "ingest")
    landCorpus(v7old)
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    assert(q0TopIds().head == 7L, "the re-restated vector must serve again")
  }

  test("X3e: skewed ingest re-trains from the store — no raw corpus needed") {
    import graft.operators.IvfStore
    val dir = tmpDir("r10-ivfretraindir")
    val store = tmpDir("r10-ivfretrain") + "/store"
    val spread = (0L until 64L).map(i => (i,
      Seq(math.cos(i * 0.098).toFloat, math.sin(i * 0.098).toFloat, 0f, 0f): Seq[Float], 0))
    assert(IvfStore.appendVectors(vecFrame(spread), store, 0L) == "ingest-initial")
    // 64 near-identical arrivals crowd ONE cell (orthogonal to every
    // xy-plane centroid → one argmax tie-broken cell): 64 > 8 × (128/32)
    val crowd = (100L until 164L).map(i => (i,
      Seq(0f, 0f, 1f, (i % 7) * 1e-4f): Seq[Float], 0))
    assert(IvfStore.appendVectors(vecFrame(crowd), store, 1L) == "ingest-retrain")
    // the re-trained store still fingerprints as the materialized corpus
    vecFrame(spread ++ crowd).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop",
      "retrained store drifted from the corpus")
    // and the NEW centroids absorb further appends incrementally
    val more = Seq((200L, Seq(0.5f, 0.5f, 0.5f, 0f): Seq[Float], 0))
    assert(IvfStore.appendVectors(vecFrame(more), store, 2L) == "ingest")
  }

  test("X3e: streaming vector ingest is exactly-once under checkpoint replay") {
    import graft.operators.IvfStore
    val dir = tmpDir("r10-ivfstreamdir")
    val store = tmpDir("r10-ivfstream") + "/store"
    val src = tmpDir("r10-ivfstreamsrc")
    val ckpt = tmpDir("r10-ivfstreamckpt")
    val a = (0L until 64L).map(i => (i,
      Seq(math.cos(i * 0.098).toFloat, math.sin(i * 0.098).toFloat, 1f, 0f): Seq[Float], 0))
    val b = (64L until 128L).map(i => (i,
      Seq(math.cos(i * 0.049).toFloat, 1f, math.sin(i * 0.049).toFloat, 0f): Seq[Float], 0))
    vecFrame(a).coalesce(1).write.mode("append").parquet(src)
    vecFrame(b).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runSink(): Unit = {
      val q = IvfStore.ingestSinkVectors(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        store, ckpt)
      assert(q.awaitTermination(120000), "vector ingest query did not finish")
    }
    runSink()
    vecFrame(a ++ b).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop",
      "streamed store drifted from the corpus")
    // rerun on the same checkpoint: nothing reprocessed, floor holds
    runSink()
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    assert(IvfStore.appendVectors(vecFrame(b), store, 1L) == "skip",
      "a committed micro-batch id must skip")
  }

  // ---------------------------------------------------------------
  // T13 — streaming label maintenance (document → labels lifecycle)
  // ---------------------------------------------------------------

  test("T13: streaming label maintenance merges a late near-dup into its stored cluster, replay-safe") {
    import graft.streaming.Streams
    val corpusStore = tmpDir("r10-lblcorpus") + "/store"
    val labelStore = tmpDir("r10-lblstore") + "/store"
    val src = tmpDir("r10-lblsrc")
    val ckpt = tmpDir("r10-lblckpt")
    val all = docRows(Set.empty)
    // micro-batch 1: everything except doc 12; micro-batch 2: doc 12 (a
    // near-dup of 11 — it must MERGE into the stored chain cluster via
    // the band-index probe, never a rebuild) plus a re-delivery of 10
    val b1 = all.filterNot(_._1 == 12L)
    val b2 = all.filter(r => r._1 == 12L || r._1 == 10L)
    documentsOf(b1).coalesce(1).write.mode("append").parquet(src)
    documentsOf(b2).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runSink(): Unit = {
      val q = Streams.labelMaintainSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        corpusStore, labelStore, ckpt)
      assert(q.awaitTermination(120000), "label maintenance query did not finish")
    }
    runSink()
    // the streamed lifecycle must equal a from-scratch build on the
    // union corpus — including 12 joining the chain cluster rep 10
    val dir = tmpDir("r10-lblscratchdir")
    writeDocRows(dir, all)
    val scratch = tmpDir("r10-lblscratch") + "/store"
    LabelStore.build(spark, dir, scratch)
    assert(labelSet(labelStore) == labelSet(scratch),
      "streamed labels diverge from the from-scratch build")
    assert(labelSet(labelStore).contains((12L, 10L)),
      "the late near-dup did not merge into the stored cluster")
    // replay: same checkpoint reprocesses nothing; a manual re-apply of
    // the corpus is a fingerprint noop
    runSink()
    assert(labelSet(labelStore) == labelSet(scratch))
    assert(LabelStore.ensureCurrentIncremental(spark, dir, labelStore) == "noop",
      "replay must be a content-derived noop")
  }
}
