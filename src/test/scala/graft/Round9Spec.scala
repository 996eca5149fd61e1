package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.{IvfStore, Temporal}

/** Round-9 additions: incremental IVF index maintenance (X3c'') and the
  * batch/streaming sessionization parity pin (VERDICT r8 items 6, 7).
  */
class Round9Spec extends SparkSpec {
  import spark.implicits._

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

  // ---------------------------------------------------------------
  // X3c'' — incremental IVF maintenance
  // ---------------------------------------------------------------

  test("X3c'': append runs incremental then noop, and leaves the store fingerprint-current") {
    val dir = tmpDir("r9-ivf-append")
    val store = tmpDir("r9-ivf-store") + "/store"
    writeEmb(dir, baseVecs)
    IvfStore.build(spark, dir, store)
    // append 8 new vectors (mild directions — the quantizer stays fit)
    writeEmb(dir, baseVecs ++ (64 until 72).map { i =>
      (i.toLong, (0 until 64).map(j => if (j == i % 8) 2.0f else 0.2f))
    })
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "incremental")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    assert(!IvfStore.ensureCurrent(spark, dir, store),
      "the appended store must be current by fingerprint")
    // the maintained lists serve every corpus vector: each of the 10
    // query vectors finds 5 neighbors among the 72
    val served = IvfStore.probe(spark, dir, store)
    assert(served.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("X3c'': a mutated vector is not an append — full rebuild, then noop") {
    val dir = tmpDir("r9-ivf-mut")
    val store = tmpDir("r9-ivf-mutstore") + "/store"
    writeEmb(dir, baseVecs)
    IvfStore.build(spark, dir, store)
    val mutated = baseVecs.map { case (id, v) =>
      if (id == 3L) (id, v.map(_ * 1.5f)) else (id, v)
    }
    writeEmb(dir, mutated)
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "full")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
  }

  test("X3c'': a deleted vector takes the tombstone path, then noop — and vanishes from probes") {
    val dir = tmpDir("r9-ivf-del")
    val store = tmpDir("r9-ivf-delstore") + "/store"
    writeEmb(dir, baseVecs)
    IvfStore.build(spark, dir, store)
    // shrinking the corpus leaves index-only digest rows — the
    // classifier routes them to the incremental delete (tombstone) path,
    // never an "append" and (since round 10) no longer a full rebuild
    writeEmb(dir, baseVecs.filterNot(_._1 == 5L))
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    assert(!IvfStore.ensureCurrent(spark, dir, store),
      "the deleted store must be current by fingerprint")
    val served = IvfStore.probe(spark, dir, store)
    assert(served.filter(col("vec_id") === 5L).isEmpty,
      "a tombstoned vector must never be served")
    assert(served.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("X2e'': a deleted doc is not an append — label store takes the tombstone path, then noop") {
    val dir = tmpDir("r9-label-del")
    val store = tmpDir("r9-label-delstore") + "/store"
    def corpus(drop: Option[Long]) = {
      val rows = (0L until 40L).map(i =>
        (i, (0 until 30).map(t => s"w${i}_$t").mkString(" ")))
        .filterNot { case (i, _) => drop.contains(i) }
      documentsOf(rows)
    }
    corpus(None).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.operators.LabelStore.build(spark, dir, store)
    corpus(Some(7L)).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // a deleted doc routes to the tombstone path (since round 10, no
    // longer a full rebuild); this corpus has zero near-dups, so the
    // touched-component mass is 0 and the labels stay empty
    assert(graft.operators.LabelStore.ensureCurrentIncremental(spark, dir, store) == "incremental-delete")
    assert(graft.operators.LabelStore.ensureCurrentIncremental(spark, dir, store) == "noop")
    // the noop above proves the published generation's fingerprint covers
    // exactly the shrunken corpus; with zero near-dups its label table
    // is empty by contract (labels hold only clustered docs)
    assert(graft.operators.LabelStore.read(spark, store).isEmpty)
  }

  test("X3c'': a skewed append past the imbalance bound triggers the re-train") {
    val dir = tmpDir("r9-ivf-skew")
    val store = tmpDir("r9-ivf-skewstore") + "/store"
    writeEmb(dir, baseVecs)
    IvfStore.build(spark, dir, store)
    // 40 near-identical vectors: all argmax into ONE cell of the frozen
    // quantizer → that cell would hold 40+ of n=104, far past the
    // 8 × n/nlist = 26 bound — the measured symptom that the centroids
    // no longer fit the data, so the path must fall back to re-training
    val skew = (100 until 140).map { i =>
      (i.toLong, (0 until 64).map(j => if (j == 0) 5.0f else 0.01f * (i % 3)))
    }
    writeEmb(dir, baseVecs ++ skew)
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "full")
    assert(IvfStore.ensureCurrentIncremental(spark, dir, store) == "noop")
  }

  test("X3c'': the incremental oracle row takes the incremental path and emits the full surface") {
    // the require inside x3AnnIvfIncremental pins mode == "incremental";
    // here pin the output shape the oracle hashes
    val out = IvfStore.x3AnnIvfIncremental(spark, sfDir)
    assert(out.columns.toSeq == Seq("q_id", "rank", "vec_id", "cosine"))
    assert(out.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  // ---------------------------------------------------------------
  // R6d — mergeable distinct sketches
  // ---------------------------------------------------------------

  test("R6d: shard-merged HLL estimate is shard-count-invariant and tracks the exact count") {
    val ev = Tables.events(spark, sfDir)
    def merged(shards: Int): Double = ev
      .withColumn("shard", pmod(col("event_id"), lit(shards)))
      .groupBy(col("shard")).agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head.getLong(0).toDouble
    val whole = ev.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))"))
      .head.getLong(0).toDouble
    val exact = ev.agg(countDistinct(col("user_id"))).head.getLong(0).toDouble
    // union = register-wise max: the merged estimate must not depend on
    // how the rows were sharded — THE mergeability property that lets
    // per-day sketches roll up without a rescan
    assert(merged(4) == merged(16) && merged(16) == merged(64),
      s"sharding changed the merged estimate: ${merged(4)} / ${merged(16)} / ${merged(64)}")
    assert(math.abs(merged(16) - exact) / exact <= 0.04)
    assert(math.abs(whole - exact) / exact <= 0.04)
    // and the oracle row's gate holds
    val row = graft.operators.Relational.r6HllShards(spark, sfDir).head
    assert(row.getAs[Boolean]("merged_within_tol"))
    assert(row.getAs[Long]("exact_users") == exact.toLong)
  }

  // ---------------------------------------------------------------
  // T8 — batch twin == streaming sessionize on the same slice
  // ---------------------------------------------------------------

  test("T8 parity: batch gap-sessionization equals streaming sessionize on the same events slice") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // feed the fixture slice to the streaming operator as (user, epochUs):
    // the stream gaps on the same integral microseconds the batch twin
    // cuts on, so the two formulations must land on identical sessions
    val slice = Tables.events(spark, sfDir).filter(col("user_id") < 15)
      .select(col("user_id"), Tables.epochUs(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dir = tmpDir("r9-sess-parity")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/p.json"),
      slice.map { case (u, us) =>
        s"""{"event_id":$us,"user_id":$u,"event_type":"c","value":1.0,"k":1}"""
      }.mkString("\n"))
    val stream = graft.streaming.Streams.subscribe(spark, dir)
    val out = graft.streaming.Streams.sessionize(spark, stream,
      gapEvents = 1800L * 1000000L)
    val q = out.writeStream.format("memory").queryName("sess_parity")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "streaming sessionize query did not finish within 120s")
    val streamed = spark.sql("SELECT * FROM sess_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val batch = Temporal.t8SessionizeBatch(spark, sfDir)
      .filter(col("user_id") < 15)
      .select(col("user_id"), col("session_no"),
        Tables.epochUs(col("session_start")).as("s"),
        Tables.epochUs(col("session_end")).as("e"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the streaming operator emits a session only when the NEXT one opens
    // (each user's final session stays in state) — so streamed sessions
    // must equal the batch sessions minus each user's last
    val lastNo = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = batch.filter(s => s._2 != lastNo(s._1))
      .map(s => (s._1, s._3, s._4, s._5)).toSet
    assert(streamed == expected,
      s"streaming/batch sessionization drift: ${streamed.diff(expected)} vs ${expected.diff(streamed)}")
    assert(expected.nonEmpty, "parity slice must exercise closed sessions")
  }
}
