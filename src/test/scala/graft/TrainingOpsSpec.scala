package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational, Sampling, Temporal, TextAnalysis}
import Fixtures.tokens

/** [EXT] Temporal, sampling, and featurization operator semantics. */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("R12: as-of join picks the latest purchase at-or-before each click, null before any") {
    val rows = Temporal.r12AsofJoin(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // independently recompute a hand as-of for one user present in the output
    val uid = rows.head.getAs[Long]("user_id")
    val ev = graft.engine.Tables.events(spark, sfDir)
      .filter(col("user_id") === uid)
      .select(col("event_type"),
        col("ts").cast("timestamp").cast("long").as("sec"), col("event_id"))
      .collect()
    val purchases = ev.filter(_.getString(0) == "purchase")
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows.filter(_.getAs[Long]("user_id") == uid).foreach { r =>
      // click_ts mirrors the fixture footer: LocalDateTime when NTZ,
      // java.sql.Timestamp when UTC-adjusted — same instant either way
      val clickSec = r.get(r.fieldIndex("click_ts")) match {
        case t: java.sql.Timestamp => t.getTime / 1000
        case d: java.time.LocalDateTime => d.toEpochSecond(java.time.ZoneOffset.UTC)
      }
      val expected = purchases.filter(_._1 <= clickSec).lastOption.map(_._2)
      val got = Option(r.getAs[java.lang.Long]("purchase_id")).map(_.longValue)
      assert(got == expected, s"user $uid click@$clickSec")
    }
  }

  test("R12: the as-of payload is row-atomic — a null-valued purchase keeps its null") {
    // two independent last(ignoreNulls) windows would pair purchase 200's
    // id with purchase 100's VALUE; the struct carry must not
    val dir = tmpDir("asof-null")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    Seq(
      (100L, ts(10), 1L, "purchase", Option(5.0), "{}"),
      (200L, ts(11), 1L, "purchase", Option.empty[Double], "{}"),
      (300L, ts(12), 1L, "click", Option.empty[Double], "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Temporal.r12AsofJoin(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("purchase_id") == 200L)
    assert(r.isNullAt(r.fieldIndex("purchase_value")),
      "purchase 200's null value must ride with its id — not purchase 100's 5.0")
  }

  test("T8: batch sessionize splits on >30min gaps and covers every event exactly once") {
    val sess = Temporal.t8SessionizeBatch(spark, sfDir)
    val total = sess.agg(sum("n_events")).head.getLong(0)
    val nEvents = graft.engine.Tables.events(spark, sfDir).count()
    assert(total == nEvents, "sessions must partition the events")
    // within a session, span ≥ 0
    val bad = sess.filter(col("session_end") < col("session_start")).count()
    assert(bad == 0)
    // sessions of one user don't overlap: each starts strictly more than
    // the 30-minute gap after the previous one's end (ordered by start)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    val overlaps = sess
      .withColumn("prev_end", lag(col("session_end"), 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("session_start") <= col("prev_end") + expr("INTERVAL 30 MINUTES"))
      .count()
    assert(overlaps == 0, "a user's sessions must be separated by more than the gap")
  }

  test("X6: stratified sample draws exactly k distinct rows per stratum, deterministically") {
    val s1 = Sampling.x6StratifiedSample(spark, sfDir).collect()
    val s2 = Sampling.x6StratifiedSample(spark, sfDir).collect()
    assert(s1.map(_.toString).toSeq == s2.map(_.toString).toSeq, "sample must be deterministic")
    val perStratum = s1.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(perStratum.values.forall(_ == 20), s"expected 20 per stratum: $perStratum")
    assert(s1.map(_.getLong(2)).distinct.length == s1.length, "no duplicate event ids")
  }

  test("X6: hash split is a partition of the corpus with stable proportions") {
    val split = Sampling.x6HashSplit(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = graft.engine.Tables.documents(spark, sfDir).count()
    assert(split.values.sum == n)
    assert(split("train") > split.getOrElse("validation", 0L))
    assert(split.keySet.subsetOf(Set("train", "validation", "test")))
  }

  test("X4: tf-idf ranks a term appearing in fewer documents above a ubiquitous one") {
    // hand corpus: 'rare' appears once in doc 1; 'the' appears everywhere
    val docs = Seq(
      (1L, "the rare the the"),
      (2L, "the common the the"),
      (3L, "the common the the")).toDF("doc_id", "text")
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .filter(col("doc_id") === 1).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Double]("tfidf")).toMap
    assert(scored("rare") > scored("the"),
      s"rare ${scored("rare")} must outrank ubiquitous ${scored("the")}")
    // and the full query emits exactly 3 ranked terms per fixture doc
    val full = TextAnalysis.x4TfIdf(spark, sfDir)
    val perDoc = full.groupBy("doc_id").agg(count(lit(1)).as("n"), max("rk").as("mx"))
    assert(perDoc.filter(col("n") =!= 3 || col("mx") =!= 3).count() == 0)
  }

  test("X4: redaction leaves no live email/phone and counts every planted one") {
    val rows = TextAnalysis.x4Redact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val clean = r.getAs[String]("clean")
      assert(!clean.matches(".*[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}.*"), clean)
      assert(clean.contains("<EMAIL>") && clean.contains("<PHONE>"))
      assert(r.getAs[Int]("n_emails") >= 1 && r.getAs[Int]("n_phones") >= 1)
    }
  }

  test("X4: chunking covers every token and overlapping regions agree") {
    val doc = graft.engine.Tables.documents(spark, sfDir)
      .orderBy(col("doc_id").desc).limit(1).collect().head
    val toks = doc.getAs[String]("text").split(" ")
    val chunks = TextAnalysis.x4Chunk(spark, sfDir)
      .filter(col("doc_id") === doc.getAs[Long]("doc_id"))
      .orderBy("chunk_no").collect().map(_.getAs[String]("chunk").split(" "))
    // starts at stride 24: chunk i begins at token 24*i
    chunks.zipWithIndex.foreach { case (c, i) =>
      val start = 24 * i
      assert(c.toSeq == toks.slice(start, math.min(start + 32, toks.length)).toSeq)
    }
    // final chunk reaches the last token
    assert(24 * (chunks.length - 1) + chunks.last.length == toks.length)
  }

  test("R5: approx_percentile lands within 1% of the exact grouped median") {
    val rows = Relational.r5ApproxPercentiles(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(2)),
      rows.map(r => s"${r.getString(0)}: exact=${r.getDouble(1)} ok=${r.getBoolean(2)}").mkString(", "))
    // the gate's exact side agrees with the standalone exact query
    val exact = Relational.r5Percentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    rows.foreach(r => assert(r.getDouble(1) == exact(r.getString(0))))
  }
}
