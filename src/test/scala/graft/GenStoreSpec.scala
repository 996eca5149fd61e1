package graft

import org.apache.spark.sql.functions._
import graft.operators.{GenStore, IvfStore, LabelStore}

/** The generational-store core ([[graft.operators.GenStore]]) shared by
  * IvfStore, LabelStore and DateStore: claim-time debris clearing, the
  * refusal of a stale claim, and the batch writer's empty-frame rule.
  */
class GenStoreSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int) = (0L until n.toLong).map { i =>
    (i, Seq(math.cos(i * 0.07).toFloat, math.sin(i * 0.07).toFloat, 0f, 0f), (i % 3).toInt)
  }.toDF("vec_id", "embedding", "label")

  private def docs(n: Int) =
    documentsOf((0L until n.toLong).map(i => (i, (0 until 30).map(j => s"d${i}_$j").mkString(" "))))

  test("a crashed delete's tombstone batch at the next generation does not mask a later append") {
    val store = tmpDir("genstore-debris") + "/store"
    IvfStore.buildVecs(vecs(64), store)
    // a corpus-driven delete wrote tombs/__batch=2 for ids that stay in
    // the corpus, then died before its publish
    Seq.tabulate(32)(i => (i.toLong, 0)).toDF("vec_id", "c_id").coalesce(1)
      .write.parquet(s"$store/tombs/__batch=2")
    // the next maintenance at generation 2 is an append, which writes
    // lists and digests but no tombstones
    assert(IvfStore.ensureIncrementalVecs(vecs(80).localCheckpoint(), store) == "incremental")
    val live = IvfStore.liveVectors(spark, store).select("vec_id").as[Long].collect().toSet
    assert(live == (0L until 80L).toSet,
      s"missing vectors: ${(0L until 80L).toSet -- live}")

    // the same debris under a label store, for base docs and for docs
    // the append adds
    val lstore = tmpDir("genstore-debris-labels") + "/store"
    LabelStore.buildDocs(docs(20).localCheckpoint(), lstore)
    (0L until 25L by 2).toDF("doc_id").coalesce(1)
      .write.parquet(s"$lstore/index/tombstones/__batch=2")
    assert(LabelStore.ensureIncrementalDocs(docs(25).localCheckpoint(), lstore) == "incremental")
    val gs = new GenStore(spark, lstore, "GenStoreSpec", Seq.empty)
    val g = gs.newest
    val ts = gs.tombstones("index/tombstones", g)
    for (ds <- Seq("index/digests", "index/sigs")) {
      val ids = GenStore.maskDead(gs.readBatches(ds, g), ts, "doc_id")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(ids == (0L until 25L).toSet, s"$ds missing docs: ${(0L until 25L).toSet -- ids}")
    }
  }

  test("a claim at or below a published generation is refused before it clears any batch") {
    val dir = tmpDir("genstore-stale-claim")
    val gs = new GenStore(spark, dir, "GenStoreSpec", Seq("ds"))
    val rows = Seq((1L, 0)).toDF("id", "p")
    for (k <- 1L to 3L) gs.claim(k, None) {
      gs.writeBatch(rows, "ds", k, Seq.empty)
      gs.publish(k, 1L, k, None, None, None, None, _ => true)(p => gs.fs.mkdirs(p))
    }
    // gen 1 is retired and its fence swept, so the fence alone admits a
    // writer whose read is two publishes old
    val root = new java.io.File(dir)
    assert(root.list().exists(_.startsWith(".gen=1__")))
    assert(!new java.io.File(root, ".fence-1").exists())
    val e = intercept[IllegalStateException] {
      gs.claim(1L, None) { fail("claimed generation 1 again") }
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    intercept[IllegalStateException](gs.acquire(1L, None))
    assert((1 to 3).forall(k => new java.io.File(root, s"ds/__batch=$k").exists()))
    assert(!new java.io.File(root, ".fence-1").exists(), "the refused claim keeps its fence")
  }

  test("an empty frame leaves no batch dir: the dataset stays readable, and alone it has no batches") {
    val dir = tmpDir("genstore-empty")
    val gs = new GenStore(spark, dir, "GenStoreSpec", Seq("ds", "lone"))
    val rows = Seq((1L, 0), (2L, 1)).toDF("id", "p")
    val empty = rows.filter(lit(false))
    gs.writeBatch(rows, "ds", 1L, Seq("p"))
    gs.writeBatch(empty, "ds", 2L, Seq("p"))
    assert(!new java.io.File(dir, "ds/__batch=2").exists())
    assert(spark.read.parquet(s"$dir/ds").select("id", "p", "__batch")
      .as[(Long, Int, Long)].collect().toSet ==
      Set((1L, 0, 1L), (2L, 1, 1L)))
    gs.writeBatch(empty, "lone", 1L, Seq("p"))
    assert(!gs.hasBatches("lone"))
  }

  test("readBatches resolves its schema from one footer: the inferred schema and rows, no job") {
    val dir = tmpDir("genstore-footer")
    val gs = new GenStore(spark, dir, "GenStoreSpec", Seq("ds"))
    for (k <- 1L to 3L) gs.claim(k, None) {
      gs.writeBatch(Seq((k, (k % 2).toInt, s"r$k"), (k + 10, 1, "s")).toDF("id", "p", "v"),
        "ds", k, Seq("p"))
      gs.publish(k, 1L, k, None, None, None, None, _ => true)(p => gs.fs.mkdirs(p))
    }
    val g = gs.newest
    val (df, jobs) = jobsDuring(gs.readBatches("ds", g))
    val inferred = spark.read.parquet(s"$dir/ds")
      .filter(col("__batch") >= g.base && col("__batch") <= g.k)
    assert(jobs == 0, s"$jobs job(s) to read the batches' schema")
    assert(df.schema == inferred.schema)
    assert(df.schema("__batch").dataType == inferred.schema("__batch").dataType)
    assert(df.collect().toSet == inferred.collect().toSet)
    assert(df.count() == 6)
  }

  test("readBatches of a dataset holding no data file still throws") {
    val dir = tmpDir("genstore-nodata")
    val gs = new GenStore(spark, dir, "GenStoreSpec", Seq("ds"))
    gs.claim(1L, None) {
      gs.publish(1L, 0L, 0L, None, None, None, None, _ => true)(p => gs.fs.mkdirs(p))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "ds", "__batch=1"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "ds", "__batch=1", "_SUCCESS"), "")
    intercept[org.apache.spark.sql.AnalysisException](gs.readBatches("ds", gs.newest).schema)
  }
}
