package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GenStore, LabelStore}

/** The materialized dedup-label store ([[graft.operators.LabelStore]]):
  * build and read equal the direct pipeline, incremental append and
  * delete equal a from-scratch build, crash debris self-heals, the
  * recorded index geometry governs later writes, and the store-backed
  * corpus composite and streaming maintenance serve the same labels.
  */
class LabelStoreSpec extends SparkSpec {

  test("a failed index write settles its sibling before the failure propagates") {
    // the sigs half fails at once (its dataset path is a plain file); the
    // bands half is a real job over an unmaterialized signing, so at the
    // throw it would still be running if the failure were not settled
    val store = tmpDir("label-settle") + "/store"
    val gs = new GenStore(spark, store, "LabelStore",
      Seq("index/digests", "index/sigs", "index/bands", "index/tombstones"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store, "index"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(store, "index", "sigs"), "x")
    val sig = spark.range(0, 20000, 1, 8)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(40)), j =>
          concat(lit("w"), ((col("id") * 7 + j) % 5000).cast("string")))).as("text"))
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .withColumn("sig", Dedup.minhashSig)
    intercept[Exception](LabelStore.writeSigsBands(gs, sig, 1L, (64, 16)))
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "the bands write was still running when the sigs failure propagated")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store, "index", "bands", "_temporary")),
      "the bands write left an uncommitted job behind")
  }
}
