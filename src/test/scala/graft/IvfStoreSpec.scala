package graft

import org.apache.spark.sql.functions._

/** The IVF index ([[graft.operators.IvfStore]] and
  * [[graft.operators.Similarity.ivfIndex]]): centroid training runs on a
  * deterministic sample.
  */
class IvfStoreSpec extends SparkSpec {

  test("IVF sampled training: centroids from a 10k corpus equal centroids from its md5-rank 8192-prefix; lists cover the full corpus") {
    import graft.operators.{Caches, Similarity}
    val emb = spark.range(10000).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), j ->
             |  CAST(CAST(pmod(xxhash64(id * 97 + j), 1000) AS DOUBLE) / 1000.0 - 0.5 AS FLOAT))"""
        .stripMargin).as("embedding"))
    try {
      val e = Similarity.normedOf(emb)
      val (cent, lists) = Similarity.ivfIndex(e)
      val prefix = e.withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy("h").limit(Similarity.IvfTrainSample)
        .select(col("vec_id"), col("e"), col("norm"))
      val (centP, _) = Similarity.ivfIndex(prefix)
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("c_id").collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toList)).toList
      assert(snap(cent) == snap(centP),
        "sampled training must be a pure function of the md5-rank prefix")
      assert(lists.count() == 10000,
        "every corpus vector must still be assigned to a cell")
    } finally Caches.releaseScoped()
  }
}
