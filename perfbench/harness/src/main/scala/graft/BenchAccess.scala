package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only views of store internals the benchmark's checker needs. */
object BenchAccess {
  /** The vector ids an IVF store serves, one row per live vector. */
  def ivfLiveIds(s: SparkSession, storeDir: String): DataFrame =
    graft.operators.IvfStore.liveVectors(s, storeDir).select("vec_id")
}
