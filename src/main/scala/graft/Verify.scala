package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+: optional query-name subset (local iteration probe); the
    // driver always passes exactly (sfDir, outDir) → full surface
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [queryName ...]")
    val Array(sfDir, outDir) = args.take(2)
    val selected = args.drop(2).toSet
    val unknownQ = selected.diff(SparkEntry.queries.keySet)
    require(unknownQ.isEmpty,
      s"unknown query name(s): ${unknownQ.toSeq.sorted.mkString(", ")}")
    // SPARK_GRAFT_MASTER overrides (e.g. local-cluster[4,8,4096] — real
    // separate executor JVMs, the serialization-boundary run)
    val spark = Sessions.start(Sessions.builder(Sessions.width(4)), "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected.isEmpty || selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cache scope: no oracle query leaves stage caches
      // registered for the session (Caches scaladoc; VERDICT r12 #4)
      graft.operators.Caches.releaseScoped()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.isEmpty || selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
