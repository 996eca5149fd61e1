package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: writes `queryExecution.explainString(formatted)` for
  * every `SparkEntry.queries` entry to `outDir/<name>.txt`. Used to review
  * scan pushdown (`PushedFilters`/`ReadSchema`), join strategies
  * (broadcast vs shuffle), and whole-stage-codegen coverage — the
  * 100 TB design checks from SURVEY.md §4.4.
  *
  * Usage: `runMain graft.Explain <sfDir> <outDir> [queryName...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Sessions.start(Sessions.builder(Sessions.width(4))
      .config("spark.sql.adaptive.enabled", "true"), "WARN")
    new java.io.File(outDir).mkdirs()
    val unknownQ = args.drop(2).toSet.diff(SparkEntry.queries.keySet)
    require(unknownQ.isEmpty,
      s"unknown query name(s): ${unknownQ.toSeq.sorted.mkString(", ")}")
    val selected =
      if (args.length <= 2) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.drop(2).toSet).toMap
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        // delete the previous run's plan: a reviewer must never audit a
        // stale .txt for a query that no longer even builds
        Files.deleteIfExists(Paths.get(s"$outDir/$name.txt"))
        failed ::= name
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
