package graft

import org.apache.spark.sql.SparkSession

/** Subprocess side of GenStoreSpec's two-process fence race: a SECOND
  * driver JVM running the same LabelStore maintenance entry against the
  * same store path — the fence's actual adversary (GenStoreSpec also
  * races two writers inside one JVM; the zombie scenario ADVICE r11 named is
  * a separate PROCESS, whose stamped token differs and whose liveness a
  * filesystem fence can only infer).
  *
  * Protocol (file-based, the parent owns the paths):
  *   args = corpusDir, storeDir, readyFile, goFile, outcomeFile
  * The main boots its own Spark session, touches `readyFile`, spins on
  * `goFile`, then calls `ensureCurrentIncremental` once and writes
  * `ok:<mode>` or `conflict:<message head>` to `outcomeFile`. Exit 0
  * for both adjudicated outcomes; anything else is an unexpected crash
  * and exits 1.
  */
object FenceRaceMain {
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, storeDir, readyFile, goFile, outcomeFile) = args
    val spark = Sessions.start(Sessions.recipe(
      SparkSession.builder().master("local[2]").appName("graft-fence-race"), 2), "ERROR")
    def write(path: String, content: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), content)
    try {
      write(readyFile, "ready")
      val deadline = System.currentTimeMillis() + 120000L
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(goFile))) {
        if (System.currentTimeMillis() > deadline) sys.error("no go signal")
        Thread.sleep(20)
      }
      val out =
        try s"ok:${graft.operators.LabelStore.ensureCurrentIncremental(spark, corpusDir, storeDir)}"
        catch {
          // both adjudicated loud-loss classes: the fence's
          // IllegalStateException ("concurrent writer") AND the publish
          // CAS's require — an IllegalArgumentException ("store
          // advanced") — are legitimate race outcomes, not crashes
          case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
            s"conflict:${Option(e.getMessage).getOrElse("").take(120)}"
        }
      write(outcomeFile, out)
    } catch {
      case t: Throwable =>
        try write(outcomeFile, s"crash:${t.toString.take(200)}") catch { case _: Throwable => () }
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
