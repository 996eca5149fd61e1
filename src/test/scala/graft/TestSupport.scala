package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.Assertions._

/** Fixtures shared by the component suites and the chaos mains: the
  * band-store admission topics and texts, the readers of what a drain
  * admitted, store listings and content digests.
  */
object Fixtures {

  /** The schema of an admission topic's JSON lines. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** The events-table schema DateStore's row digest is wired to. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** One admission-topic line. */
  def doc(id: Long, text: String): String = s"""{"doc_id":$id,"text":"$text"}"""

  /** 25 tokens unique to `(tag, i)`: two texts share no 3-shingle. */
  def text(tag: String, i: Int): String =
    (0 until 25).map(j => s"${tag}_w${i}_$j").mkString(" ")

  /** `n` tokens `prefix0 … prefix<n-1>`. */
  def tokens(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  /** Template `t`: 12 tokens from a vocabulary of its own, so texts of
    * two templates have Jaccard 0.
    */
  def template(t: Int): String = tokens(s"t${t}w", 12)

  /** Line `id` of a drain topic: every 5th doc repeats the text of the
    * doc four ids before it, so admission does real veto work (store
    * probe and in-batch pre-filter), not only pass-through admission.
    */
  def dupDocLine(id: Long): String = {
    val base = if (id % 5 == 4) id - 4 else id
    doc(id, (0 until 25).map(j => s"w${base}_$j").mkString(" "))
  }

  /** A topic of six files `b0.json` … `b5.json` of `perFile` lines each;
    * with `maxFilesPerTrigger=1` every file is one micro-batch.
    */
  def writeTopic(dir: String, perFile: Long)(line: Long => String): Unit = {
    new File(dir).mkdirs()
    (0 until 6).foreach { f =>
      val ids = (f * perFile) until (f * perFile + perFile)
      Files.writeString(Paths.get(s"$dir/b$f.json"), ids.map(line).mkString("\n"))
    }
  }

  /** The doc ids an admission wrote to `dir`. */
  def admittedIds(spark: SparkSession, dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet

  /** The doc ids batch `b` admitted into `dir`. */
  def admittedIn(spark: SparkSession, dir: String, b: Long): Set[Long] =
    spark.read.parquet(dir).filter(col("__batch") === b)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  /** The numbers of a store's live `gen=<k>__…` generation dirs. */
  def generations(store: String): Seq[Long] =
    Option(new File(store).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("gen=")).toSeq
      .map(_.stripPrefix("gen=").takeWhile(_ != '_').toLong)

  /** MD5 over the sorted row renderings of `df`. */
  def digest(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Simulate a crash between the foreachBatch effects and the commit:
    * the commit record for the latest batch never lands. The Hadoop
    * local FS keeps a `.N.crc` checksum sibling per commit file — a real
    * crash writes neither, so both go.
    */
  def dropLatestCommit(ckpt: String): Unit = {
    import scala.jdk.CollectionConverters._
    val commits = Paths.get(ckpt, "commits")
    val latest = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.forall(_.isDigit))
      .maxBy(_.toLong)
    Files.delete(commits.resolve(latest))
    Files.deleteIfExists(commits.resolve(s".$latest.crc"))
  }
}

/** Driver JVMs a suite starts by hand: a second driver racing a fence,
  * the chaos harness, a victim to kill.
  */
object ChildJvm {

  /** Start `main` in a child driver JVM ([[Sessions.childJvm]]) with its
    * output in `log`. `SPARK_SCALA_VERSION` is pinned: a local-cluster
    * master inside the child launches executor JVMs through the
    * spark-launcher command builder, which needs it when SPARK_HOME is a
    * binary dist (without it every executor dies at launch with "Cannot
    * find any build directories").
    */
  def start(log: File, main: String, args: String*): Process = {
    val pb = new ProcessBuilder(Sessions.childJvm(main, args: _*): _*)
      .redirectErrorStream(true).redirectOutput(log)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.start()
  }

  def readLog(f: File): String =
    try new String(Files.readAllBytes(f.toPath), "UTF-8")
    catch { case _: Throwable => "<no log>" }

  def logTail(f: File): String = readLog(f).takeRight(1200)

  /** Wait up to `seconds` for `proc` and assert it exited 0. */
  def awaitSuccess(proc: Process, seconds: Long, log: File, what: String): Unit = {
    assert(proc.waitFor(seconds, TimeUnit.SECONDS), s"$what timed out — ${logTail(log)}")
    assert(proc.exitValue() == 0, s"$what failed — ${logTail(log)}")
  }

  /** Spawn [[DriverVictim]] with `args`, SIGKILL it the first moment
    * `trigger()` turns true, and return whether the kill verifiably
    * landed IN FLIGHT: the victim had started its maintenance call
    * (VICTIM-START printed) but not finished it (no VICTIM-DONE). A
    * victim that exits before the trigger fires returns false — the
    * caller retries with a fresh store.
    */
  def killVictim(logFile: File, args: Seq[String])(trigger: () => Boolean): Boolean = {
    val proc = start(logFile, "graft.DriverVictim", args: _*)
    val deadline = System.currentTimeMillis() + 180000L
    var fired = false
    while (!fired && proc.isAlive && System.currentTimeMillis() < deadline) {
      if (trigger()) { proc.destroyForcibly(); fired = true }
      else Thread.sleep(20)
    }
    proc.waitFor(30, TimeUnit.SECONDS)
    val log = readLog(logFile)
    fired && log.contains("VICTIM-START") && !log.contains("VICTIM-DONE")
  }
}
