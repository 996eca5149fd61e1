package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork := true). */
object TestSession {
  // SPARK_GRAFT_MASTER lets the plan-pin suites run under
  // local-cluster[n,c,m] — the cross-JVM serialization check
  lazy val spark: SparkSession = Sessions.start(Sessions.builder(4).appName("graft-test"), "WARN")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `rows` as a documents table: (doc_id, text, source, lang, n_chars). */
  protected def documentsOf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Admission-batch rows as a `(doc_id, text)` frame. */
  protected def frame(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  /** A label store's `(doc_id, label)` pairs. */
  protected def labelSet(store: String): Set[(Long, Long)] =
    graft.operators.LabelStore.read(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Write `docs` as `<dir>/documents.parquet` in four files. */
  protected def writeDocs(docs: Seq[(Long, String)], dir: String): Unit =
    documentsOf(docs).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** `body`'s result and the number of Spark jobs started while it ran. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Run `body` with session confs set, restoring (set-back or unset)
    * on every exit — the shared session must never leak one suite's
    * conf into the next. Hoisted here from seven identical per-suite
    * copies (round-14 self-review).
    */
  protected def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Set JVM props for the body, restoring on every exit — the fence
    * leases ([[graft.operators.StoreDirs.staleFenceMs]] etc.) read
    * sys.props at call time, so tests can shrink them.
    */
  protected def withProps[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> sys.props.get(k) }
    pairs.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally old.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None)    => sys.props.remove(k)
    }
  }
}
