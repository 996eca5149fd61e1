package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared master-selection plumbing for the runtime mains and the test
  * session: `SPARK_GRAFT_MASTER` overrides the default `local[n]`, and a
  * `local-cluster[n,c,m]` master — REAL separate executor JVMs with
  * remote shuffle/broadcast fetch over a loopback RPC, no external
  * infrastructure — gets the extra wiring those child processes need.
  *
  * Why this exists: `local[n]` runs every task in the driver JVM, so
  * task closures, the native Catalyst expressions
  * ([[graft.functions.MinHashSig]] et al.), the
  * [[graft.plans.TopKPerGroup]] physical operators, and broadcast
  * variables are NEVER serialized across a process boundary — a
  * serialization defect is invisible locally and fatal on any real
  * cluster. `local-cluster` is the cheapest execution mode that crosses
  * that boundary; the round-13 verification runs the full oracle surface
  * under it.
  */
object Sessions {

  /** Env knob: e.g. `SPARK_GRAFT_MASTER=local-cluster[4,8,4096]`. */
  val MasterEnv = "SPARK_GRAFT_MASTER"

  def master(default: String): String = sys.env.getOrElse(MasterEnv, default)

  /** Env knob: the parallelism width of the runtime mains. */
  val CpusEnv = "SPARK_GRAFT_CPUS"

  /** The width `SPARK_GRAFT_CPUS` asks for, or `default` when it is unset. */
  def width(default: Int): Int = parseWidth(sys.env.getOrElse(CpusEnv, default.toString))

  /** A positive number is used as is and `*` is the available
    * processors, for the master and the shuffle partitions alike;
    * anything else fails at start.
    */
  private[graft] def parseWidth(w: String): Int =
    if (w == "*") Runtime.getRuntime.availableProcessors()
    else w.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$CpusEnv must be a positive number or '*', got '$w'"))

  /** The session recipe of every main and the test session: master
    * `local[width]` (or the [[MasterEnv]] override), `width` shuffle
    * partitions, and the [[recipe]] settings.
    */
  def builder(width: Int): SparkSession.Builder =
    recipe(withMaster(SparkSession.builder(), s"local[$width]"), width)

  /** The settings every graft session carries on top of its master:
    * `shufflePartitions`, the UTC session time zone, legacy nanos-long
    * parquet timestamps read as longs, the UI off, and graft's SQL
    * extensions.
    */
  def recipe(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(e => new graft.functions.GraftExtensions()(e))

  /** `b.getOrCreate()` with the driver's log level set. */
  def start(b: SparkSession.Builder, logLevel: String): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** The running JVM's launch arguments that `keep` selects. Under sbt
    * these come from build.sbt's `javaOptions`, the one list of JVM
    * options; under spark-submit, from the launcher.
    */
  private def inherited(keep: String => Boolean): Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.filter(keep)

  /** The JDK-17 module opens (`--add-opens=…`) Spark needs in every JVM
    * it owns, as the running JVM carries them.
    */
  private def moduleOpens: Seq[String] = inherited(_.startsWith("--add-opens"))

  /** The command line of a driver JVM started by hand (a second driver
    * racing a fence, a chaos harness, a victim to kill) that runs `main`
    * on this JVM's classpath: the running JVM's module opens and
    * `-Dspark.*` settings, so the child runs with the same Spark
    * settings, and a 3 GiB heap of its own.
    */
  def childJvm(main: String, args: String*): Seq[String] =
    Seq(s"${sys.props("java.home")}/bin/java") ++ moduleOpens ++
      inherited(_.startsWith("-Dspark.")) ++
      Seq("-Xmx3g", "-cp", sys.props("java.class.path"), main) ++ args

  /** Apply the master (env override or `default`) plus, for
    * `local-cluster`, the executor-process wiring: the driver's full
    * classpath (the Worker launches bare executor JVMs that otherwise
    * see only Spark's own jars — the application classes must ship) and
    * the module opens. `spark.jars`-style shipping would also work but
    * drags a packaging step into every run; the processes share one
    * machine, so the literal classpath is the honest transport.
    */
  def withMaster(b: SparkSession.Builder, default: String): SparkSession.Builder =
    withExactMaster(b, master(default))

  /** [[withMaster]] minus the env override — for harnesses whose claim
    * IS the topology (the executor-kill chaos main must run a real
    * multi-process cluster whatever the suite's master is).
    */
  def withExactMaster(b: SparkSession.Builder, m: String): SparkSession.Builder = {
    val withM = b.master(m)
    if (!m.startsWith("local-cluster")) withM
    else withM
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // opens only: Spark rejects -Dspark.* and -Xmx in extraJavaOptions;
      // executors take spark.* settings from the driver's SparkConf
      .config("spark.executor.extraJavaOptions", moduleOpens.mkString(" "))
      // PIN (not change) standalone's executor-retry bound (VERDICT r13
      // + round-14 self-review): 10 IS Spark 4.1.2's default — setting
      // it documents the dependence and guards upstream default drift,
      // nothing more. What the bound covers, against Master's removal
      // logic (remove only when the consecutive-failure counter hits
      // the bound AND no executor is RUNNING): (a) a genuinely
      // unschedulable app — executors dying at launch, the
      // missing-SPARK_SCALA_VERSION case — is removed within seconds
      // (observed in this round's mislaunched run); (b) a deliberate
      // kill of SOME executors (the chaos tests) never trips a healthy
      // app, survivors are RUNNING; (c) the r13 teardown storm
      // (`failed 299 times`) is NOT bounded by ANY value here — each
      // relaunched executor briefly reaches RUNNING against the
      // stopping driver, resetting the counter. That churn is
      // teardown-cosmetic (the app is already stopping) with no
      // conf-level fix; recorded so nobody "fixes" it by lowering this
      // value, which only hair-triggers (a).
      .config("spark.deploy.maxExecutorRetries", "10")
  }
}
