package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Each generated class compiles once per JVM: build.sbt sizes Spark's
  * JVM-global codegen cache above the program's working set, turns
  * per-session artifact class loaders off and keeps the codegen stage id
  * out of generated class names, so work the JVM has already run
  * compiles nothing when it runs again.
  */
class CodegenReuseSpec extends SparkSpec {

  /** The benchmark's `query_mix` keys: more distinct generated classes
    * than Spark's default cache (100 entries) holds. */
  private val queryMix = Seq(
    "q1_revenue_agg", "q3_shipping_priority", "q5_local_supplier", "q6_forecast",
    "q9_profit_shape", "q13_custdist", "q18_large_orders", "q21_waiting_supplier",
    "r4_range_join_binned", "r8_topk_grouped",
    "dag_etl_clean", "dag_complex_union_gate", "dag_kafka_validate_enrich_upsert",
    "l5_upsert_last_wins", "a4_dlq_routing")

  /** Janino compilations `body` adds, JVM-wide. */
  private def compilesOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass of the benchmark's query mix compiles no generated class") {
    def pass(): Map[String, Long] = {
      val perKey = queryMix.map(k => k -> compilesOf(SparkEntry.queries(k)(spark, sfDir).collect())).toMap
      graft.operators.Caches.releaseScoped()
      spark.catalog.clearCache()
      perKey
    }
    val first = pass()
    val second = pass()
    assert(second.values.sum == 0,
      s"second pass compiled ${second.filter(_._2 > 0)} (first pass ${first.values.sum})")
  }

  test("a second AvailableNow drain of the same input compiles no generated class") {
    import graft.streaming.Streams
    val topic = tmpDir("codegen-topic")
    graft.sources.Sinks.produceJson(graft.engine.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value")), topic)
    // every drain starts a fresh streaming query, which clones the session
    def drain(): Unit =
      Streams.upsertSink(Streams.transform(Streams.subscribe(spark, topic)),
        "user_id", "event_id", tmpDir("codegen-store"), tmpDir("codegen-ck"))
        .awaitTermination()
    val first = compilesOf(drain())
    val second = compilesOf(drain())
    assert(second == 0, s"second drain compiled $second classes (first drain $first)")
  }

  test("child driver JVMs inherit the module opens and Spark settings of this JVM") {
    val cmd = Sessions.childJvm("graft.Main", "arg")
    assert(cmd.exists(_.startsWith("--add-opens=java.base/java.lang=")), cmd)
    assert(cmd.exists(_.startsWith("-Dspark.sql.codegen.cache.maxEntries=")), cmd)
    assert(cmd.contains("-Dspark.sql.artifact.isolation.enabled=false"), cmd)
    assert(cmd.contains("-Dspark.sql.codegen.useIdInClassName=false"), cmd)
    assert(cmd.count(_.startsWith("-Xmx")) == 1 && cmd.takeRight(2) == Seq("graft.Main", "arg"), cmd)
  }
}
