package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.engine.Tables

/** The pinned fixture schema contract (FIXTURES.md → Tables.pinned).
  *
  * Round 8 proved the failure mode this guards: a driver-side writer
  * change flipped `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP_NTZ(µs)
  * between rounds and took out an operator plus two specs with zero code
  * churn. The contract makes any future drift fail loudly in ONE place.
  */
class FixtureContractSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(dir: String, tsExpr: String): Unit = {
    spark.range(5).select(
      col("id").as("event_id"),
      expr(tsExpr).as("ts"),
      (col("id") % 2).as("user_id"),
      lit("click").as("event_type"),
      lit(1.5).as("value"),
      lit("{\"k\": 1}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("Tables.events: NTZ footer and legacy nanos-long footer yield the same instants") {
    val ntzDir = tmpDir("fix-ntz")
    val nanosDir = tmpDir("fix-nanos")
    // naive µs footer → Spark reads TIMESTAMP_NTZ
    writeEvents(ntzDir, "to_timestamp_ntz('2024-01-03 06:00:00') + make_interval(0,0,0,0,0,0,id*3600)")
    // legacy TIMESTAMP(NANOS) surfaces as nano-epoch LongType under the
    // nanosAsLong flag — same shape as writing the raw longs
    writeEvents(nanosDir,
      "(unix_micros(to_timestamp('2024-01-03 06:00:00')) + id*3600000000L) * 1000")

    val ntz = Tables.events(spark, ntzDir)
    val nanos = Tables.events(spark, nanosDir)
    // footer-faithful types: NTZ stays NTZ (oracle symmetry), nanos-long
    // is normalized to microsecond TimestampType (its footers were
    // UTC-adjusted)
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    assert(nanos.schema("ts").dataType == TimestampType)
    // and the instants agree exactly under the pinned UTC session TZ
    def us(df: DataFrame): Seq[Long] =
      df.select(Tables.epochUs(col("ts"))).orderBy("ts").as[Long].collect().toSeq
    assert(us(ntz) == us(nanos))
    assert(us(ntz).head == 1704261600000000L) // 2024-01-03T06:00:00Z in µs
  }

  test("Tables.events: a drifted column type fails loudly naming the table and column") {
    val dir = tmpDir("fix-drift")
    spark.range(3).select(
      col("id").as("event_id"),
      lit("2024-01-01").as("ts"), // string ts: not a timestamp shape
      col("id").as("user_id"),
      lit("view").as("event_type"),
      lit(0.5).as("value"),
      lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("fixture drift"))
  }

  test("Tables: a missing or reordered column set fails loudly") {
    val dir = tmpDir("fix-cols")
    spark.range(3).select(col("id").as("event_id"), lit("x").as("oops"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("fixture drift") && e.getMessage.contains("events"))
  }

  test("Tables: every real fixture table passes its pinned contract at sf0.001") {
    // schema-only assertions; a pass here means the driver's current
    // footers match FIXTURES.md as normalized
    Seq(
      Tables.region(spark, sfDir), Tables.nation(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.part(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir), Tables.events(spark, sfDir),
      Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir)
    ).foreach(df => assert(df.schema.nonEmpty))
  }

  private val fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("Tables: every sf0.001 fixture read resolves its schema without a Spark job") {
    val loads: Seq[(SparkSession, String) => DataFrame] =
      Seq(Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
        Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
    fixtures.zip(loads).foreach { case (t, load) =>
      val (_, jobs) = jobsDuring(load(spark, sfDir))
      assert(jobs == 0, s"Tables.$t ran $jobs job(s)")
    }
  }

  test("Tables: each fixture's footer schema equals the one Spark infers") {
    fixtures.foreach { t =>
      assert(Tables.table(spark, sfDir, t).schema ==
        spark.read.parquet(s"$sfDir/$t.parquet").schema, t)
    }
  }

  test("Tables.customer: a footer without c_mktsegment is drift, not a null column") {
    val dir = tmpDir("fix-missing")
    Tables.customer(spark, sfDir).drop("c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val e = intercept[IllegalStateException](Tables.customer(spark, dir))
    assert(e.getMessage.contains("fixture drift") && e.getMessage.contains("customer"),
      e.getMessage)
  }

  test("Tables.epochUs is total over NTZ and LTZ and agrees across them") {
    val df = spark.sql(
      "SELECT to_timestamp_ntz('2024-01-05 12:30:00') AS n, to_timestamp('2024-01-05 12:30:00') AS l")
    val r = df.select(Tables.epochUs(col("n")), Tables.epochUs(col("l"))).head
    assert(r.getLong(0) == r.getLong(1))
  }
}
