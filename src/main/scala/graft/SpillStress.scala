package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Spill-to-disk proof (VERDICT r10 item 2): every optimization row in
  * SURVEY §4.2 has been exercised except the one that defines
  * "data ≫ RAM" — all prior runs had 128 GiB against sf0.1 data that
  * fits in memory, so `UnsafeExternalSorter`/hash-agg spill never
  * actually fired. This main sizes the data past the heap instead:
  * lineitem replicated ×16 (~9.6M rows at sf0.1), three shuffle-heavy
  * shapes (high-cardinality hash aggregate → sort-based fallback; a
  * sort-merge self-join; a full global sort written out), run under a
  * constrained driver heap (`SPARK_DRIVER_MEM=2g` — local mode, so the
  * executors share it) and a spill-metrics listener.
  *
  * Evidence contract: the outer script runs this main TWICE — once at
  * the normal 8g heap (baseline, typically zero spill) and once at 2g —
  * and compares the per-query CHECKSUMS between runs: identical
  * checksums with nonzero `disk_spilled` at 2g is the claim "spill
  * fired and results are exactly the in-memory results", measured, not
  * designed-for. Output: one JSON line
  * `{"stress":"spill","heap":…,"queries":{name:{sec, rows, checksum,
  * mem_spilled, disk_spilled}},"total_disk_spilled":…}`.
  */
object SpillStress {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft-spill"
    val copies = sys.env.getOrElse("SPARK_SPILL_COPIES", "16").toInt
    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val spark = Sessions.start(Sessions.builder(Sessions.width(32))
      .appName("graft-spill-stress")
      // the join must sort-merge, not broadcast — the sorters are the
      // spill surface under test
      .config("spark.sql.autoBroadcastJoinThreshold", "-1"), "WARN")

    val memSpilled = new AtomicLong
    val diskSpilled = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    // ---- derived big table: ×copies lineitem with disjoint order keys
    // (group/join cardinality scales with the data, as a real 100 TB
    // fact table's would — replicating keys instead would just deepen
    // per-key chains)
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val maxKey = li0.agg(max(col("l_orderkey"))).head.getLong(0) + 1
    val big = s"$work/lineitem_x$copies.parquet"
    (0 until copies)
      .map(i => li0.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxKey)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(big)
    val li = spark.read.parquet(big)

    def timed(body: => (Long, Double)): (Double, Long, Double, Long, Long) = {
      // settle the listener bus so earlier queries' task metrics can't
      // bleed into this query's window (the bus is private — a bounded
      // drain pause is enough for per-query ATTRIBUTION; the asserted
      // total is exact regardless)
      Thread.sleep(1500)
      val (m0, d0) = (memSpilled.get, diskSpilled.get)
      val t0 = System.nanoTime()
      val (rows, checksum) = body
      // stop the clock BEFORE the trailing drain pause — the sleep only
      // exists so the spill counters read after it attribute this
      // query's tasks; it is not query time
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500)
      (sec, rows, checksum, memSpilled.get - m0, diskSpilled.get - d0)
    }

    def checksumOf(df: DataFrame, value: org.apache.spark.sql.Column): (Long, Double) = {
      val r = df.agg(count(lit(1)), sum(value.cast("decimal(38,6)")).cast("double")).head
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Long, Double, Long, Long)]()

    // 1. high-cardinality hash aggregate: ~one group per input row forces
    //    the partial AND final hash maps past execution memory → Spark's
    //    sort-based fallback, whose sorter spills
    results("agg_highcard") = timed {
      val g = li.groupBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity").cast("decimal(28,6)")).cast("double").as("q"),
          sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double").as("p"))
      checksumOf(g, col("q") + col("p"))
    }

    // 2. sort-merge self-join on the order key: both 9.6M-row sides sort
    //    (UnsafeExternalSorter), ~6× fan-out verified by checksum
    results("smj_selfjoin") = timed {
      val a = li.select(col("l_orderkey"), col("l_quantity").as("qa"))
      val b = li.select(col("l_orderkey"), col("l_quantity").as("qb"))
      checksumOf(a.join(b, "l_orderkey"), col("qa") * col("qb"))
    }

    // 3. full global sort, written out (range partition + per-partition
    //    external sort — the classic data ≫ RAM shape). The checksum
    //    re-reads what landed, so a partial/failed write cannot pass.
    results("global_sort") = timed {
      li.orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_partkey"), col("l_linenumber"))
        .write.mode(SaveMode.Overwrite).parquet(s"$work/sorted.parquet")
      checksumOf(spark.read.parquet(s"$work/sorted.parquet"),
        col("l_extendedprice") * col("l_linenumber"))
    }

    val q = results.map { case (name, (sec, rows, cs, m, d)) =>
      f""""$name":{"sec":$sec%.2f,"rows":$rows,"checksum":$cs%.6f,"mem_spilled":$m,"disk_spilled":$d}"""
    }.mkString(",")
    println(s"""{"stress":"spill","heap":"$heap","copies":$copies,""" +
      s""""queries":{$q},"total_mem_spilled":${memSpilled.get},""" +
      s""""total_disk_spilled":${diskSpilled.get}}""")
    spark.stop()
  }
}
