package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Sources}

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  test("S1: fetchToFile lands a file:// URL with retries") {
    val src = Files.createTempFile("fetch", ".csv")
    Files.writeString(src, "a,b\n1,x\n2,y\n")
    val dest = tmpDir("landing") + "/data.csv"
    Sources.fetchToFile(src.toUri.toString, dest)
    assert(Files.readString(Paths.get(dest)).contains("2,y"))
  }

  test("S1: fetchToFile fails after maxRetries on a missing URL") {
    val err = intercept[RuntimeException] {
      Sources.fetchToFile("file:///nonexistent/nope.csv", tmpDir("landing") + "/x", maxRetries = 2)
    }
    assert(err.getMessage.contains("after 2 attempts"))
  }

  test("S3/L1: CSV round-trip with header and inferred schema") {
    val dir = tmpDir("csv")
    val df = Seq((1, "x", 1.5), (2, "y", 2.5)).toDF("id", "name", "v")
    Sinks.writeCsv(df, dir)
    val back = Sources.readCsv(spark, dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "v"))
    assert(back.schema("id").dataType.typeName == "integer") // inference worked
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("S4/L2: JSON-records round-trip (many records per file)") {
    val dir = tmpDir("json")
    // one part file with MANY lines — multiLine=true would collapse this
    // to a single record, which is exactly the bug the driver gate caught
    val df = (1L to 50L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
    Sinks.writeJsonRecords(df, dir)
    val back = Sources.readJsonRecords(spark, dir)
    assert(back.count() == 50)
    assert(back.filter(col("id") === 2).collect().head.getAs[String]("name") == "n2")
  }

  test("S4: multiLine mode reads a pandas-style whole-file records array") {
    val dir = tmpDir("jsonarr")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/records.json"),
      """[{"id": 1, "name": "x"}, {"id": 2, "name": "y"}]""")
    val back = Sources.readJsonRecords(spark, dir, multiLine = true)
    assert(back.count() == 2)
    assert(back.filter(col("id") === 1).collect().head.getAs[String]("name") == "x")
  }

  test("L9: compact shrinks a many-file directory to the byte-derived count, content identical") {
    val dir = tmpDir("compact")
    val df = graft.engine.Tables.events(spark, sfDir)
    df.repartition(16).write.mode("overwrite").parquet(dir)
    def parts(d: String) = new java.io.File(d).listFiles
      .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    val before = parts(dir)
    assert(before >= 16)
    val checksum = spark.read.parquet(dir).agg(sum(col("event_id"))).head.getLong(0)
    val n = Sinks.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n == 1 && parts(dir) == 1, s"expected 1 file, got ${parts(dir)}")
    val after = spark.read.parquet(dir)
    assert(after.count() == df.count())
    assert(after.agg(sum(col("event_id"))).head.getLong(0) == checksum)
  }

  test("L9: compact preserves a __bucket-partitioned store's layout; the next upsert still merges") {
    val store = tmpDir("compact-bucketed") + "/store"
    Sinks.upsertByKey(Seq((1L, 10L, "a"), (2L, 11L, "b")).toDF("id", "off", "v"),
      "id", "off", store)
    Sinks.upsertByKey(Seq((1L, 12L, "a2")).toDF("id", "off", "v"), "id", "off", store)
    Sinks.compact(spark, store, targetFileBytes = 1L << 30)
    assert(new java.io.File(store).listFiles().exists(_.getName.startsWith("__bucket=")),
      "compaction must preserve the partition layout (a flattened store reads as absent)")
    // the next upsert must MERGE into the compacted store, not replace it
    Sinks.upsertByKey(Seq((3L, 13L, "c")).toDF("id", "off", "v"), "id", "off", store)
    val back = spark.read.parquet(store)
    assert(back.count() == 3, "compaction must not cost the store its history")
    assert(back.filter(col("id") === 1L).select("v").head.getString(0) == "a2")
  }

  test("L5: a NULL key upserts null-safely instead of duplicating per batch") {
    val store = tmpDir("upsert-nullkey") + "/store"
    Sinks.upsertByKey(Seq((Option(1L), 10L, "a"), (Option.empty[Long], 11L, "n1"))
      .toDF("id", "off", "v"), "id", "off", store)
    Sinks.upsertByKey(Seq((Option.empty[Long], 12L, "n2")).toDF("id", "off", "v"),
      "id", "off", store)
    val back = spark.read.parquet(store)
    assert(back.count() == 2, "the null-keyed row must upsert, not accumulate")
    assert(back.filter(col("id").isNull).select("v").head.getString(0) == "n2")
  }

  test("L3: replaceTable fully replaces prior contents") {
    val dir = tmpDir("table")
    Sinks.replaceTable(Seq((1, "old")).toDF("id", "v"), dir)
    Sinks.replaceTable(Seq((2, "new")).toDF("id", "v"), dir)
    val out = spark.read.parquet(dir).collect()
    assert(out.length == 1 && out.head.getString(1) == "new")
  }

  test("L4: appendDocuments accumulates") {
    val dir = tmpDir("docs")
    Sinks.appendDocuments(Seq((1, "a")).toDF("id", "v"), dir)
    Sinks.appendDocuments(Seq((2, "b")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("L6: produceJson writes one JSON object per record") {
    val dir = tmpDir("topic")
    Sinks.produceJson(Seq((1, "x")).toDF("id", "title"), dir)
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.length == 1)
    assert(lines.head == """{"id":1,"title":"x"}""")
  }

  test("S8: scrape extracts h1 titles (trimmed) and first 10 hrefs, 1-indexed") {
    val html =
      """<html><h1> Big News </h1><p>text</p><h1>Second</h1><H1>
        | Third
        |</H1>""".stripMargin +
        (1 to 15).map(i => s"""<a href="/l$i">l</a>""").mkString + "</html>"
    val pages = Seq(html).toDF("html")
    val out = Sources.scrape(pages).collect()
    val titles = out.filter(_.getString(0) == "title").sortBy(_.getInt(1))
    val links = out.filter(_.getString(0) == "link")
    // real HTML breaks titles across lines and mixes tag case — both must
    // still match, stripped like the reference's .strip()
    assert(titles.map(_.getString(2)).toSeq == Seq("Big News", "Second", "Third"))
    assert(links.length == 10) // first 10 hrefs only
    assert(links.map(_.getInt(1)).sorted.toSeq == (1 to 10))
    assert(links.map(_.getString(2)).contains("/l1"))
  }

  test("S9: waitForPath sees a file that appears before timeout") {
    val dir = tmpDir("sensor")
    val p = s"$dir/flag"
    new Thread(() => { Thread.sleep(200); Files.writeString(Paths.get(p), "ok") }).start()
    assert(Sources.waitForPath(p, pokeIntervalMs = 50, timeoutMs = 5000))
    assert(!Sources.waitForPath(s"$dir/never", pokeIntervalMs = 20, timeoutMs = 100))
  }

  test("L8: notification renders counts") {
    val html = Sinks.renderNotification("run done", Map("consumed" -> 100L, "stored" -> 99L))
    assert(html.contains("<td>consumed</td><td>100</td>"))
  }

  test("upsert-store geometry: a FRESH foreign record is adopted (racing first writers converge), and the layout matches it") {
    import graft.sources.Sinks
    val root = tmpDir("r14-ugeo-race")
    val store = s"$root/store"
    // simulate racer A: it stamped upsertBuckets=4 milliseconds ago and
    // has not written its data yet
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, ".store.geometry"), "upsertBuckets=4")
    // racer B arrives with conf 16: it must ADOPT 4, not force 16 —
    // bucketing its data by anything but the surviving record is the
    // silent mis-prune ADVICE r13 flagged
    withConf(Sinks.UpsertBucketsConf -> "16") {
      Sinks.upsertByKey(
        (0L until 64L).map(i => (i, i, s"v$i")).toDF("off", "id", "v"),
        "id", "off", store)
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, ".store.geometry")) == "upsertBuckets=4",
      "a fresh record is a live racer's — adopt, never replace")
    val buckets = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).map(_.getName).toSeq
    assert(buckets.nonEmpty && buckets.size <= 4,
      s"the data layout must follow the adopted 4-bucket record: $buckets")
    // and the adopted geometry serves merges correctly: an upsert of an
    // existing key must replace, not duplicate
    withConf(Sinks.UpsertBucketsConf -> "16") {
      Sinks.upsertByKey(Seq((100L, 3L, "new")).toDF("off", "id", "v"), "id", "off", store)
    }
    val rows = spark.read.parquet(store).filter(col("id") === 3L).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("v") == "new",
      s"merge under adopted geometry must upsert exactly: ${rows.toSeq}")
  }

  test("L5 init claim: stale claim with no store activity is reclaimed by rename; the writer goes initial and leaves no debris") {
    import graft.sources.Sinks
    val root = tmpDir("r15-init-stale")
    val store = s"$root/store"
    val claim = java.nio.file.Paths.get(root, ".store.init")
    java.nio.file.Files.createFile(claim)
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))
    withProps("graft.store.fence.restartMs" -> "500") {
      Sinks.upsertByKey(Seq((1L, 1L, "a")).toDF("off", "id", "v"), "id", "off", store)
    }
    assert(spark.read.parquet(store).count() == 1)
    assert(!java.nio.file.Files.exists(claim),
      "the initial writer releases its claim after the write")
    val debris = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".store.init.reclaim-"))
    assert(debris.isEmpty, s"reclaim rename debris left behind: ${debris.toSeq}")
  }

  test("L5 init claim: a stale claim with RECENT write activity under the store is a live writer's — never reclaimed; the waiter fails loudly") {
    import graft.sources.Sinks
    val root = tmpDir("r15-init-live")
    val store = s"$root/store"
    val claim = java.nio.file.Paths.get(root, ".store.init")
    java.nio.file.Files.createFile(claim)
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))
    // simulate the live winner mid-Overwrite: a _temporary commit tree
    // under the store path whose newest mtime keeps advancing
    val tmpTree = java.nio.file.Paths.get(store, "_temporary")
    java.nio.file.Files.createDirectories(tmpTree)
    val part = tmpTree.resolve("part-00000")
    @volatile var touching = true
    val toucher = new Thread(() => {
      while (touching) {
        java.nio.file.Files.writeString(part, System.nanoTime().toString)
        Thread.sleep(100)
      }
    })
    toucher.setDaemon(true)
    toucher.start()
    try {
      withProps("graft.store.fence.restartMs" -> "300",
                "graft.store.fence.staleMs" -> "1500") {
        val e = intercept[IllegalStateException] {
          Sinks.upsertByKey(Seq((1L, 1L, "a")).toDF("off", "id", "v"),
            "id", "off", store)
        }
        assert(e.getMessage.contains("init claim"), e.getMessage)
      }
      assert(java.nio.file.Files.exists(claim),
        "a claim with live write activity behind it must never be reclaimed")
    } finally { touching = false; toucher.join(2000) }
  }
}
