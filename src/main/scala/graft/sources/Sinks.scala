package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Sink surface (SURVEY.md §2.5 L1–L9).
  *
  * The reference's sinks are local files, a SQLite table replaced per run,
  * Mongo collections (append / keyed upsert) and Kafka topics; here each
  * is a partition-parallel DataFrameWriter against a directory-backed
  * store, so every write scales with the cluster instead of a single
  * client connection.
  */
object Sinks {

  /** L1 — CSV file sink, header, no index column
    * (ref: to_csv(index=False), dags/etl_data_pipeline.py:24).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** L2 — JSON-records sink (ref: to_json(orient="records"),
    * dags/etl_data_pipeline_mongodb.py:24).
    */
  def writeJsonRecords(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** L3 — relational table sink, full replace (ref: to_sql(if_exists="replace"),
    * dags/etl_data_pipeline.py:32-33). Parquet directory = the table.
    */
  def replaceTable(df: DataFrame, tablePath: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(tablePath)

  /** L10 [EXT] — ORC sink (the scan twin is `Sources.readOrc`): same
    * partition-parallel columnar write as parquet, different container.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** L4 — document append sink (ref: insert_many,
    * dags/etl_data_pipeline_mongodb.py:38).
    */
  def appendDocuments(df: DataFrame, collectionPath: String): Unit =
    df.write.mode(SaveMode.Append).parquet(collectionPath)

  /** Default bucket count of the keyed-upsert store layout — fixture
    * scale, and the geometry of every store created before the conf
    * existed. At 100 TB this is thousands (via [[UpsertBucketsConf]]) —
    * the per-batch cost scales with the buckets a batch touches, never
    * with the store.
    */
  val UpsertBuckets = 16

  /** Creation-time bucket-count conf for NEW upsert stores — the same
    * per-store recorded-geometry discipline as the dedup indexes
    * ([[graft.operators.StoreDirs.ensureGeometry]]): pmod partition
    * columns can never drift within a store, legacy stores pin to the
    * default, re-bucketing is a rewrite into a fresh store.
    */
  val UpsertBucketsConf = "spark.graft.upsert.buckets"

  private def bucketOf(key: String, n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(key)), lit(n)).cast("int")

  private def upsertGeometry(spark: org.apache.spark.sql.SparkSession,
                             storePath: String, hasBuckets: => Boolean): Int = {
    val path = new org.apache.hadoop.fs.Path(storePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dot-SIBLING of the store dir: the store root itself is the
    // initial write's overwrite target and compact's swap victim — a
    // file inside it would not survive either
    val sibling = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.geometry")
    val conf = spark.conf.get(UpsertBucketsConf, UpsertBuckets.toString).toInt
    // …but a sibling equally survives deleting the STORE: a store
    // deleted and recreated at the same path must take the current
    // confs, not silently inherit the dead store's recorded bucket
    // count (ADVICE r12). With the store provably absent/empty the
    // sibling describes nothing… UNLESS a racing first writer just
    // stamped it (ADVICE r13: an unconditional force-restamp here made
    // fresh-store geometry last-writer-wins — two racers with different
    // confs could leave the surviving Overwrite layout disagreeing with
    // the surviving record, mis-pruning every later merge). The two
    // cases separate on the record's AGE, the codebase's standard lease
    // inference: a record younger than [[graft.operators.StoreDirs
    // .restartFenceMs]] is presumed a LIVE racing first writer — ADOPT
    // it, so racers converge on one count whatever the stamp order; an
    // older one is dead-predecessor debris — force-restamp (atomic
    // replace; a delete-then-stamp would open a crash window that
    // leaves bucketed data with no record, mis-pinning the next reader
    // to the legacy defaults). Same-value records adopt trivially.
    // Residual (documented lease trade): a recreate under a DIFFERENT
    // conf within one lease of the dead store's last stamp adopts the
    // dead count — safe (record and layout still agree), just not the
    // session's conf; rebuild after the lease or into a fresh path.
    val existing = graft.operators.StoreDirs.readRecord(fs, sibling)
      .flatMap(_.get("upsertBuckets"))
    val recordAge =
      try System.currentTimeMillis() - fs.getFileStatus(sibling).getModificationTime
      catch { case _: java.io.IOException => Long.MaxValue }
    val force = !hasBuckets && existing.exists(_ != conf) &&
      recordAge >= graft.operators.StoreDirs.restartFenceMs
    graft.operators.StoreDirs.ensureGeometry(
      fs, storePath, legacy = hasBuckets,
      defaults = Seq("upsertBuckets" -> UpsertBuckets),
      confValues = Seq("upsertBuckets" -> conf),
      fileAt = Some(sibling),
      force = force
    )("upsertBuckets")
  }

  /** Core keyed-upsert merge into a bucket-partitioned parquet store.
    * `latest` must already hold one row per key.
    *
    * Scale shape: the store is `partitionBy(__bucket = pmod(hash(key), N))`;
    * a batch (1) computes its touched buckets (≤ N literals, driver-side
    * bounded by the bucket count, not the data), (2) reads ONLY those
    * partitions back (partition pruning at the scan), (3) anti-joins the
    * batch keys, and (4) rewrites only the touched partitions via dynamic
    * partition overwrite — untouched bucket directories are never read or
    * written, so per-batch cost is O(touched buckets), not O(store).
    *
    * Durability: the merge is staged to a temporary sibling directory and
    * re-read before the overwrite, so the store is never simultaneously
    * the scan source and overwrite target of one job (a cache-eviction
    * recompute can't read a half-overwritten store). Store existence is
    * checked explicitly; any other read failure propagates instead of
    * being treated as "store absent" and destroying previous upserts.
    */
  private[graft] def mergeIntoStore(latest0: DataFrame, key: String, storePath: String): Unit = {
    val spark = latest0.sparkSession
    // pin the batch: it feeds the touched-bucket collect, the anti-join
    // build side, and the union write — unpinned, a streaming micro-batch
    // re-reads its source and re-runs the caller's dedup window for each
    // (the labelMaintainSink lesson). Freed on every exit.
    val latest = latest0.localCheckpoint()
    try {
    val path = new org.apache.hadoop.fs.Path(storePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // absent = no directory, an empty one (callers may pre-create the
    // path), or one holding no bucket partitions (an empty first batch
    // leaves only _SUCCESS — reading that as a store would fail schema
    // inference); anything else present but unreadable propagates as an
    // error instead of silently discarding the store
    def bucketDirsPresent(): Boolean = fs.exists(path) &&
      fs.listStatus(path).exists(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
    val hasBuckets = bucketDirsPresent()
    val nStamped = upsertGeometry(spark, storePath, hasBuckets)
    // Racing FIRST writers (ADVICE r13): with the store provably fresh,
    // upsertGeometry force-stamps, so two racers with different
    // `upsertBuckets` confs can interleave stamp/read such that the
    // surviving record disagrees with the surviving data layout — and a
    // later merge would pmod-prune with the wrong count, silently
    // missing existing keys. Convergence protocol:
    //   1. bucket the data by the record READ BACK immediately before
    //      the write, not by what THIS writer stamped — racers that
    //      stamped in either order then both land on the last stamp;
    //   2. re-detect bucket dirs right before the initial write — a
    //      racer's data that appeared since the existence check routes
    //      this writer to the merge path against it instead of wiping it;
    //   3. VERIFY after the initial write: if the record moved between
    //      our read-back and the write landing (the one interleaving
    //      1-2 can't close), fail LOUDLY naming the repair — two
    //      first writers racing different confs onto one store is
    //      unserializable intent, and the loud loser is what prevents a
    //      silently mis-pruning store.
    val geomFile = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.geometry")
    def recordedBuckets(): Int =
      graft.operators.StoreDirs.readRecord(fs, geomFile)
        .flatMap(_.get("upsertBuckets")).getOrElse(nStamped)
    if (!hasBuckets && !bucketDirsPresent()) {
      // Racing initial writers with the SAME bucket count (round-14
      // self-review): geometry convergence above is not enough — two
      // fresh writers that both pass the bucket-dir checks would both
      // run SaveMode.Overwrite, and the later commit silently wipes the
      // earlier writer's rows with no record movement for the verify
      // below to catch. The initial write is therefore gated by an
      // ATOMIC CLAIM naming exactly one initial writer. On `file:`
      // schemes the claim goes through NIO `Files.createFile` (true
      // O_EXCL) — Hadoop's RawLocalFileSystem.create(overwrite=false)
      // is check-then-create, so two local racers could both pass the
      // check (ADVICE r14); other schemes keep `fs.create(claim,
      // false)` (atomic on HDFS; on S3A-class stores create-if-absent
      // is best-effort — the residual there is the pre-existing
      // documented race, narrowed to one marker call). The loser WAITS
      // for the winner's buckets to land and merges into them instead
      // of overwriting.
      val claim = new org.apache.hadoop.fs.Path(
        path.getParent, s".${path.getName}.init")
      def createClaim(): Boolean =
        if (fs.getScheme == "file")
          try {
            fs.mkdirs(claim.getParent) // NIO createFile needs the parent
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(claim.toUri.getPath))
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        else
          try { fs.create(claim, false).close(); true }
          catch {
            // FS implementations disagree on the exact already-exists
            // exception type — treat any IOException WITH the claim
            // present as a lost race; anything else is a real error
            case e: java.io.IOException =>
              if (!fs.exists(claim)) throw e
              false
          }
      // Liveness probe (ADVICE r14): a claim is only DEBRIS if, beyond
      // being older than the restart lease, the store path shows no
      // write activity within that lease — a live initial writer whose
      // bulk Overwrite outlives the lease is still producing its
      // `_temporary` commit tree, and reclaiming under it would put two
      // concurrent Overwrite jobs on one path (acquireGen's
      // stagingActiveWithin discipline, applied to the claim).
      def writeActiveWithin(ms: Long): Boolean = {
        def newest(p: org.apache.hadoop.fs.Path): Long =
          try {
            val st = fs.getFileStatus(p)
            if (!st.isDirectory) st.getModificationTime
            else (st.getModificationTime +:
              fs.listStatus(p).map(c => newest(c.getPath)).toSeq).max
          } catch { case _: java.io.IOException => 0L }
        fs.exists(path) && System.currentTimeMillis() - newest(path) < ms
      }
      // Stale-claim reclaim by atomic RENAME to a reclaimer-unique name
      // (ADVICE r14): exactly one of several concurrent reclaimers wins
      // the rename — a delete-then-create reclaim would let a slow loser
      // delete the winner's freshly recreated claim and both proceed as
      // initial writers (the exact anti-pattern acquireGen's scaladoc
      // warns against). Only the rename winner recreates the claim.
      def reclaimStale(): Boolean = {
        val dst = new org.apache.hadoop.fs.Path(path.getParent,
          s".${path.getName}.init.reclaim-${java.util.UUID.randomUUID}")
        val won = try fs.rename(claim, dst)
                  catch { case _: java.io.IOException => false }
        if (won) fs.delete(dst, false)
        won
      }
      def claimAge(): Long =
        try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
        catch { case _: java.io.IOException => 0L }
      def tryClaim(): Boolean =
        createClaim() || (
          claimAge() >= graft.operators.StoreDirs.restartFenceMs &&
            !writeActiveWithin(graft.operators.StoreDirs.restartFenceMs) &&
            reclaimStale() &&
            createClaim() // a fresh racer can re-claim first: lost race
        )
      val log = org.slf4j.LoggerFactory.getLogger("graft.sources.Sinks")
      var claimedInit = false
      var racerLanded = false
      var waits = 0
      // a holder OBSERVED writing (the liveness probe) earns extra lease
      // windows up to the full stale lease — a large first batch can
      // legitimately outlive several restart leases — but an idle holder
      // exhausts the 3-lease cap and the final throw below names it
      val hardDeadline = System.currentTimeMillis() +
        graft.operators.StoreDirs.staleFenceMs
      while (!claimedInit && !racerLanded &&
             (waits < 3 ||
               (writeActiveWithin(graft.operators.StoreDirs.restartFenceMs) &&
                 System.currentTimeMillis() < hardDeadline))) {
        waits += 1
        if (tryClaim()) {
          // TOCTOU close (ADVICE r15 #2): the racing winner can land its
          // buckets AND delete its claim in the window between this
          // waiter's last bucketDirsPresent() check and this tryClaim()
          // — createClaim() then succeeds on the vacated marker slot
          // while the store is already published, and the Overwrite
          // below would silently wipe the winner's rows. The winner
          // deletes its claim strictly AFTER its write lands, so
          // re-checking here WHILE HOLDING the claim is race-free: if
          // buckets are present the prior holder published (release the
          // claim, merge instead); if absent, it provably did not.
          if (bucketDirsPresent()) {
            fs.delete(claim, false)
            racerLanded = true
          } else claimedInit = true
        } else {
          // per-lease visibility (ADVICE r14): a stalled winner used to
          // manifest as a silently hung merge until the final throw
          log.warn(s"initial write of $storePath: waiting on init claim " +
            s"$claim (lease $waits, claim age ${claimAge() / 1000}s) for a " +
            "racing initial writer's buckets to land")
          val deadline = System.currentTimeMillis() +
            graft.operators.StoreDirs.restartFenceMs
          while (!bucketDirsPresent() && System.currentTimeMillis() < deadline)
            Thread.sleep(100)
          racerLanded = bucketDirsPresent()
          // not landed + lease expired → loop; tryClaim reclaims the
          // dead writer's stale marker and this writer goes initial
        }
      }
      if (claimedInit) {
        try {
          val nInit = recordedBuckets()
          latest.withColumn("__bucket", bucketOf(key, nInit))
            .write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(storePath)
          val nAfter = recordedBuckets()
          if (nAfter != nInit) throw new IllegalStateException(
            s"racing initial writers with different bucket confs on $storePath: " +
              s"this writer landed $nInit-bucket data but the surviving geometry " +
              s"record says $nAfter — the store's record and layout may disagree; " +
              "rebuild the store under one conf")
          return
        } finally fs.delete(claim, false)
      }
      if (!racerLanded) throw new IllegalStateException(
        s"initial write of $storePath: another writer holds the init claim " +
          s"but produced no store within $waits leases — claimant crash-looping " +
          "or stalled; remove the .init marker after verifying no writer is live")
      // fall through: the racer's store exists — merge into it
    }
    // merge path: the store pre-existed, or a racing initial writer just
    // published it (recordedBuckets() then reads the RACER's stamp — the
    // count the surviving layout was actually bucketed by)
    val nBuckets = if (hasBuckets) nStamped else recordedBuckets()
    val withBucket = latest.withColumn("__bucket", bucketOf(key, nBuckets))
    val touched = withBucket.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val existingTouched = Tables.parquet(spark, storePath)
      .filter(col("__bucket").isin(touched: _*))
    // null-safe (<=>) anti join: a NULL key is still A key — the plain
    // equi anti-join never matches NULL = NULL, so a null-keyed row would
    // duplicate in the store on every batch instead of upserting
    val batchKeys = latest.select(col(key).as("__mk")).distinct()
    val merged = existingTouched
      .join(batchKeys, existingTouched(key) <=> col("__mk"), "left_anti")
      .unionByName(withBucket)
    val staging = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}-staging-${java.util.UUID.randomUUID}")
    // the staging directory is cleaned on EVERY exit — including a failed
    // staging write — so repeated failures don't accumulate orphans
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      Tables.parquet(spark, staging.toString)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(storePath)
    } finally fs.delete(staging, true)
    } finally graft.operators.StoreDirs.freePinned(latest)
  }

  /** L5 — keyed upsert, last write wins per key in offset order
    * (ref: update_one(upsert=True), dags/kafka_to_mongo_pipeline_enchanced.py:141-145;
    * tie-break note SURVEY.md N3). Batch form; the streaming form is
    * [[graft.streaming.Streams.upsertSink]]. Store layout and scale
    * properties: [[mergeIntoStore]].
    */
  def upsertByKey(incoming: DataFrame, key: String, offsetCol: String, storePath: String): Unit = {
    val w = Window.partitionBy(col(key)).orderBy(col(offsetCol).desc)
    val latest = incoming.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    mergeIntoStore(latest, key, storePath)
  }

  /** L6/L7 — producer sink: record → JSON value (ref: producer.send with
    * json.dumps serializer, dags/kafka_to_mongo_pipeline.py:41-46). The
    * file-backed "topic" carries the same (value) column a Kafka sink
    * takes; swap `.text(dir)` for `.format("kafka")` on a real broker.
    */
  def produceJson(df: DataFrame, topicDir: String): Unit =
    encodeJsonValue(df).write.mode(SaveMode.Append).text(topicDir)

  /** The shared record→JSON-value encode stage of [[produceJson]] /
    * [[produceJsonKafka]] — one projection, two transports.
    */
  private[graft] def encodeJsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** L6/L7 Kafka-native form of [[produceJson]]: same encode stage,
    * `format("kafka")` transport. Fails fast when the connector jar is
    * absent (the offline harness ships without it).
    */
  def produceJsonKafka(df: DataFrame, bootstrapServers: String, topic: String): Unit = {
    require(graft.streaming.Streams.kafkaAvailable,
      "spark-sql-kafka connector not on the classpath — add the spark-sql-kafka-0-10 jar")
    encodeJsonValue(df)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()
  }

  /** L9 [EXT] — small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files. The file count derives from the
    * directory's actual byte size (Hadoop FS), the rewrite is a
    * repartition (round-robin for a flat directory; clustered by the
    * partition columns when the store is `col=value`-partitioned, whose
    * layout is DETECTED and PRESERVED — flattening e.g. the upsert
    * store's `__bucket=` tree would make the next merge read it as
    * absent and overwrite it). Staged to a temp sibling and swapped in
    * two renames. NOT atomic for concurrent readers: between the renames
    * the path briefly does not exist — compaction is quiesced
    * maintenance (run between drains, the compactStore discipline), and
    * a failed swap restores the original directory before failing. The
    * small-files problem is THE operational tax of high-frequency
    * micro-batch sinks at 100 TB — compaction is what keeps scan
    * parallelism aligned with data size instead of file count. Returns
    * the new file count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // walk the `name=value` directory levels to recover partition columns
    val partCols = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = path
    var walking = true
    while (walking) {
      val sub = fs.listStatus(cur).filter(st =>
        st.isDirectory && st.getPath.getName.matches("[^=]+=.*"))
      if (sub.isEmpty) walking = false
      else { partCols += sub.head.getPath.getName.split("=", 2)(0); cur = sub.head.getPath }
    }
    val staging = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}-compact-${java.util.UUID.randomUUID}")
    val old = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}-old-${java.util.UUID.randomUUID}")
    try {
      val src = Tables.parquet(spark, dir)
      val writer =
        if (partCols.isEmpty) src.repartition(nFiles).write
        else src.repartition(nFiles, partCols.toSeq.map(col): _*)
          .write.partitionBy(partCols.toSeq: _*)
      writer.mode(SaveMode.Overwrite).parquet(staging.toString)
      // NOTE the upsert store's recorded geometry is a dot-SIBLING of the
      // store dir (`.name.geometry`), deliberately outside this swap —
      // no carry-over needed
      require(fs.rename(path, old), s"compact: could not move $path aside")
      swapIn(fs, staging, path, old)
    } catch { case t: Throwable => fs.delete(staging, true); throw t }
    fs.delete(old, true)
    nFiles
  }

  /** The second rename of [[compact]]'s swap, restore-on-ANY-failure: at
    * this point the original directory has already been moved aside to
    * `old`, so a swap that THROWS (an `IOException` from the rename, not
    * just a `false` return) must also put the original back before
    * propagating — otherwise the store path is left missing with the
    * data hidden under a dot-name (ADVICE r11). A restore failure rides
    * along as suppressed; the original swap failure stays the diagnosis.
    */
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
                              staging: org.apache.hadoop.fs.Path,
                              path: org.apache.hadoop.fs.Path,
                              old: org.apache.hadoop.fs.Path): Unit =
    try {
      if (!fs.rename(staging, path))
        throw new IllegalStateException(s"compact: could not swap $staging into place")
    } catch {
      case t: Throwable =>
        try { if (!fs.exists(path)) { fs.rename(old, path); () } }
        catch { case s: Throwable if s ne t => t.addSuppressed(s) }
        throw t
    }

  /** L8 — notification "sink": the engine-side analogue of EmailOperator
    * is a driver-side templated report after the query completes
    * (ref: dags/etl_data_pipeline_mongodb_complex.py:129-135). Returns the
    * rendered body; delivery is deployment-specific.
    */
  def renderNotification(subject: String, counts: Map[String, Long]): String = {
    // count keys can be data-derived — escape, or the report is an
    // HTML-injection vector in whatever surface delivers it
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val rows = counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"<tr><td>${esc(k)}</td><td>$v</td></tr>" }.mkString
    s"<html><body><h3>${esc(subject)}</h3><table>$rows</table></body></html>"
  }
}
