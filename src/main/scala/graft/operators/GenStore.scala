package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** The generational on-disk format shared by [[IvfStore]], [[LabelStore]]
  * and [[graft.sources.DateStore]]. Each store keeps only its codec (what
  * a generation dir and a batch hold) and its maintenance algorithm; this
  * module owns naming, listing, the fenced claim, publish, the ingest
  * floor, the batch writer and reader, the tombstone mask and the
  * fingerprint.
  *
  * Layout under `storeDir`:
  *   - `gen=<k>__n=<n>__fp=<hex>[__b=<base>][__d=<dead>]/` — one dir per
  *     published generation. `(n, fp)` is the `(count, bit_xor(h))`
  *     fingerprint of what the generation serves, so data and validity
  *     publish in one rename; `b` is the first batch the generation
  *     reads (absent: 0), `d` a store's dead-row count (absent: 0). The
  *     dir holds the store's codec files plus, for streamed stores, the
  *     plain-text `ingest` floor.
  *   - `<dataset>/__batch=<j>/…` — shared batch datasets outside the
  *     generation dirs. Generation `k` writes only `__batch=k`.
  *
  * Invariants:
  *   - A batch is invisible until its generation's rename: `__batch=k`
  *     is written after the claim of `k` and before its publish, and
  *     every reader filters batches to the range (or manifest) of a
  *     published generation.
  *   - The claim clears `k`'s debris: right after the fence for `k` is
  *     won, and only if no generation `>= k` (live or retired) exists,
  *     `.staging-k` and `__batch=k` of every dataset are deleted, so a
  *     crashed attempt's files (from any lane) never go live with a
  *     later publish of `k`. Nothing can reference `k` before its rename.
  *   - The ingest floor (the last absorbed stream micro-batch id)
  *     carries forward as a max through every publish, streamed or not,
  *     so a replayed micro-batch stays a skip. It is carried from the
  *     same generation the ingest lane reads its skip floor from.
  *   - The two newest generations stay live: a publish retires older
  *     generation dirs by dot-rename (deleted one publish later) and
  *     deletes only batches neither live generation references.
  *   - The tombstone mask is strict `>`: a row is dead iff a visible
  *     tombstone for its key sits in a LATER batch. A replacement that
  *     ships in the same batch as the tombstone killing its predecessor
  *     survives, and a key re-added after its delete stays live.
  */
private[graft] final class GenStore(val spark: SparkSession, storeDir: String,
                                    family: String, datasets: Seq[String]) {
  import GenStore._

  private val root = new Path(storeDir)
  val fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def dataset(name: String): Path = new Path(root, name)

  def hasDataset(name: String): Boolean = fs.exists(dataset(name))

  /** True iff dataset `name` holds a `__batch=<j>` dir. A dataset dir can
    * exist without batches (a crash before any batch committed, a
    * publish that deleted the last one), and a parquet read of it fails
    * schema inference: readers treat it exactly like an absent dataset.
    */
  def hasBatches(name: String): Boolean = {
    val d = dataset(name)
    fs.exists(d) && fs.listStatus(d).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("__batch="))
  }

  def dropDataset(name: String): Unit = fs.delete(dataset(name), true)

  /** Published generations, oldest first (retired dirs excluded). */
  def gens: Seq[Gen] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory => st.getPath.getName match {
        case Name(k, n, fp, b, d) =>
          Some(Gen(k.toLong, n.toLong, java.lang.Long.parseUnsignedLong(fp, 16),
            Option(b).fold(0L)(_.toLong), Option(d).fold(0L)(_.toLong), st.getPath))
        case _ => None
      }
    }.flatten.sortBy(_.k)

  def latest: Option[Gen] = gens.lastOption

  /** The generation readers serve; throws on a store never published. */
  def newest: Gen = latest.getOrElse(throw new IllegalArgumentException(
    s"$family: no published generation under $storeDir"))

  /** Claim generation `k` ([[StoreDirs.withGenFence]]), clear its debris
    * and run `body`; a failure releases the fence. Refused, like any
    * lost claim, when `k` is not above every generation ever published
    * here.
    */
  def claim[A](k: Long, owner: Option[String])(body: => A): A =
    StoreDirs.withGenFence(fs, root, k, owner) { clearDebris(k); body }

  /** [[claim]] for lanes that release by hand ([[release]]). */
  def acquire(k: Long, owner: Option[String]): Unit = {
    StoreDirs.acquireGen(fs, root, k, owner)
    try clearDebris(k) catch { case t: Throwable => release(k); throw t }
  }

  def release(k: Long): Unit = StoreDirs.releaseGen(fs, root, k)

  /** Only a claim above every published generation may clear `k`: the
    * fence alone does not refuse a writer whose read is two publishes
    * old (publishing `k + 1` sweeps `.fence-k`, publishing `k + 2`
    * retires `gen=k`), and its `__batch=k` is still read by the live
    * generations. Retired dirs count as published.
    */
  private def clearDebris(k: Long): Unit = {
    val published = fs.listStatus(root).iterator.map(_.getPath.getName)
      .collect { case RetiredOrLive(j) => j.toLong }
    if (published.exists(_ >= k)) throw new IllegalStateException(
      s"concurrent writer on $root: generation $k was already published by a " +
        "competitor — this maintainer must re-read the store and retry from the advanced state")
    fs.delete(new Path(root, s".staging-$k"), true)
    datasets.foreach(d => fs.delete(new Path(dataset(d), s"__batch=$k"), true))
  }

  /** Write `df` straight into `<name>/__batch=<k>` (the partition value
    * comes from the dir name at read time). The batch is unpublished, so
    * no committer staging is needed. An empty frame leaves no batch dir:
    * a dir holding only `_SUCCESS` would count in [[hasBatches]] yet
    * break schema inference of the dataset. One listing of the batch dir
    * checks it.
    */
  def writeBatch(df: DataFrame, name: String, k: Long, parts: Seq[String]): Unit = {
    val batchDir = new Path(dataset(name), s"__batch=$k")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (parts.isEmpty) w else w.partitionBy(parts: _*)).parquet(batchDir.toString)
    val holdsData =
      try fs.listStatus(batchDir).exists(st => Tables.isDataName(st.getPath.getName))
      catch { case _: java.io.FileNotFoundException => true }
    if (!holdsData) fs.delete(batchDir, true)
  }

  /** Batches `[g.base, g.k]` of dataset `name`. */
  def readBatches(name: String, g: Gen): DataFrame =
    Tables.parquet(spark, dataset(name).toString)
      .filter(col("__batch") >= g.base && col("__batch") <= g.k)

  /** The tombstones generation `g` sees, if the dataset holds any batch. */
  def tombstones(name: String, g: Gen): Option[DataFrame] =
    if (hasBatches(name)) Some(readBatches(name, g)) else None

  /** The last stream micro-batch id `g` has absorbed. A plain text file;
    * a directory is the older 1-row parquet form, still readable.
    */
  def ingestFloor(g: Gen): Option[Long] = {
    val p = new Path(g.path, "ingest")
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isDirectory)
      Some(spark.read.parquet(p.toString).collect().head.getLong(0))
    else Some(readText(p).trim.toLong)
  }

  def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def writeText(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Publish generation `k` — the caller holds its claim. `stage` writes
    * the store's codec files into the staging dir; the ingest floor
    * (the max of `carryFrom`'s floor and `ingestId`) joins them, then
    * one rename exposes the generation. `carryFrom` is the generation
    * the caller's lane read its skip floor from: the one `k` supersedes,
    * or None when that generation does not serve the stream's rows.
    * Refuses (CAS) if the store advanced past `k - 1` since the caller's
    * read.
    * Afterwards spent fences and last cycle's retired dirs sweep, all
    * generations older than the previous newest retire, and batches for
    * which `keepBatch` is false are deleted from every dataset.
    */
  def publish(k: Long, n: Long, fp: Long, base: Option[Long], dead: Option[Long],
              carryFrom: Option[Gen], ingestId: Option[Long], keepBatch: Long => Boolean)
             (stage: Path => Unit): Unit = {
    fs.mkdirs(root)
    val prior = gens
    val curK = prior.lastOption.fold(0L)(_.k)
    require(curK == k - 1,
      s"$family: store advanced to gen $curK while this writer maintained " +
        s"gen $k — concurrent writer; retry from the advanced state")
    val staging = new Path(root, s".staging-$k")
    stage(staging)
    (carryFrom.flatMap(ingestFloor) ++ ingestId).reduceOption(_ max _)
      .foreach(id => writeText(new Path(staging, "ingest"), id.toString))
    val pub = new Path(root, s"gen=${k}__n=${n}__fp=${java.lang.Long.toHexString(fp)}" +
      base.fold("")(b => s"__b=$b") + dead.fold("")(d => s"__d=$d"))
    require(fs.rename(staging, pub), s"$family: could not publish $pub")
    StoreDirs.sweepFences(fs, root, k)
    // retired dirs live one publish cycle, so a reader that resolved its
    // generation just before this publish still scans existing files
    fs.listStatus(root).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory && nm.startsWith(".") && nm.endsWith(".retired"))
        fs.delete(st.getPath, true)
    }
    prior.dropRight(1).foreach(g =>
      fs.rename(g.path, new Path(root, "." + g.path.getName + ".retired")))
    datasets.map(dataset).filter(fs.exists).foreach(d =>
      fs.listStatus(d).foreach { st =>
        st.getPath.getName match {
          case s"__batch=$b" if b.toLongOption.exists(j => !keepBatch(j)) =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      })
  }
}

private[graft] object GenStore {

  final case class Gen(k: Long, n: Long, fp: Long, base: Long, dead: Long, path: Path)

  private val Name = """gen=(\d+)__n=(\d+)__fp=([0-9a-f]+)(?:__b=(\d+))?(?:__d=(\d+))?""".r
  private val RetiredOrLive = """\.?gen=(\d+)__.*""".r

  /** `(count, bit_xor(h))` over a digest frame — insensitive to row order
    * and partitioning, and XOR cannot overflow under ANSI mode.
    */
  def fingerprint(dg: DataFrame): (Long, Long) = {
    val r = dg.agg(count(lit(1)), expr("bit_xor(h)")).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Drop the rows of `df` (keyed by `key`, with `__batch`) that a
    * tombstone in a strictly later batch masks.
    */
  def maskDead(df: DataFrame, ts: Option[DataFrame], key: String): DataFrame =
    ts.fold(df) { t =>
      val d = t.select(col(key).as("__ts_id"), col("__batch").as("__ts_b"))
      df.join(d, df(key) === d("__ts_id") && d("__ts_b") > df("__batch"), "left_anti")
    }

  /** The fence owner of a stream micro-batch. Scoped by the checkpoint
    * when there is one: only then may a restarted process of the same
    * stream reclaim the fence after the short restart lease
    * ([[StoreDirs.acquireGen]]).
    */
  def ingestOwner(checkpoint: Option[String], batchId: Long): Option[String] =
    Some(checkpoint.fold(s"ingest-$batchId")(cp => s"ingest-$cp-$batchId"))
}
