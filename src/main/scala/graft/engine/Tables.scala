package graft.engine

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture catalog (FIXTURES.md) with a pinned schema contract, and the
  * engine's one parquet read.
  *
  * Tables are Parquet at `$dir/<name>.parquet`. Every read resolves its
  * schema from one parquet footer, read on the driver ([[Tables.parquet]]):
  * no Spark job runs to infer it. The footer is the one file Spark's own
  * inference reads with `mergeSchema` off, converted under the reading
  * session's SQL conf, so the frame's schema is the one an inferring read
  * would give.
  *
  * The footers are not under this repo's control, so every fixture read
  * also passes through [[Tables.checked]]: each column is asserted against
  * the FIXTURES.md schema, and any drift fails loudly, naming the table
  * and column. The schema passed to the reader is the footer's own, never
  * the pinned one, so a missing column still fails here rather than
  * reading back as nulls.
  *
  * Event-time columns are the one family whose footer legitimately
  * varies, and the correctness oracle (DuckDB) reads the same footers.
  * Hash symmetry therefore keeps the footer's UTC-adjustedness: a naive
  * footer stays `TimestampNTZType` and an adjusted one `TimestampType`.
  * The nanos-as-long shape (read under
  * `spark.sql.legacy.parquet.nanosAsLong=true`) is normalized to
  * microsecond `TimestampType`. Arithmetic that needs an epoch goes
  * through [[Tables.epochUs]], which is total over both timestamp types.
  *
  * At 100 TB these reads are partition-parallel vectorized columnar scans;
  * the schema costs one directory listing per level and one footer, and
  * filters and projections applied on top are pushed into the scan.
  */
object Tables {

  /** Expected shape of one fixture column. */
  private sealed trait ColSpec
  /** Must read back as exactly this Spark type. */
  private final case class Exact(dt: DataType) extends ColSpec
  /** Event-time column: footer-dependent timestamp family (see Scaladoc). */
  private case object EventTime extends ColSpec

  /** FIXTURES.md schemas, pinned. */
  private val pinned: Map[String, Seq[(String, ColSpec)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Exact(IntegerType), "r_name" -> Exact(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> Exact(IntegerType), "n_name" -> Exact(StringType),
      "n_regionkey" -> Exact(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> Exact(LongType), "c_name" -> Exact(StringType),
      "c_nationkey" -> Exact(IntegerType), "c_acctbal" -> Exact(DoubleType),
      "c_mktsegment" -> Exact(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> Exact(LongType), "s_name" -> Exact(StringType),
      "s_nationkey" -> Exact(IntegerType), "s_acctbal" -> Exact(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> Exact(LongType), "p_name" -> Exact(StringType),
      "p_brand" -> Exact(StringType), "p_type" -> Exact(StringType),
      "p_size" -> Exact(IntegerType), "p_retailprice" -> Exact(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> Exact(LongType), "o_custkey" -> Exact(LongType),
      "o_orderstatus" -> Exact(StringType), "o_totalprice" -> Exact(DoubleType),
      "o_orderdate" -> EventTime, "o_orderpriority" -> Exact(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> Exact(LongType), "l_partkey" -> Exact(LongType),
      "l_suppkey" -> Exact(LongType), "l_linenumber" -> Exact(IntegerType),
      "l_quantity" -> Exact(DoubleType), "l_extendedprice" -> Exact(DoubleType),
      "l_discount" -> Exact(DoubleType), "l_tax" -> Exact(DoubleType),
      "l_returnflag" -> Exact(StringType), "l_linestatus" -> Exact(StringType),
      "l_shipdate" -> EventTime),
    "events" -> Seq(
      "event_id" -> Exact(LongType), "ts" -> EventTime,
      "user_id" -> Exact(LongType), "event_type" -> Exact(StringType),
      "value" -> Exact(DoubleType), "props" -> Exact(StringType)),
    "documents" -> Seq(
      "doc_id" -> Exact(LongType), "text" -> Exact(StringType),
      "lang" -> Exact(StringType), "source" -> Exact(StringType),
      "n_chars" -> Exact(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> Exact(LongType), "embedding" -> Exact(ArrayType(FloatType)),
      "label" -> Exact(IntegerType)))

  private def drift(tbl: String, col: String, found: DataType, want: String): Nothing =
    throw new IllegalStateException(
      s"fixture drift: $tbl.$col read as ${found.sql} but FIXTURES.md pins $want " +
        "— the driver-side writer changed the parquet footer; " +
        "update graft.engine.Tables.pinned deliberately, do not patch call sites")

  /** Assert `df` against the pinned schema for `tbl`, normalizing only the
    * documented event-time footer shapes. Column ORDER is canonicalized
    * rather than asserted (a by-name projection — reorder drift is
    * harmless and every consumer selects by name); a missing, extra, or
    * retyped column fails loudly. Schema-only: no data is read. */
  private[graft] def checked(df: DataFrame, tbl: String): DataFrame = {
    val spec = pinned(tbl)
    val names = df.schema.fieldNames.toSet
    if (names != spec.map(_._1).toSet)
      throw new IllegalStateException(
        s"fixture drift: $tbl columns ${df.schema.fieldNames.toSeq.sorted} " +
          s"but FIXTURES.md pins ${spec.map(_._1).sorted}")
    val cols = spec.map { case (name, cs) =>
      val dt = df.schema(name).dataType
      cs match {
        case Exact(want) =>
          if (dt != want) drift(tbl, name, dt, want.sql)
          col(name)
        case EventTime => dt match {
          case TimestampNTZType | TimestampType => col(name) // footer-faithful
          case LongType =>
            // legacy TIMESTAMP(NANOS) under nanosAsLong: integer division —
            // `/` on longs is double division in Spark and loses
            // microseconds at nano-epoch magnitude (1.7e18 > 2^53)
            timestamp_micros(expr(s"$name DIV 1000")).as(name)
          case other =>
            drift(tbl, name, other, "a timestamp (NTZ, LTZ, or legacy nanos-long)")
        }
      }
    }
    df.select(cols: _*)
  }

  /** Epoch microseconds, total over both timestamp types: for NTZ the cast
    * interprets the naive value in the session time zone (pinned UTC),
    * which is exactly DuckDB's `epoch_us` on a naive TIMESTAMP — both
    * engines make identical cuts. No-op cast for TimestampType. */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Spark's hidden-file rule: `_`/`.`-prefixed names (`_SUCCESS`,
    * `.crc` sidecars) are not data, `_`-prefixed partition dirs are.
    */
  private[graft] def isDataName(nm: String): Boolean =
    !nm.startsWith(".") && (!nm.startsWith("_") || nm.contains("="))

  /** The data file Spark's schema inference reads with `mergeSchema` off:
    * the first by full path among the data files under `roots` (a root
    * that is a file is one). A depth-first walk in path order lists one
    * dir per level; a dir sorts as `path/`, which is where its files'
    * paths sort. None when no root exists or none holds a data file.
    */
  private def firstDataFile(fs: FileSystem, roots: Seq[Path]): Option[FileStatus] = {
    def first(sts: Seq[FileStatus]): Option[FileStatus] =
      sts.sortBy(st => st.getPath.toString + (if (st.isDirectory) "/" else ""))
        .iterator.map { st =>
          if (!st.isDirectory) Some(st)
          else first(fs.listStatus(st.getPath).toSeq.filter(c => isDataName(c.getPath.getName)))
        }.collectFirst { case Some(f) => f }
    first(roots.flatMap(p =>
      try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }))
  }

  /** `spark.read.parquet(path)` with its schema resolved on the driver
    * from the footer Spark's inference would read: no Spark job. The
    * partition columns of a partitioned dataset stay out of the passed
    * schema, so partition discovery types them as an inferring read
    * does. A path with no data file reads without a schema and fails as
    * such a read fails. Not for `mergeSchema` reads, which need every
    * footer.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, spark.read, Seq(path))

  /** [[parquet]] of several paths through `reader`, which carries the
    * read's options (such as `basePath`).
    */
  private[graft] def parquet(spark: SparkSession, reader: DataFrameReader,
                             paths: Seq[String]): DataFrame = {
    val state = spark.sessionState
    val conf = state.newHadoopConf()
    val roots = paths.map(new Path(_))
    firstDataFile(roots.head.getFileSystem(conf), roots) match {
      case Some(st) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer), new ParquetToSparkSchemaConverter(state.conf))
        reader.schema(schema).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  private def load(s: SparkSession, d: String, name: String): DataFrame =
    checked(table(s, d, name), name)

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
