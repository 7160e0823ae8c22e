package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.util.PlanCache

/**
 * Typed loaders for the driver-generated star schema (`TESTDATA.md`):
 * TPC-H-ish tables plus an event stream, a text-document table, and an
 * embedding table. Each loader is a parquet scan with a declared
 * schema: the schema is inferred once per file version and supplied to
 * the reader after that (see [[layout]]), so a repeat load starts no
 * Spark job. Column pruning and predicate pushdown are left to
 * Catalyst, so callers should select/filter as early as possible and
 * let the optimizer reach the scan.
 */
object Tables {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** What one parquet file version resolves to: its schema, and whether
    * reading it needs the legacy nanos conf. */
  private final case class Layout(schema: StructType, nanos: Boolean)

  // holds no frames, only layouts; a PlanCache so releaseAll flushes it
  private val layouts = new PlanCache(maxEntries = 16)

  /** The version of the parquet file or directory at `path`: its
    * qualified path plus the path, length and modification time of
    * every file under it. Rewriting the file, or a directory's part
    * files, gives a new version. Hadoop's `listStatus` and
    * `getFileStatus` are plain stat calls on the local filesystem (no
    * forked `stat`). A missing path throws `FileNotFoundException`
    * naming it. */
  private def version(spark: SparkSession, path: String): (String, Seq[(String, Long, Long)]) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
    (fs.makeQualified(root).toString,
      leaves(fs.getFileStatus(root))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted)
  }

  /** `path`'s layout, inferred by the parquet reader (one Spark job)
    * on the first load of the current file version and memoized for
    * every session after that. With `nanosFallback`, a file the plain
    * reader rejects is inferred again under the legacy nanos conf (see
    * [[eventsFile]]); the conf is set only after the plain read
    * failed, so a MICROS file never touches it. Sessions share the
    * memo: every session here comes from `LocalSpark`, with the same
    * parquet inference settings. */
  private def layout(spark: SparkSession, path: String, nanosFallback: Boolean): Layout =
    layouts.memoOn(version(spark, path), "parquet-layout", nanosFallback) {
      try Layout(spark.read.parquet(path).schema, nanos = false)
      catch {
        case NonFatal(first) if nanosFallback =>
          spark.conf.set(NanosAsLong, "true")
          try Layout(spark.read.parquet(path).schema, nanos = true)
          catch { case NonFatal(_) => throw first }
      }
    }

  /** `path` read with its memoized schema. A nanos layout sets the
    * legacy conf on THIS session before the read: the memo outlives
    * the session that inferred it. */
  private def read(spark: SparkSession, path: String,
                   nanosFallback: Boolean = false): DataFrame = {
    val l = layout(spark, path, nanosFallback)
    if (l.nanos) spark.conf.set(NanosAsLong, "true")
    spark.read.schema(l.schema).parquet(path)
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /**
   * `events.parquet` has shipped with two physical layouts for `ts`
   * across fixture generations, so the loader adapts to the file:
   *
   *  - TIMESTAMP(NANOS): the Spark parquet reader rejects it outright
   *    ([PARQUET_TYPE_ILLEGAL]); we read nanos as a plain INT64 via the
   *    legacy conf and convert to microsecond `TimestampType` ourselves.
   *    The conversion uses integer division (`div`), never float
   *    division: nanosecond epoch values (~1.7e18) exceed 2^53 and
   *    would be silently corrupted by a round trip through Double.
   *  - TIMESTAMP(MICROS) (current fixtures, and Spark-written copies
   *    such as the 10x blow-up): reads natively — as TIMESTAMP_NTZ when
   *    the file is not UTC-adjusted — and a plain cast to
   *    `TimestampType` under the fixed UTC session keeps the wall-clock
   *    identical to the nanos path.
   *
   * The nanosecond epoch value is preserved as `ts_ns` for callers that
   * need a total order (`unix_micros * 1000` on the micros layout — the
   * same value the nanos layout carries, micro-truncated).
   */
  /** Raw events frame in whichever physical layout the fixture has. */
  private[graft] def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    eventsFile(spark, s"$dir/events.parquet")._1

  /** The events parquet at `path` read as a batch frame, with the
    * expressions mapping its `ts` onto microsecond `TimestampType` `ts`
    * and nanosecond `ts_ns` — the one layout probe both the batch and
    * the streaming loader use. The probe is part of [[layout]]'s
    * resolution, so it runs once per file version, not per load. The
    * legacy nanos conf is session-global by Spark's design (no
    * per-relation override exists), so it is touched ONLY when the file
    * actually carries TIMESTAMP(NANOS) — which Spark otherwise rejects
    * at schema resolution — detected by attempting the plain read
    * first. Current MICROS fixtures therefore never mutate the shared
    * session (the io08/io11 isolation lesson); on a legacy nanos
    * fixture the flag's only observable effect is on nanos columns,
    * which exist in no other table, and every load of it sets the flag
    * on the loading session, memo hit or not. A fatal error (out of
    * memory, interrupt) during the plain read propagates instead of
    * flipping the conf. */
  private[graft] def eventsFile(spark: SparkSession,
                                path: String): (DataFrame, String, String) = {
    val raw = read(spark, path, nanosFallback = true)
    raw.schema("ts").dataType match {
      case LongType =>
        (raw, "timestamp_micros(ts div 1000) AS ts", "ts AS ts_ns")
      case _ =>
        (raw, "cast(ts AS timestamp) AS ts",
          "unix_micros(cast(ts AS timestamp)) * 1000 AS ts_ns")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val (raw, ts, tsNs) = eventsFile(spark, s"$dir/events.parquet")
    raw.selectExpr("event_id", ts, tsNs, "user_id", "event_type", "value", "props")
  }
}
