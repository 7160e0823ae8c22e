package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Typed loaders for the driver-generated star schema (`TESTDATA.md`):
 * TPC-H-ish tables plus an event stream, a text-document table, and an
 * embedding table. Each loader is a plain parquet scan — column pruning
 * and predicate pushdown are left to Catalyst, so callers should
 * select/filter as early as possible and let the optimizer reach the
 * scan.
 */
object Tables {

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
    * the streaming loader use. The legacy nanos conf is session-global
    * by Spark's design (no per-relation override exists), so it is
    * touched ONLY when the file actually carries TIMESTAMP(NANOS) —
    * which Spark otherwise rejects at schema resolution — detected by
    * attempting the plain read first. Current MICROS fixtures therefore
    * never mutate the shared session (the io08/io11 isolation lesson);
    * on a legacy nanos fixture the flag's only observable effect is on
    * nanos columns, which exist in no other table. A fatal error
    * (out of memory, interrupt) during the plain read propagates
    * instead of flipping the conf. */
  private[graft] def eventsFile(spark: SparkSession,
                                path: String): (DataFrame, String, String) = {
    val raw =
      try spark.read.parquet(path)
      catch {
        case NonFatal(first) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          try spark.read.parquet(path)
          catch { case NonFatal(_) => throw first }
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
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
