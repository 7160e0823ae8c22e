package graft.marketpulse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Relational

/**
 * The reference's two merge laws (SURVEY §2.10):
 *
 *  - U1, document-level MERGE: one row per symbol survives, the newest
 *    load's document replaces the old wholesale
 *    (`dags/minio_to_snowflake.py:66-75`).
 *  - U2, date-level incremental merge: the union of date keys, with the
 *    NEWER value winning on collision, and `"Meta Data"` replaced
 *    entirely by the newest fetch (`dags/get_stock.py:88-97`). This is
 *    what makes daily full-history refetches idempotent and
 *    append-only.
 *
 * Both are set-oriented: any number of symbols/versions merge in one
 * shuffle on the key — versus the reference's per-symbol loop. U2 is
 * one grouping by symbol: the aggregation buffer holds a symbol's k
 * versions whole and the last-writer-wins pick runs on that array.
 * Every caller merges k = 2 versions per symbol (the landed store plus
 * one fetch or micro-batch, or mp05's v1 plus v2), so the buffer is
 * about twice one document.
 */
object DocumentMerge {

  /** U1: upsert `incoming` into `existing` (both rawTable-shaped, one
    * row per symbol per version); newest load_date wins per symbol. */
  def upsertDocuments(existing: DataFrame, incoming: DataFrame): DataFrame =
    Relational.dedupeKeepFirst(
      existing.unionByName(incoming),
      keys = Seq("symbol"),
      order = Seq(col("load_date").desc))

  /**
   * U2: collapse multiple document versions per symbol into one merged
   * document per symbol — union of series dates with last-writer-wins
   * per (symbol, date), metadata from the newest version.
   *
   * Input: rawTable-shaped rows, any number of versions per symbol.
   * Output: rawTable-shaped, exactly one row per symbol; its load_date
   * is the newest version's.
   */
  def mergeIncremental(versions: DataFrame): DataFrame = {
    // load order as a sort key, smaller = newer; a NULL load_date ranks
    // oldest, as `load_date DESC` (NULLS LAST) does. Negating
    // unix_micros cannot overflow for any valid timestamp.
    val age = struct(col("load_date").isNull.as("undated"),
      negate(unix_micros(col("load_date"))).as("newest_first"))
    val noSeries = map().cast(Schemas.rawDocument(Schemas.SeriesKey).dataType)
    versions
      .groupBy(col("symbol"))
      .agg(
        // the newest version carries Meta Data + load_date (the clobber
        // law, get_stock.py:95)
        min_by(col("data").getField(Schemas.MetaKey), age).as("meta"),
        max(col("load_date")).as("load_date"),
        collect_list(struct(age.as("age"),
          coalesce(col("data").getField(Schemas.SeriesKey), noSeries).as("series"))).as("vs"))
      // every version's (date, age, bar), dates ascending and the newest
      // version first within a date…
      .select(col("symbol"), col("meta"), col("load_date"),
        array_sort(flatten(transform(col("vs"), v =>
          transform(map_entries(v.getField("series")), e =>
            struct(e.getField("key").as("date"), v.getField("age").as("age"),
              e.getField("value").as("bar")))))).as("bars"))
      // …so the first entry of each date is its last writer. A symbol
      // whose every version had an empty series keeps its (empty-map)
      // document.
      .select(
        col("symbol"),
        struct(
          col("meta").as(Schemas.MetaKey),
          map_from_entries(transform(
            filter(col("bars"), (b, i) =>
              i === 0 || get(col("bars"), i - 1).getField("date") =!= b.getField("date")),
            b => struct(b.getField("date"), b.getField("bar")))).as(Schemas.SeriesKey)).as("data"),
        col("load_date"))
  }
}
