package graft.marketpulse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Exact._
import graft.sources.Tables

/**
 * The full document pipeline driven by genuine provider-shaped JSON
 * (`"Time Series (Daily)"` MAP documents with quoted, digit-prefixed
 * OHLCV field names and string-typed values — `dags/get_stock.py:88-97`,
 * `stg_alphavantage.sql:10-21`), constructed deterministically from the
 * `events` table so the whole path sits under the DuckDB oracle gate.
 *
 * Two overlapping fetch versions are synthesized per symbol, mimicking
 * the reference's daily refetch cycle:
 *
 *  - v1 — a full-history fetch taken at NOON three days before the end
 *    of the data: every day before the cutoff day is complete, the
 *    cutoff day's bar is partial (pre-noon events only);
 *  - v2 — a newer compact refetch of the last 7 days, complete.
 *
 * U2 last-writer-wins must therefore do real work: v2's complete bars
 * clobber v1's stale partial bar on the overlap, and only v1 supplies
 * the older history. The merged result equals complete daily bars over
 * ALL events — which is exactly what the independent DuckDB oracle
 * computes relationally, without any JSON. A wrong merge direction, a
 * broken JSON path, a dropped alias mapping, or a lossy string
 * round-trip each surface as a hash mismatch.
 *
 * The 'purchase' type ships under the provider alias `BRK-B` so the
 * canonicalization path (`get_stock.py:30-32`) is exercised under the
 * oracle too — and lands on dimStock's real Berkshire branch while the
 * other symbols take the 'Unknown Company' fallback (§2.13.1).
 */
object AvRoundTrip {

  /** Provider-side ticker for an event type ('purchase' ships under
    * its provider alias; everything else is just uppercased). */
  private def providerSymbol =
    when(col("event_type") === "purchase", "BRK-B")
      .otherwise(upper(col("event_type")))

  /** Daily OHLCV bars per provider symbol over a pre-filtered event
    * window (same order-statistics shape as EventTicker.dailyBars). */
  private def barsOf(ev: DataFrame): DataFrame =
    ev.groupBy(providerSymbol.as("psym"),
        date_trunc("day", col("ts")).cast(DateType).cast(StringType).as("day"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("volume"))

  /** Assemble one provider JSON document per symbol: values rendered as
    * strings (%.2f is exact for the 2-decimal corpus), dates as map
    * keys, metadata carrying the provider ticker and last-refreshed
    * day — the shapes `Schemas.rawDocument` declares. */
  private def docsOf(bars: DataFrame): DataFrame =
    bars.groupBy(col("psym"))
      .agg(
        map_from_entries(array_sort(collect_list(struct(col("day"),
          struct(
            format_string("%.2f", col("open")).as("1. open"),
            format_string("%.2f", col("high")).as("2. high"),
            format_string("%.2f", col("low")).as("3. low"),
            format_string("%.2f", col("close")).as("4. close"),
            col("volume").cast(StringType).as("5. volume"))))))
          .as("series"),
        max(col("day")).as("last_day"))
      .select(to_json(struct(
        map(
          lit("1. Information"), lit("Daily Prices (open, high, low, close) and Volumes"),
          lit(Schemas.MetaSymbolKey), col("psym"),
          lit("3. Last Refreshed"), col("last_day")).as(Schemas.MetaKey),
        col("series").as(Schemas.SeriesKey))).as("json"))

  // the two frames of one fixture dir, two dirs' worth
  private val cache = new graft.util.PlanCache(maxEntries = 4)

  /**
   * mp05: documents → parse → U2 merge → staging flatten/casts → dim
   * enrichment. Output = one row per (symbol, trading_date) with OHLCV,
   * change metrics, and the merged document's last-refreshed metadata.
   */
  def query(spark: SparkSession, dir: String): DataFrame = {
    // Three consumers scan events (the max-day aggregate, v1's and v2's
    // bar builds) — persist the pruned projection once instead of
    // paying the parquet scan three times.
    val ev = cache.persisted(Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value")))
    // data-derived fetch boundaries, kept declarative (broadcast of a
    // 1-row aggregate instead of a driver-side collect)
    val evB = ev.crossJoin(broadcast(ev.agg(max(to_date(col("ts"))).as("max_day"))))
    val noonCutoff = to_timestamp(
      concat(date_sub(col("max_day"), 3).cast(StringType), lit(" 12:00:00")))
    val v1 = docsOf(barsOf(evB.filter(col("ts") < noonCutoff)))
    val v2 = docsOf(barsOf(evB.filter(to_date(col("ts")) >= date_sub(col("max_day"), 6))))

    // the merge reads versions once; merged is consumed twice below
    // (staging and meta) — persisting it keeps the document build (two
    // bar aggregations + JSON round-trip) to one execution. It is
    // symbol-cardinality (a handful of rows), so the cache cost is nil.
    val versions = Ingest.parseDocumentFrame(
      v1.withColumn("__fetch", lit("2026-01-01 00:00:00"))
        .unionByName(v2.withColumn("__fetch", lit("2026-01-02 00:00:00"))),
      col("json"),
      to_timestamp(col("__fetch")))

    val merged = cache.persisted(DocumentMerge.mergeIncremental(versions))
    val stg = Staging.stgAlphavantage(merged)
    val meta = merged.select(col("symbol"),
      col("data").getField(Schemas.MetaKey).getItem("3. Last Refreshed")
        .as("last_refreshed"))

    stg.join(broadcast(Marts.dimStock(stg)), Seq("symbol"), "left")
      .join(broadcast(meta), Seq("symbol"))
      .select(
        col("symbol"), col("company_name"), col("sector"),
        // dates travel as ISO strings through the driver compare
        col("trading_date").cast(StringType).as("trading_date"),
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        // difference of two 2-decimal values is a 2-decimal value: the
        // fact model's ROUND(x, 2) is boundary-safe here (unlike
        // percent_change, which stays unrounded — Exact.scala rules)
        round(col("close") - col("open"), 2).as("daily_change"),
        ((col("close") - col("open")) / nullif(col("open"), lit(0)) * lit(100.0))
          .as("percent_change"),
        col("last_refreshed"))
  }
}
