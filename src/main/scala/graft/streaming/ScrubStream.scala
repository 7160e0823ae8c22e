package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.Scrub

/**
 * Streaming twins of the corpus-scrubbing operators
 * ([[graft.text.Scrub]]) — scrub-at-ingest as it actually deploys.
 */
object ScrubStream {

  private def documents(spark: SparkSession, dir: String): DataFrame =
    DocumentProbeStream.readDocuments(spark, s"$dir/documents.parquet")

  /**
   * st18: streaming PII scrub — documents arrive as a file stream and
   * the plant/count/mask report runs as a STATELESS projection on the
   * streaming frame: append mode, no watermark, no state store, O(1)
   * memory at any stream length — the shape that masks a crawl
   * firehose row-by-row at ingest wire speed, composing with any
   * trigger or restart policy for free (same stateless-twin design as
   * st13's quarantine router). tx34's oracle carries verbatim.
   */
  def piiScrubReplay(spark: SparkSession, dir: String): DataFrame =
    StreamRun.drain("graft_stream_pii",
      Scrub.piiScrubReport(documents(spark, dir)), "append")

  /**
   * st19: streaming boilerplate counters — the stream maintains
   * [[Scrub.segmentCounts]]'s per-segment occurrence counts as its
   * ONLY state (a streaming aggregation in complete mode, partitioned
   * by segment across the state store exactly as the batch hash
   * aggregate partitions across executors), and the strike pass is
   * the same [[Scrub.strikeBoilerplate]] view the batch operator
   * runs, over the drained counters. This is the st11 pattern: keep
   * the mergeable statistic streaming, derive the report batch-side.
   * tx35's oracle carries verbatim (stream ≡ batch by construction —
   * counts are fold-order-free).
   */
  def segmentDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val counts = StreamRun.drain("graft_stream_segcounts",
      Scrub.segmentCounts(documents(spark, dir), "text", width = 2), "complete")
    Scrub.strikeBoilerplate(Tables.documents(spark, dir), counts,
      "doc_id", "text", width = 2, thresholdDiv = 25.0)
  }

  /**
   * st21: streaming exact-substring dedup state — the stream maintains
   * [[Scrub.substringStats]]'s per-window (count, min-(doc, pos))
   * carriers as its ONLY state. Both aggregates are fold-order-free
   * (`count` sums; `min` over the (doc, pos) struct is associative,
   * commutative and idempotent), so ANY split of the corpus into
   * micro-batches — including a window's occurrences arriving out of
   * (doc, pos) order across batches — drains to exactly the batch
   * aggregate, and the keep-first pick cannot flip with arrival order.
   * The strike pass is the same [[Scrub.strikeSubstrings]] view the
   * batch operator runs; tx37's oracle carries verbatim.
   */
  def substringDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val stats = StreamRun.drain("graft_stream_substr",
      Scrub.substringStats(documents(spark, dir), "doc_id", "text", width = 30),
      "complete")
    Scrub.strikeSubstrings(Tables.documents(spark, dir), stats,
      "doc_id", "text", width = 30)
  }

  /**
   * st26: streaming heavy-hitter monitor — the stream maintains the
   * per-token counts as its ONLY state (complete-mode aggregation;
   * counts are fold-order-free, so any micro-batch split drains to
   * the batch aggregate) and the threshold/share report is the
   * shared [[graft.ops.Frequency.heavyHittersFromCounts]] view.
   * State here is vocabulary-bounded; a firehose whose ACTIVE
   * vocabulary outgrows state would swap the maintained counters for
   * the same Misra–Gries summary dq16's batch path runs per
   * partition — the report view is unchanged either way. dq16's
   * oracle carries verbatim.
   */
  def heavyHittersReplay(spark: SparkSession, dir: String): DataFrame = {
    val counts = StreamRun.drain("graft_stream_hh", documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt")), "complete")
    graft.ops.Frequency.heavyHittersFromCounts(counts, 63)
      .withColumnRenamed("item", "token")
  }
}
