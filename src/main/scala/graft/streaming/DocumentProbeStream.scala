package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.sources.Tables

/**
 * Streaming incremental near-duplicate probe — the steady-state dedup
 * pipeline as it actually runs: new documents ARRIVE (a crawl drop, a
 * feed), and each micro-batch is probed against the static existing
 * corpus with [[graft.dedup.Dedup.incrementalNearDups]] inside
 * `foreachBatch`, appending verified (delta, corpus, jaccard) matches
 * to the sink.
 *
 * Why foreachBatch rather than a stream-static join chain: the batch
 * probe is already the scale-correct plan (delta band keys broadcast,
 * corpus never shuffles, exact-Jaccard verification on candidates
 * only), and `foreachBatch` lets every arriving micro-batch reuse it
 * verbatim — one code path, one set of plan-shape guarantees, plus the
 * streaming machinery (micro-batches, offsets, restartability) on top.
 * This is the same composition as [[StreamingPipeline]]'s landing.
 */
object DocumentProbeStream {

  /** Read schema for the documents parquet. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming scan of a documents parquet path. */
  def readDocuments(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(EventStream.streamableDir(path))

  /**
   * st07: run the incremental probe as a real Structured Streaming
   * query — the delta slice (doc_id % 10 = 7) arrives as a file
   * stream; each micro-batch runs the batch probe against the static
   * corpus (the other 9/10) and appends its matches. Returns the
   * accumulated matches; equal to the batch tx22 result (same
   * parameters, same split), which is what the shared oracle asserts.
   */
  def incrementalDedupReplay(spark: SparkSession, dir: String): DataFrame =
    probeWithStream(
      readDocuments(spark, s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(10)) === 7),
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 7))

  /**
   * st09: the multimodal ingest as a stream — documents arrive as a
   * file stream, and the media synthesis + per-partition aHash decode
   * run as STATELESS typed stages directly on the streaming frame (no
   * foreachBatch: decode carries no cross-batch state, so it composes
   * with any trigger/restart policy for free), appending fingerprints
   * to the sink as batches complete. The gate is the strongest form
   * available: every streamed hash must equal the independent
   * per-cell-loop reference implementation's value for that id.
   */
  def mediaHashReplay(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.mediaWithRealImages(
      readDocuments(spark, s"$dir/documents.parquet"))
      .filter(col("kind") === "image")
    StreamRun.drain("graft_stream_media_hashes",
      graft.multimodal.Multimodal.imageHashes(media), "append")
  }

  /** Run `deltaStream` (a streaming frame of documents) through the
    * per-micro-batch probe against the static `corpus`, blocking until
    * all available input is processed; returns the accumulated
    * matches, snapshotted before the scratch output tree is deleted.
    * Exposed separately so tests can drive multi-batch arrival (e.g.
    * maxFilesPerTrigger=1 over several files). */
  def probeWithStream(deltaStream: DataFrame, corpus: DataFrame): DataFrame =
    graft.util.Scratch.withDir("graft-probe-out-") { outDir =>
      val q = deltaStream
        .writeStream
        .option("checkpointLocation", s"$outDir/_checkpoint")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Dedup.incrementalNearDups(corpus, batch, "doc_id", "text",
              minJaccard = 0.7)
            .write.mode("append").parquet(s"$outDir/matches")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val resultSchema = StructType(Seq(
        StructField("delta_id", LongType),
        StructField("corpus_id", LongType),
        StructField("jaccard", DoubleType)))
      corpus.sparkSession.read.schema(resultSchema).parquet(s"$outDir/matches")
        .select("delta_id", "corpus_id", "jaccard").localCheckpoint()
    }
}
