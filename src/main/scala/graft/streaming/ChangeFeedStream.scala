package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.Relational
import graft.sources.Tables

/**
 * st17: CDC change-feed apply as a real streaming query — the
 * production mode of io15's operator, where the feed ARRIVES in
 * micro-batches and in no particular order relative to its sequence
 * numbers.
 *
 * The per-key keep-latest state is a streaming AGGREGATION running the
 * SAME [[Relational.latestChanges]] call as the batch operator — one
 * definition of the latest-change pick (total `(seq, op, payload)`
 * struct ordering), so stream ≡ batch on duplicate `(key, seq)`
 * redeliveries by construction, not by parallel re-implementation.
 * `max_by`'s merge is associative and commutative, so the maintained
 * state equals the latest-per-key of the whole feed REGARDLESS of how
 * files split into batches or in what order they arrive. Tombstones
 * (op = D) stay in the state — that is what stops a late lower-seq U
 * from resurrecting a deleted key, the classic out-of-order CDC bug.
 *
 * Restart recovery: the aggregation state lives in Spark's CHECKPOINTED
 * state store (not a driver-side variable), and the update-mode output
 * lands in a generation-dir parquet sink — each micro-batch folds its
 * changed keys into the previous generation and writes `gen-<batchId>`,
 * never in place, so a batch replayed after a crash deterministically
 * recomputes its own generation from the same predecessor (idempotent;
 * the crash-recovery spec kills the query between the sink write and
 * the offset commit and asserts convergence). A deployment restarting
 * from the checkpoint resumes mid-feed instead of rereading it.
 *
 * State size is bounded by distinct CHANGED keys (a delta, not the
 * base); the base table joins once, at read time, and never enters the
 * streaming loop.
 */
object ChangeFeedStream {

  /** Start the recoverable CDC state maintainer: streaming-aggregate
    * the feed to per-key latest changes (update mode), folding each
    * batch's output into the durable generation store at `stateDir`.
    * `onBatch` is a test seam invoked after the sink write, before the
    * batch commits — where a crash is least convenient. */
  def runCdcStream(feedStream: DataFrame, key: String, stateDir: String,
                   checkpointDir: String,
                   onBatch: Long => Unit = _ => ()): StreamingQuery =
    Relational.latestChanges(feedStream, key).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        // fold into the newest generation STRICTLY BEFORE this batch:
        // a replayed batch then rebuilds its generation from the same
        // predecessor it used the first time (gen-<id> is overwritten,
        // never appended), so at-least-once replay converges
        val merged = stateGenBefore(spark, stateDir, id) match {
          case Some(prev) => Relational.upsert(prev, batch, Seq(key))
          case None       => batch
        }
        merged.write.mode("overwrite")
          .parquet(s"$stateDir/${genName(id)}")
        onBatch(id)
        ()
      }
      .start()

  /** The newest durable state generation, or None before any batch
    * committed (an EMPTY feed leaves no generations — callers fall back
    * to an empty typed frame instead of dereferencing null state). */
  def currentState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    stateGenBefore(spark, stateDir, Long.MaxValue)

  /** Apply the maintained state to the base table — the batch operator,
    * unchanged, so the streamed result carries io15's oracle verbatim.
    * `feedSchema` types the empty-feed fallback. */
  def applyState(spark: SparkSession, base: DataFrame, stateDir: String,
                 key: String, feedSchema: StructType): DataFrame = {
    val state = currentState(spark, stateDir).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        feedSchema))
    Relational.applyChangeFeed(base, state, key)
  }

  private def genName(id: Long): String = f"gen-$id%012d"

  /** Newest COMPLETE generation with batch id < `before` (completeness
    * = the _SUCCESS marker — a torn write from a crash mid-batch must
    * not be trusted as a predecessor). */
  private def stateGenBefore(spark: SparkSession, stateDir: String,
                             before: Long): Option[DataFrame] = {
    val dirs = Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("gen-") &&
        new java.io.File(d, "_SUCCESS").isFile)
      .flatMap(d => scala.util.Try(d.getName.stripPrefix("gen-").toLong).toOption
        .filter(_ < before).map(_ -> d))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.maxBy(_._1)._2.toString))
  }

  /** st17's gated entry: write the deterministic io15 feed as several
    * key-hash-sprayed files, replay them one file per micro-batch (so
    * batches genuinely arrive out of seq order), and apply the
    * recovered state to the base. The result is snapshotted, then all
    * scratch dirs (feed, checkpoint, state generations) are deleted,
    * also when the stream throws — repeated bench reps must not
    * accrete temp trees. */
  def cdcApplyReplay(spark: SparkSession, dir: String): DataFrame = {
    val feed = graft.queries.StorageQueries.cdcFeed(spark, dir)
    graft.util.Scratch.withDir("graft-st17-") { tmp =>
      val stream = StreamRun.replay(feed, "o_orderkey", s"$tmp/feed")
      val q = runCdcStream(stream, "o_orderkey", s"$tmp/state", s"$tmp/chk")
      try q.processAllAvailable() finally q.stop()

      graft.queries.StorageQueries.cdcProject(
        applyState(spark, Tables.orders(spark, dir), s"$tmp/state",
          "o_orderkey", stream.schema)).localCheckpoint()
    }
  }
}
