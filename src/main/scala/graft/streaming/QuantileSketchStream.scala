package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.quality.Qs

/**
 * st33: streaming quantile sketch — dq26's per-shard bottom-K
 * signatures maintained as CUSTOM streaming state, the stateful
 * family member whose state a built-in aggregate cannot express
 * (bottom-K is not a fixed-key MIN; it is an order statistic of the
 * whole key stream).
 *
 * The state per shard is the K=256 smallest (h, k, v) triples seen so
 * far. Folding a micro-batch is min-union — `(state ∪ batch) sorted,
 * take K` — which is associative and commutative, so ANY split of the
 * feed into micro-batches, in any arrival order, drains to the exact
 * batch signature ([[graft.quality.Qs]]'s merge law, the one QsSpec
 * pins and dq26's gate proves shard-wise). State is K-bounded per
 * shard — 256 triples regardless of how many rows the shard has
 * absorbed, the whole point of sketch state at 100 TB: the quantile
 * monitor's memory never grows with the stream's past.
 *
 * The report is the SHARED dq26 view over the drained signatures
 * ([[graft.queries.QualityQueries.qsReportFromSignatures]]), so
 * `merge_ok` — which dq26 uses to prove the shard merge identity —
 * here proves drained-stream-state ≡ direct batch bottom-K, cell for
 * cell, and dq26's oracle carries verbatim.
 */
object QuantileSketchStream {

  case class QsRow(shard: String, k: Long, h: Long, v: Double)

  /** Per-shard signature state: the bottom-K (h, k, v) triples in
    * (h, k) order, plus a monotonic update counter so update-mode
    * sinks can recover "latest state per shard" unambiguously. */
  case class QsSig(shard: String, hs: Seq[Long], ks: Seq[Long],
                   vs: Seq[Double], updates: Long)

  private def fold(shard: String, prev: Option[QsSig],
                   batch: Iterator[QsRow]): QsSig = {
    val old = prev.map(s => s.hs.lazyZip(s.ks).lazyZip(s.vs).toSeq)
      .getOrElse(Seq.empty)
    val all = (old ++ batch.map(r => (r.h, r.k, r.v)))
      .sortBy { case (h, k, _) => (h, k) }.take(Qs.K)
    QsSig(shard, all.map(_._1), all.map(_._2), all.map(_._3),
      prev.map(_.updates + 1).getOrElse(0L))
  }

  /** Stateful bottom-K maintainer over a stream of sketch rows; emits
    * the up-to-date signature for every shard touched by the batch. */
  def sketchStream(rows: Dataset[QsRow]): Dataset[QsSig] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.shard)
      .mapGroupsWithState[QsSig, QsSig](GroupStateTimeout.NoTimeout) {
        (shard, batch, state: GroupState[QsSig]) =>
          val sig = fold(shard, state.getOption, batch)
          state.update(sig)
          sig
      }
  }

  /** Drained update-mode signatures (latest per shard) back to
    * (shard, k, h, v) rows — the `perShard` frame dq26's report
    * consumes. */
  def signatureRows(drained: DataFrame): DataFrame =
    drained
      .select(col("shard"),
        explode(arrays_zip(col("hs"), col("ks"), col("vs"))).as("z"))
      .select(col("shard"), col("z.ks").as("k"), col("z.hs").as("h"),
        col("z.vs").as("v"))

  /** st33's gated entry: spray the order rows into several key-hashed
    * files, replay one file per micro-batch (so every shard's
    * signature is genuinely folded across batches), drain the state,
    * and run the shared dq26 report against the batch fixture. The
    * scratch feed is deleted once the drain has snapshotted the state;
    * the report reads only the snapshot and the batch fixture. */
  def quantileSketchReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = graft.queries.QualityQueries.qsRows(
      graft.sources.Tables.orders(spark, dir))
    val sigs = graft.util.Scratch.withDir("graft-st33-") { tmp =>
      val stream = StreamRun.replay(rows, "k", s"$tmp/feed")
      StreamRun.drain("graft_stream_qsketch", sketchStream(stream.as[QsRow]),
        "update")
    }
    // the sink appends one row per (shard, trigger); keep the latest
    // update per shard
    val drained = graft.ops.Relational.dedupeKeepFirst(
      sigs, Seq("shard"), Seq(col("updates").desc))
    graft.queries.QualityQueries.qsReportFromSignatures(
      spark, signatureRows(drained), rows)
  }
}
