package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Storage

/**
 * st24: write-audit-publish as a STREAMING sink — io19's staged-commit
 * discipline applied per micro-batch, which is where it earns its
 * keep: a poisoned batch in a long-running stream must not reach
 * readers, and must not kill the stream either. Each trigger drains
 * the complete-mode snapshot, stages it as generation `batchId`, runs
 * the audits against the STAGED FILES, and either swings the
 * `_PUBLISHED` pointer (one atomic rename) or refuses and leaves the
 * pointer — and every reader — on the last clean generation. The
 * stream keeps running either way; publishing resumes with the next
 * snapshot whose audits pass (for a complete-mode aggregate that
 * means the STATE must be clean again — a poisoned key refuses every
 * snapshot it appears in, which is exactly the guarantee: readers
 * stay on the last clean view for as long as the poison persists).
 * Readers poll one pointer file and never observe a partial or
 * poisoned state.
 *
 * State is the aggregation's own (bounded by the group domain, not
 * stream length); the publish side adds nothing but staged parquet
 * generations.
 */
object PublishStream {

  /** Start the audited publisher over a complete-mode aggregate. */
  def runAuditedPublish(aggregated: DataFrame, stateRoot: String,
      checkpointDir: String,
      audits: Seq[(String, DataFrame => Boolean)]): StreamingQuery =
    aggregated.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // localCheckpoint: the staged write and the audits re-read the
        // frame, and must all read THIS trigger's rows
        Storage.writeAuditPublish(batch.localCheckpoint(), stateRoot, id, audits)
        ()
      }
      .start()

  /** The standard daily-counter audits: a snapshot publishes only if
    * it is non-empty, its day key is never NULL, and (type, day) is
    * unique — the io19 battery at the streaming sink. */
  def dailyAudits: Seq[(String, DataFrame => Boolean)] = Seq(
    "nonempty" -> (d => d.limit(1).count() == 1),
    "key_not_null" -> (d => d.filter(col("day").isNull).limit(1).count() == 0),
    "key_unique" -> (d =>
      d.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).count() == 0))

  /** st24's gated entry: replay the fixture events as several
    * micro-batches through the audited publisher, then read what the
    * pointer serves. Every fixture batch passes its audits, so the
    * final published generation is the LAST complete snapshot — the
    * full (event_type, day) aggregate, which is exactly the oracle's
    * batch SQL. The refusal path (a poisoned batch that must pin the
    * pointer without killing the stream) is spec'd in StreamingSpec.
    * The result is snapshotted, then the scratch tree is deleted. */
  def auditedPublishReplay(spark: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.withDir("graft-st24-") { tmp =>
      val stream = StreamRun.replay(
        graft.sources.Tables.events(spark, dir), "event_id", s"$tmp/feed")
      val q = runAuditedPublish(
        graft.queries.QualityQueries.dailyCounts(stream),
        s"$tmp/pub", s"$tmp/chk", dailyAudits)
      try q.processAllAvailable() finally q.stop()
      Storage.readPublished(spark, s"$tmp/pub")
        .getOrElse(sys.error("no generation published"))
        .select(col("event_type"), col("day").cast("string").as("day"), col("n"))
        .localCheckpoint()
    }
}
