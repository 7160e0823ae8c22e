package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.marketpulse.{Ingest, Pipeline}

/**
 * The reference's whole DAG as a continuous pipeline: a stream of raw
 * provider documents (e.g. landed JSON payloads) lands micro-batch by
 * micro-batch through [[Pipeline.land]] — the daily DAG's own U2 merge
 * and per-symbol JSON store — and every micro-batch refreshes the
 * downstream models (staging → dim → fact → weekly) from the updated
 * store. A daily `Pipeline.referenceDag` and a stream can share one
 * store, and a compact refetch keeps the dates it does not restate.
 *
 * foreachBatch (not a chained streaming agg) is the right shape here:
 * the models derive from the landed store, like the reference's full
 * CTAS rebuild per run (`dbt_project.yml:6`) — except per micro-batch
 * instead of daily. Each micro-batch pays the daily DAG's full-store
 * landing. A replayed micro-batch (foreachBatch is at-least-once) lands
 * the same bytes again, because U2 is idempotent.
 */
object StreamingPipeline {

  /** Parse a stream of raw JSON document strings (column `json`) into
    * rawTable shape — same validity/alias/load-date semantics as the
    * batch path, by construction. */
  def parseDocStream(docs: DataFrame): DataFrame =
    Ingest.parseDocumentFrame(docs, col("json"))

  /**
   * Run the continuous pipeline: land each micro-batch of documents in
   * the JSON store at `storePath`, then expose the model outputs as
   * temp views over a fresh read of the store
   * (`prefix`_stg/_dim/_fact/_weekly) and the batch's symbols' slice
   * (`prefix`_stg_delta/_fact_delta). Returns the started query.
   */
  def run(docStream: DataFrame, storePath: String,
          prefix: String = "mp_live"): StreamingQuery = {
    val raw = parseDocStream(docStream)
    // foreachBatch hands over a CLONED session; temp views must go on
    // the original session for consumers to see them
    val owner = docStream.sparkSession
    raw.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val touched = batch.select("symbol").distinct().collect().map(_.getString(0)).toSeq
      Pipeline.land(batch, storePath).raw.unpersist()
      // refresh the views on EVERY batch once the store exists: an
      // empty micro-batch must not leave consumers without views, and
      // must clear the previous batch's _delta slice (touched = empty →
      // isin() → empty delta), not re-present it as current
      val root = new Path(storePath)
      if (root.getFileSystem(owner.sparkContext.hadoopConfiguration).exists(root)) {
        val run = Pipeline.fromDocuments(owner, storePath)
        run.staging.createOrReplaceTempView(s"${prefix}_stg")
        run.dim.createOrReplaceTempView(s"${prefix}_dim")
        run.fact.createOrReplaceTempView(s"${prefix}_fact")
        run.weekly.createOrReplaceTempView(s"${prefix}_weekly")
        run.staging.filter(col("symbol").isin(touched: _*))
          .createOrReplaceTempView(s"${prefix}_stg_delta")
        run.fact.filter(col("symbol").isin(touched: _*))
          .createOrReplaceTempView(s"${prefix}_fact_delta")
      }
    }.start()
  }
}
