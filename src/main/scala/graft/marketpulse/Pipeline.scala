package graft.marketpulse

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.quality.DataQuality
import graft.quality.DataQuality.CheckResult

/**
 * The reference's 4-stage DAG (`stock_pipeline_dag.py:141`:
 * fetch → load → transform → publish) collapsed into one SparkSession:
 * stage boundaries become plain dataframe dependencies in `ref()` order
 * (stg → {dim, fact(dim)} → weekly), and the publish stage — a BI
 * cache sync in the reference — is a no-op because the Spark catalog is
 * self-describing.
 *
 * Every model can optionally be materialized (the reference
 * materializes all models as tables, `dbt_project.yml:6`); by default
 * the run returns live DataFrames and lets the caller decide, since at
 * scale re-materializing every intermediate doubles the I/O bill.
 */
object Pipeline {

  final case class Run(
      raw: DataFrame,
      staging: DataFrame,
      dim: DataFrame,
      fact: DataFrame,
      weekly: DataFrame) {
    def qualityReport: Seq[CheckResult] =
      DataQuality.referenceSuite(staging, dim, fact, weekly)
  }

  /** Run the full pipeline from landed documents (a directory of
    * per-symbol JSON files). */
  def fromDocuments(spark: SparkSession, docsPath: String): Run =
    fromRaw(Ingest.readDocuments(spark, docsPath))

  /** Run from an already-landed raw table (rawTable-shaped; multiple
    * versions per symbol are merged U2-style first). */
  def fromRaw(raw: DataFrame): Run =
    fromMerged(DocumentMerge.mergeIncremental(raw))

  /** Build the model DAG from an ALREADY-merged raw frame (one row per
    * symbol) without paying the merge again. */
  def fromMerged(merged: DataFrame): Run = {
    val stg = Staging.stgAlphavantage(merged)
    val dim = Marts.dimStock(stg)
    val fact = Marts.factStockPrices(stg, dim)
    val weekly = Marts.aggWeeklyPrices(fact)
    Run(merged, stg, dim, fact, weekly)
  }

  /**
   * The reference's whole Airflow DAG as one call
   * (`stock_pipeline_dag.py:141`: fetch → load → transform → publish):
   * fetch documents through the pluggable transport, then [[land]]
   * them. Because U2 is idempotent and last-writer-wins, re-running
   * with the same fetch changes nothing, and a refetch restating old
   * dates wins exactly where it should.
   */
  def referenceDag(spark: SparkSession, symbols: Seq[String],
                   fetcher: Fetch.DocumentFetcher, docsRoot: String,
                   rateLimitMillis: Long = 0L): Run =
    land(Fetch.fetchDocuments(spark, symbols, fetcher, rateLimitMillis), docsRoot)

  /**
   * Land fetched document versions (rawTable-shaped) in the per-symbol
   * JSON store at `docsRoot`: U2-merge them with the already-landed
   * documents, write the merged documents back (`get_stock.py:99-104`
   * — the landed store IS the durable merge state), then derive the
   * model DAG from the merged raw. The one landing path of the daily
   * DAG and the continuous pipeline. The returned `raw` is persisted;
   * the caller unpersists it when done with the Run.
   */
  def land(versions: DataFrame, docsRoot: String): Run = {
    val spark = versions.sparkSession
    val root = new Path(docsRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasStore = fs.exists(root) && fs.listStatus(root).nonEmpty
    // the landed store is by definition OLDER than the incoming
    // versions: stamp it epoch-zero so last-writer-wins resolves ties
    // toward them (current_timestamp is per-query constant, so both
    // frames would otherwise carry the same load_date)
    val all =
      if (hasStore)
        Ingest.readDocuments(spark, docsRoot)
          .withColumn("load_date", to_timestamp(lit("1970-01-01 00:00:00")))
          .unionByName(versions)
      else versions
    // persist + materialize BEFORE the write-back: the merge plan reads
    // the very files writeDocuments is about to overwrite, and every
    // later action on the Run would otherwise re-pay the whole merge
    val merged = DocumentMerge.mergeIncremental(all)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    merged.count()
    DocumentSink.writeDocuments(merged, docsRoot)
    fromMerged(merged)
  }

  /**
   * Materialize every model as a table, mirroring the reference's
   * all-tables policy (`dbt_project.yml:6`). The four writes are
   * independent, so they run concurrently, one thread per model, each
   * with the caller's active session and local properties (job group,
   * scheduler pool); their small jobs then share the cores instead of
   * waiting on each other's stage tails. Waits for every write, then
   * rethrows the first failure (in model order) naming its table. Every
   * thread it starts has ended when it returns.
   */
  def materialize(run: Run, prefix: String = "marketpulse"): Unit = {
    val models = Seq(
      "stg_alphavantage" -> run.staging,
      "dim_stock" -> run.dim,
      "fact_stock_prices" -> run.fact,
      "agg_weekly_prices" -> run.weekly)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(models.size, { r =>
      val t = new Thread(r, s"graft-materialize-$prefix")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val writes = models.map { case (model, df) =>
        val table = s"${prefix}_$model"
        table -> SQLExecution.withThreadLocalCaptured(castToImpl(df.sparkSession), pool) {
          df.write.mode("overwrite").saveAsTable(table)
        }
      }
      val failures = writes.flatMap { case (table, write) =>
        Try(write.join()).failed.toOption.map(e => table -> Option(e.getCause).getOrElse(e))
      }
      failures.headOption.foreach { case (table, e) =>
        throw new RuntimeException(s"materialize $table failed: ${e.getMessage}", e)
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }
}
