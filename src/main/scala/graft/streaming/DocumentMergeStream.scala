package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.marketpulse.Schemas

/**
 * Streaming U2: the reference's last-writer-wins incremental document
 * merge (`dags/get_stock.py:88-97`) as a stateful streaming operator —
 * the continuous counterpart of [[graft.marketpulse.DocumentMerge]].
 *
 * State is one merged document per symbol, held by
 * `mapGroupsWithState`; each micro-batch folds its document versions
 * into the state in load order (union of date keys, newest value wins,
 * metadata clobbered by the newest version), and emits the updated
 * document. Streaming then batch-replaying the same versions produces
 * the same result as the batch merge — asserted by the spec.
 *
 * Scale: state size is O(symbols × history) but partitioned by symbol
 * key across executors, and each micro-batch touches only the symbols
 * it contains.
 */
object DocumentMergeStream {

  case class Bar(open: String, high: String, low: String, close: String, volume: String)
  case class DocVersion(symbol: String, meta: Map[String, String],
                        series: Map[String, Bar], loadMicros: Long)
  /** `updates` is a per-symbol monotonic update counter, so sinks that
    * append per-trigger rows (e.g. the memory sink in update mode) can
    * recover "latest state per symbol" unambiguously. */
  case class MergedDoc(symbol: String, meta: Map[String, String],
                       series: Map[String, Bar], loadMicros: Long, updates: Long)

  /** rawTable-shaped frame (streaming or batch) → typed versions. */
  def toVersions(raw: DataFrame): Dataset[DocVersion] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val series = col("data").getField(Schemas.SeriesKey)
    raw.select(
      col("symbol"),
      col("data").getField(Schemas.MetaKey).as("meta"),
      transform_values(series, (_, v) => struct(
        v.getField("1. open").as("open"),
        v.getField("2. high").as("high"),
        v.getField("3. low").as("low"),
        v.getField("4. close").as("close"),
        v.getField("5. volume").as("volume"))).as("series"),
      unix_micros(col("load_date")).as("loadMicros"))
      .as[DocVersion]
  }

  private def mergeInto(state: Option[MergedDoc], versions: Iterator[DocVersion]): Option[MergedDoc] =
    versions.toSeq.sortBy(_.loadMicros).foldLeft(state) { (acc, v) =>
      acc match {
        case None => Some(MergedDoc(v.symbol, v.meta, v.series, v.loadMicros, 0L))
        case Some(m) if v.loadMicros >= m.loadMicros =>
          // newer version: union of dates, new values win, meta clobbered
          Some(MergedDoc(v.symbol, v.meta, m.series ++ v.series, v.loadMicros, m.updates))
        case Some(m) =>
          // late (out-of-order) version: only dates we've never seen land
          Some(m.copy(series = v.series ++ m.series))
      }
    }

  /** Stateful merge over a stream of document versions; emits the
    * up-to-date merged document for every symbol seen in the batch. */
  def mergeStream(versions: Dataset[DocVersion]): Dataset[MergedDoc] = {
    val spark = versions.sparkSession
    import spark.implicits._
    versions
      .groupByKey(_.symbol)
      .mapGroupsWithState[MergedDoc, MergedDoc](GroupStateTimeout.NoTimeout) {
        (symbol, batch, state: GroupState[MergedDoc]) =>
          val merged = mergeInto(state.getOption, batch).get
            .copy(updates = state.getOption.map(_.updates + 1).getOrElse(0L))
          state.update(merged)
          merged
      }
  }

  /** Convenience: run the stateful merge synchronously over an
    * in-memory stream of versions and return the final per-symbol
    * documents (update mode, drained). */
  def runToCompletion(versions: Dataset[DocVersion]): DataFrame =
    // the sink appends one row per (symbol, trigger); keep the latest
    // update per symbol
    graft.ops.Relational.dedupeKeepFirst(
      StreamRun.drain("graft_doc_merge", mergeStream(versions), "update"),
      Seq("symbol"), Seq(col("updates").desc))
}
