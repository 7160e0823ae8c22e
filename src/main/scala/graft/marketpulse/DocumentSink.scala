package graft.marketpulse

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * JSON document write-back (S5's second half): the reference
 * pretty-prints each symbol's merged document back to object storage
 * as `alphavantage/{symbol}.json` (`dags/get_stock.py:86,99-104`),
 * making the landed store itself the durable merge state.
 *
 * One row = one document = one file is the contract, so the sink runs
 * `foreachPartition` over the (symbol, pretty-json) projection: the
 * work distributes with the partitioning (no driver-side loop, no
 * collect). Each task writes a document with `FileSystem.create` to a
 * hidden `.<symbol>.json.<attempt>.tmp` file and publishes it with one
 * atomic `FileContext.rename(OVERWRITE)` (the generic
 * `FileSystem.rename` does not replace an existing file on HDFS), so a
 * concurrent `Ingest.readDocuments` sees a whole old or a whole new
 * document, never a missing or torn one, and a retried or speculative
 * attempt never publishes another attempt's half-written file. The
 * same code addresses an object store through its Hadoop connector; on
 * `file://` it runs on [[graft.util.NioLocalFileSystem]], which starts
 * no child process and overwrites with one `rename(2)`.
 */
object DocumentSink {

  /** Write each rawTable-shaped row as `<root>/<symbol>.json`
    * (pretty-printed, one object per file — the exact shape
    * [[Ingest.readDocuments]] consumes). */
  def writeDocuments(raw: DataFrame, root: String): Unit = {
    // ship the session's Hadoop conf (filesystem credentials, object
    // store endpoints, umask) to the executors — a bare Configuration()
    // would silently drop them outside local mode
    val confThunk = org.apache.spark.util.GraftConfBridge.broadcastConf(
      raw.sparkSession.sparkContext,
      raw.sparkSession.sessionState.newHadoopConf())
    documents(raw).foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        publish(root, confThunk(), attempt,
          rows.map(r => r.getString(0) -> r.getString(1).getBytes(UTF_8)))
      }
    }
  }

  /** The (symbol, pretty-printed document) projection the sink lands. */
  private[marketpulse] def documents(raw: DataFrame): DataFrame =
    raw.select(col("symbol"), to_json(col("data"), Map("pretty" -> "true")).as("doc"))

  /** One partition's landing: each (symbol, document) as
    * `<root>/<symbol>.json` through the attempt's temp file and one
    * atomic overwrite-rename. */
  private[marketpulse] def publish(root: String, conf: Configuration, attempt: Long,
                                   docs: Iterator[(String, Array[Byte])]): Unit = {
    val rootPath = new Path(root)
    // a PRIVATE handle (newInstance, not the JVM-shared cache):
    // setWriteChecksum on the cached instance would disable .crc
    // sidecars for every other writer in this executor
    val fs = FileSystem.newInstance(rootPath.toUri, conf)
    try {
      fs.setWriteChecksum(false) // no .crc sidecars next to the documents
      fs.mkdirs(rootPath)
      val fc = FileContext.getFileContext(rootPath.toUri, conf)
      docs.foreach { case (symbol, doc) =>
        val tmp = new Path(rootPath, s".$symbol.json.$attempt.tmp")
        val out = fs.create(tmp, true)
        try out.write(doc) finally out.close()
        fc.rename(tmp, new Path(rootPath, s"$symbol.json"), Options.Rename.OVERWRITE)
      }
    } finally fs.close()
  }
}
