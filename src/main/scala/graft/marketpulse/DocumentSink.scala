package graft.marketpulse

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
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
 * collect). Each task writes a document to a hidden
 * `.<symbol>.json.<attempt>.tmp` file and publishes it with one atomic
 * overwrite-rename, so a concurrent `Ingest.readDocuments` sees a whole
 * old or a whole new document, never a missing or torn one, and a
 * retried or speculative attempt never publishes another attempt's
 * half-written file.
 *
 * Each partition picks its publisher once, from the store root's
 * scheme:
 *  - `file`: `java.nio.file` writes the temp file, sets the mode Hadoop
 *    would give it (0666 under `fs.permissions.umask-mode`) and
 *    publishes with `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`, one
 *    `rename(2)`. Without `libhadoop`, Hadoop's local filesystem starts
 *    a child process for every create (`chmod`) and for every
 *    overwrite-rename (`readlink`): 150 process starts for each landing
 *    or refresh of 30 documents, most of the sink's time.
 *  - any other scheme (`hdfs://`, object-store connectors): the Hadoop
 *    `FileSystem.create` plus `FileContext.rename(OVERWRITE)`. The
 *    generic `FileSystem.rename` does not replace an existing file on
 *    HDFS, so the overwrite goes through `FileContext`.
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
        val out = publisher(root, confThunk(), attempt)
        try rows.foreach(r => out.publish(r.getString(0), r.getString(1).getBytes(UTF_8)))
        finally out.close()
      }
    }
  }

  /** The (symbol, pretty-printed document) projection the sink lands. */
  private[marketpulse] def documents(raw: DataFrame): DataFrame =
    raw.select(col("symbol"), to_json(col("data"), Map("pretty" -> "true")).as("doc"))

  /** One partition's writer: lands `doc` as `<root>/<symbol>.json`
    * through the attempt's temp file and one atomic overwrite-rename. */
  private[marketpulse] trait Publisher extends AutoCloseable {
    def publish(symbol: String, doc: Array[Byte]): Unit
    def close(): Unit = ()
  }

  /** The publisher for `root`'s scheme (a scheme-less root takes the
    * default filesystem's). */
  private[marketpulse] def publisher(root: String, conf: Configuration, attempt: Long): Publisher = {
    val uri = new Path(root).toUri
    val scheme = Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new NioPublisher(uri.getPath, conf, attempt)
    else new HadoopPublisher(root, conf, attempt)
  }

  private[marketpulse] final class NioPublisher(root: String, conf: Configuration, attempt: Long)
      extends Publisher {
    private val dir = Files.createDirectories(Paths.get(root))
    private val mode = PosixFilePermissions.fromString(
      FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)).toString)

    def publish(symbol: String, doc: Array[Byte]): Unit = {
      val tmp = Files.write(dir.resolve(s".$symbol.json.$attempt.tmp"), doc)
      Files.setPosixFilePermissions(tmp, mode)
      Files.move(tmp, dir.resolve(s"$symbol.json"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private[marketpulse] final class HadoopPublisher(root: String, conf: Configuration, attempt: Long)
      extends Publisher {
    private val rootPath = new Path(root)
    // a PRIVATE handle (newInstance, not the JVM-shared cache):
    // setWriteChecksum on the cached instance would disable .crc
    // sidecars for every other writer in this executor
    private val fs = FileSystem.newInstance(rootPath.toUri, conf)
    fs.setWriteChecksum(false) // no .crc sidecars next to the documents
    fs.mkdirs(rootPath)
    private val fc = FileContext.getFileContext(rootPath.toUri, conf)

    def publish(symbol: String, doc: Array[Byte]): Unit = {
      val tmp = new Path(rootPath, s".$symbol.json.$attempt.tmp")
      val out = fs.create(tmp, true)
      try out.write(doc) finally out.close()
      fc.rename(tmp, new Path(rootPath, s"$symbol.json"), Options.Rename.OVERWRITE)
    }

    override def close(): Unit = fs.close()
  }
}
