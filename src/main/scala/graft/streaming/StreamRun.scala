package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/**
 * The one drain behind every memory-sink streaming query, and the one
 * feed replay behind the queries that stream a frame they wrote. A query
 * module declares the stream and the batch view over its result; this
 * helper runs the stream to completion and hands back an immutable
 * snapshot of what the sink received.
 *
 * Why an eager `localCheckpoint`: the memory sink's table is mutable
 * and lives only while its temp view does, so the rows are copied out
 * before the view is dropped. The copy is a `LogicalRDD`, which Spark
 * can re-instantiate, so the shared batch views may self-join or
 * re-read it (ks, tvd, retention, skyline and the other report views
 * join frames derived from their own counts). A MemorySink-backed
 * view's leaf cannot be cloned for that attribute dedup. A cached
 * copy would stay registered in the cache manager, out of
 * `PlanCache.releaseAll`'s reach, and it takes more jobs per drain.
 */
object StreamRun {

  /** Run `frame` as a streaming query named `name` into a memory sink
    * in `outputMode` ("append", "complete" or "update"), process all
    * available input, stop the query (also on failure) and return the
    * sink's rows as an eager local checkpoint. The sink's temp view is
    * dropped before and after, so no view outlives the drain. */
  def drain(name: String, frame: Dataset[_], outputMode: String): DataFrame = {
    val spark = frame.sparkSession
    spark.catalog.dropTempView(name)
    try {
      val q = frame.writeStream.outputMode(outputMode).format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).localCheckpoint()
    } finally spark.catalog.dropTempView(name)
  }

  /** Write `feed` under `dir` as 4 parquet files hashed on `key` and
    * stream them back one file per micro-batch, so batches arrive in
    * hash order, not in the feed's. The stream takes the feed's own
    * schema, made nullable as every parquet file source reads it, so no
    * job infers the schema of the files just written. */
  def replay(feed: DataFrame, key: String, dir: String): DataFrame = {
    feed.repartition(4, col(key)).write.mode("overwrite").parquet(dir)
    feed.sparkSession.readStream.schema(feed.schema.toNullable)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }
}
