package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main (Bench, Verify, Plans, BenchOne,
  * BlowUp) and the test suite run on: `local[cpus]` with `cpus`
  * shuffle partitions, UTC session time zone, no UI. `cpus` is
  * `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
object LocalSpark {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Get or create the session; `conf` adds settings on top. */
  def session(conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
