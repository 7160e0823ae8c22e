package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a refresh cycle, or one query of a pass. */
final case class Op(name: String, pass: Int, seconds: Double, ok: Boolean)

/**
 * State of one benchmark run: one workload, one seed, one JVM. The
 * workload fills in set-up times, operations and (traced) per-layer
 * metrics; [[Main]] writes them out for run.py to aggregate.
 */
final class Run(val spark: SparkSession, val trace: Trace, val seed: Long,
                val seconds: Double, val runDir: String, val fixtures: String,
                val expectedFile: String) {
  val setup = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, String]
  var storageMbLeft = 0.0
  /** Streaming progress counted before the timed passes (traced runs). */
  var streamingBefore = (0L, 0L)
  val cachesMb = mutable.ArrayBuffer.empty[Double]

  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] FAIL $msg") }

  /** Spark storage memory held by cached blocks, in MB. */
  def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def cachedRdds(): Int = spark.sparkContext.getPersistentRDDs.size

  /** Note storage still held as an operation returns. */
  def noteStorage(): Double = {
    val mb = storageMb()
    storageMbLeft = math.max(storageMbLeft, mb)
    mb
  }

  /** Run the timed passes: as many passes of about `nominalSeconds` as
    * fit into `seconds`, at least one. The count is fixed rather than a
    * deadline because each pass runs faster than the one before while
    * the JIT warms up; under a deadline a faster commit would take its
    * median over later, warmer passes. */
  def timedPasses(nominalSeconds: Double)(onePass: Int => Unit): Unit = {
    val n = math.max(1, math.round(seconds / nominalSeconds).toInt)
    if (trace.enabled) streamingBefore = trace.streaming
    (0 until n).foreach(pass => trace.span("pass")(onePass(pass)))
  }

  /** Run `body` as one timed operation; an exception counts as failed. */
  def timedOp(name: String, pass: Int)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try trace.span(s"op:$name")(body)
      catch { case e: Exception => fail(s"$name pass $pass: $e"); false }
    ops += Op(name, pass, (System.nanoTime() - t0) / 1e9, ok)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  val workloads: Map[String, Run => Unit] = Map(
    "pipeline_refresh" -> PipelineRefresh.run,
    "headline_warm" -> QueryWorkloads.headlineWarm)

  /** The session every run uses: all cores, one shuffle partition per
    * core, AQE on, and every Spark-owned directory under `runDir`. */
  def session(runDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val runDir = opts("run-dir")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(runDir)
    val trace = new Trace(spark, opts("trace") == "1")
    val run = new Run(spark, trace, opts("seed").toLong, opts("seconds").toDouble,
      runDir, opts("fixtures"), opts("expected"))
    try workloads(workload)(run)
    catch { case e: Throwable => run.fail(s"$workload aborted: $e"); e.printStackTrace() }
    trace.finish()
    if (trace.enabled) {
      Layers.fill(run)
      java.nio.file.Files.write(java.nio.file.Paths.get(opts("spans")),
        trace.toJson(s"$workload-${run.seed}").getBytes("UTF-8"))
    }
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
    spark.stop()
    val out =
      s"""{"workload":${Json.str(workload)},"seed":${run.seed},"cpus":$cpus,""" +
        s""""setup_s":[${run.setup.mkString(",")}],""" +
        s""""ops":[${run.ops.map(o => s"""{"name":${Json.str(o.name)},"pass":${o.pass},"seconds":${o.seconds},"ok":${o.ok}}""").mkString(",")}],""" +
        s""""failures":[${run.failures.map(Json.str).mkString(",")}],""" +
        s""""storage_mb_left":${run.storageMbLeft},"peak_rss_mb":$peakRssMb,""" +
        s""""info":{${run.info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}},""" +
        s""""layers":{${run.layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")), out.getBytes("UTF-8"))
  }
}
