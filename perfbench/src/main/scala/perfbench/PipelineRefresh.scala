package perfbench

import org.apache.spark.sql.functions.col

import graft.marketpulse.{Fetch, Pipeline}
import graft.quality.DataQuality

/**
 * `pipeline_refresh`: back-to-back daily cycles of the paper's DAG over
 * a landed store, closed loop, one client. A cycle is
 * `Pipeline.referenceDag` → `Pipeline.materialize` →
 * `DataQuality.referenceSuite`; its fetcher serves compact refetches
 * that restate the newest landed day and add one, for every symbol,
 * plus one provider error document.
 */
object PipelineRefresh {
  /** 30 symbols × 1,500 daily bars (~6 years): 45k landed bars. A cycle
    * is mostly per-job cost at this size (38 jobs); 100 symbols × 6,000
    * bars took ~33 s a cycle on 4 cores, too long for a run. */
  val Symbols: Seq[String] =
    Seq("AAPL", "MSFT", "GOOGL", "AMZN", "META", "NVDA", "TSLA", "BRK.B", "JPM", "V") ++
      (1 to 20).map(i => f"T$i%03d")
  val LandedDays = 1500
  /** Landings timed for `setup_s` (the last store is kept). */
  val Landings = 3

  /** The benchmark's own fetcher: serves the stub's documents and counts
    * what crosses the provider boundary. */
  final class CountingFetcher(docs: Map[String, String], trace: Trace) extends Fetch.DocumentFetcher {
    private val stub = new Fetch.StubFetcher(docs)
    var served, skipped = 0
    var bytes, nanos = 0L
    override def fetch(providerSymbol: String): Option[String] = trace.span("Fetch") {
      val t0 = System.nanoTime()
      val doc = stub.fetch(providerSymbol)
      nanos += System.nanoTime() - t0
      doc.foreach { d => served += 1; bytes += d.length }
      if (!doc.exists(_.contains(graft.marketpulse.Schemas.SeriesKey))) skipped += 1
      doc
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val docs = new MarketDocs(r.seed, Symbols, LandedDays)
    val requested = Symbols :+ docs.errorSymbol
    r.info("symbols") = Symbols.size.toString
    r.info("error_symbol") = docs.errorSymbol

    // set-up lands the store: the DAG's first run against an empty
    // store, on full histories
    var store = ""
    (1 to Landings).foreach { k =>
      if (store.nonEmpty) deleteTree(new java.io.File(store))
      store = s"${r.runDir}/store$k"
      val (landed, s) = r.timed(
        Pipeline.referenceDag(spark, Symbols, new Fetch.StubFetcher(docs.fullHistory), store))
      r.setup += s
      landed.raw.unpersist(blocking = true)
    }
    val storeDir = new java.io.File(store)
    val storeMb = storeFiles(storeDir).map(_.length).sum / 1e6
    r.info("store_mb") = f"$storeMb%.1f"

    val sinkFiles, sinkMb, fetchedMb, fetchS = collection.mutable.ArrayBuffer.empty[Double]
    val fetchDocs, fetchSkipped, barsOut, violations = collection.mutable.ArrayBuffer.empty[Double]
    // one refresh cycle; cycle 1 is an untimed warm-up (JIT, codegen
    // of materialize and the checks), whose samples are not recorded
    def cycle(c: Int, timed: Boolean): Unit = {
      val pass = c - 2
      val fetcher = new CountingFetcher(docs.refetch(c), r.trace)
      var run: Pipeline.Run = null
      var results: Seq[DataQuality.CheckResult] = Nil
      def stage(name: String)(body: => Unit): Unit =
        if (timed) r.timedOp(name, pass) { body; true }
        else try body catch { case e: Exception => r.fail(s"warm-up $name: $e") }
      val first = r.ops.size
      stage("referenceDag") { run = Pipeline.referenceDag(spark, requested, fetcher, store) }
      if (run != null) {
        stage("materialize")(Pipeline.materialize(run))
        stage("referenceSuite") {
          results = DataQuality.referenceSuite(run.staging, run.dim, run.fact, run.weekly)
        }
      }
      r.noteStorage()
      if (run != null) {
        run.raw.unpersist(blocking = true)
        val files = storeFiles(storeDir)
        val bars = check(r, docs, c, results)
        if (bars.isEmpty)
          (first until r.ops.size).foreach(i => r.ops(i) = r.ops(i).copy(ok = false))
        if (timed) {
          sinkFiles += files.size
          sinkMb += files.map(_.length).sum / 1e6
          fetchedMb += fetcher.bytes / 1e6
          fetchS += fetcher.nanos / 1e9
          fetchDocs += fetcher.served
          fetchSkipped += fetcher.skipped
          barsOut += bars.getOrElse(0L).toDouble
          violations += results.map(_.violations).sum.toDouble
        }
      }
    }
    cycle(1, timed = false)
    r.timedPasses(nominalSeconds = 7.0)(pass => cycle(pass + 2, timed = true))
    if (r.trace.enabled) {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      r.layers("Fetch.wall_s") = mean(fetchS.toSeq)
      r.layers("Fetch.docs") = mean(fetchDocs.toSeq)
      r.layers("Fetch.skipped") = mean(fetchSkipped.toSeq)
      r.layers("Fetch.mb") = mean(fetchedMb.toSeq)
      r.layers("DocumentMerge.bars_out") = mean(barsOut.toSeq)
      r.layers("DocumentSink.files") = mean(sinkFiles.toSeq)
      r.layers("DocumentSink.mb") = mean(sinkMb.toSeq)
      r.layers("DocumentSink.write_amp") = mean(sinkMb.toSeq) / math.max(mean(fetchedMb.toSeq), 1e-9)
      r.layers("DataQuality.violations") = mean(violations.toSeq)
    }
  }

  /** Check one cycle's outputs; the staging bar count when all hold. */
  private def check(r: Run, docs: MarketDocs, cycle: Int,
                    results: Seq[DataQuality.CheckResult]): Option[Long] = {
    val spark = r.spark
    val nSym = Symbols.size.toLong
    val bars = nSym * docs.landedDates(cycle)
    var ok = true
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) { ok = false; r.fail(s"cycle $cycle: $what = $got, expected $want") }
    val stgRows = spark.table("marketpulse_stg_alphavantage").count()
    expect("staging rows", stgRows, bars)
    expect("fact rows", spark.table("marketpulse_fact_stock_prices").count(), bars)
    expect("dim rows", spark.table("marketpulse_dim_stock").count(), nSym)
    val (day, closes) = docs.restated(cycle)
    val got = spark.table("marketpulse_stg_alphavantage")
      .filter(col("trading_date") === java.sql.Date.valueOf(day))
      .select("symbol", "close").collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
    if (got != closes) {
      ok = false
      val wrong = closes.keys.filterNot(s => got.get(s).contains(closes(s))).toSeq.sorted
      r.fail(s"cycle $cycle: restated $day close wrong for ${wrong.take(5).mkString(",")} (${wrong.size})")
    }
    val failed = results.filterNot(_.passed).map(c => s"${c.check}(${c.table}.${c.column})")
    if (failed != Seq("unique(stg_alphavantage.trading_date)")) {
      ok = false
      r.fail(s"cycle $cycle: failing quality checks ${failed.mkString(",")}")
    }
    if (ok) Some(stgRows) else None
  }

  private def storeFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".json")).toSeq

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }
}
