package graft.marketpulse

import java.sql.Date
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ProcessStarts, SparkSpec}

class MarketPulseSpec extends AnyFunSuite with SparkSpec {

  private def ingest(docs: String*): DataFrame =
    Ingest.parseDocuments(spark, docs)

  private def run(docs: String*): Pipeline.Run =
    Pipeline.fromRaw(ingest(docs: _*))

  test("ingest extracts canonical symbol from document metadata") {
    val raw = ingest(Fixtures.aapl, Fixtures.brkB)
    val symbols = raw.select("symbol").collect().map(_.getString(0)).sorted
    assert(symbols.toSeq == Seq("AAPL", "BRK.B")) // provider BRK-B → canonical
  }

  test("staging flattens the series map: one row per (symbol, date), typed") {
    val stg = run(Fixtures.aapl, Fixtures.v).staging
    assert(stg.count() == 12) // 10 AAPL + 2 V
    val row = stg.filter(col("symbol") === "AAPL" && col("trading_date") === "2025-09-29")
      .collect().head
    assert(row.getAs[Double]("open") == 100.0)
    assert(row.getAs[Double]("close") == 101.0)
    assert(row.getAs[Long]("volume") == 1000L)
    assert(row.getAs[Date]("trading_date") == Date.valueOf("2025-09-29"))
  }

  test("staging: empty series yields zero rows (inner flatten)") {
    val stg = run(Fixtures.emptySeries).staging
    assert(stg.count() == 0)
  }

  test("dim quirks: mapped symbols resolve; V falls to Unknown/Other") {
    val dim = run(Fixtures.aapl, Fixtures.v, Fixtures.brkB).dim
    val byName = dim.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byName("AAPL") == ("Apple Inc.", "Technology"))
    assert(byName("BRK.B") == ("Berkshire Hathaway Inc.", "Financials"))
    assert(byName("V") == ("Unknown Company", "Other")) // quirk §2.13.1
    assert(!byName.contains("NFLX")) // dead branch: mapped but never fetched
  }

  test("fact: derived metrics rounded to 2dp; zero open → NULL percent_change") {
    val fact = run(Fixtures.aapl, Fixtures.zeroOpen).fact
    val aapl = fact.filter(col("symbol") === "AAPL" && col("trading_date") === "2025-09-29")
      .collect().head
    assert(aapl.getAs[Double]("daily_change") == 1.0)
    assert(aapl.getAs[Double]("percent_change") == 1.0) // (101-100)/100*100
    val zero = fact.filter(col("symbol") === "ZERO").collect().head
    assert(zero.getAs[Double]("daily_change") == 0.5)
    assert(zero.isNullAt(zero.fieldIndex("percent_change"))) // NULLIF guard
  }

  test("weekly aggregate: Monday-truncated weeks, NULL-skipping AVG") {
    val weekly = run(Fixtures.aapl).weekly
    val rows = weekly.collect().map(r =>
      r.getAs[Date]("week_start").toString -> r.getAs[Double]("avg_close")).toMap
    assert(rows.keySet == Set("2025-09-29", "2025-10-06")) // both Mondays
    assert(rows("2025-09-29") == 103.0) // avg(101..105)
    assert(rows("2025-10-06") == 108.0) // avg(106..110)
  }

  test("quirk §2.13.5: percent_change is rounded to 2dp BEFORE weekly averaging") {
    // one week, two days: raw pcts 1/3% and 2/3% round to 0.33/0.67 →
    // avg 0.5 exactly; avg-then-round of the raw ratios would give
    // 0.5000000000000001-ish — the quantized average is the contract
    val doc = Fixtures.doc("AAPL", "2025-10-07", Seq(
      "2025-10-06" -> Fixtures.bar("300.0", "302.0", "299.0", "301.0", "100"),
      "2025-10-07" -> Fixtures.bar("300.0", "303.0", "299.0", "302.0", "100")))
    val weekly = run(doc).weekly.collect().head
    val fact = run(doc).fact.orderBy("trading_date").collect()
    assert(fact(0).getAs[Double]("percent_change") == 0.33)
    assert(fact(1).getAs[Double]("percent_change") == 0.67)
    assert(weekly.getAs[Double]("avg_percent_change") == 0.5)
  }

  test("U2 merge: last writer wins per date; union of dates; meta clobber") {
    // order versions by explicit load_date (old first)
    val old = ingest(Fixtures.overlapOld).withColumn("load_date",
      to_timestamp(lit("2025-10-02 00:00:00")))
    val nw = ingest(Fixtures.overlapNew).withColumn("load_date",
      to_timestamp(lit("2025-10-03 00:00:00")))
    val merged = DocumentMerge.mergeIncremental(old.unionByName(nw))
    assert(merged.count() == 1)
    val stg = Staging.stgAlphavantage(merged).orderBy("trading_date").collect()
    assert(stg.map(_.getAs[Date]("trading_date").toString).toSeq ==
      Seq("2025-10-01", "2025-10-02", "2025-10-03"))
    // 10-01 from old, 10-02 restated by new, 10-03 from new
    assert(stg(0).getAs[Double]("open") == 10.0)
    assert(stg(1).getAs[Double]("open") == 99.0) // new value won
    assert(stg(2).getAs[Double]("open") == 11.0)
    // meta clobber: newest refresh date survives
    val meta = merged.select(col("data").getField(Schemas.MetaKey)).collect().head
      .getMap[String, String](0)
    assert(meta("3. Last Refreshed") == "2025-10-03")
  }

  test("U2 merge is idempotent: re-merging the merged doc is a no-op") {
    val old = ingest(Fixtures.overlapOld).withColumn("load_date",
      to_timestamp(lit("2025-10-02 00:00:00")))
    val nw = ingest(Fixtures.overlapNew).withColumn("load_date",
      to_timestamp(lit("2025-10-03 00:00:00")))
    val once = DocumentMerge.mergeIncremental(old.unionByName(nw))
    val twice = DocumentMerge.mergeIncremental(once.unionByName(nw))
    val a = Staging.stgAlphavantage(once).orderBy("trading_date").collect().toSeq
    val b = Staging.stgAlphavantage(twice).orderBy("trading_date").collect().toSeq
    assert(a == b)
  }

  test("U1 upsert: newest document replaces wholesale; unmatched rows survive") {
    val existing = ingest(Fixtures.aapl, Fixtures.overlapOld).withColumn("load_date",
      to_timestamp(lit("2025-10-02 00:00:00")))
    val incoming = ingest(Fixtures.overlapNew).withColumn("load_date",
      to_timestamp(lit("2025-10-03 00:00:00")))
    val upserted = DocumentMerge.upsertDocuments(existing, incoming)
    assert(upserted.count() == 2) // AAPL kept, GOOGL replaced
    val googl = Staging.stgAlphavantage(upserted.filter(col("symbol") === "GOOGL"))
    // whole-document replace: old-only date 10-01 is GONE (unlike U2)
    assert(googl.select("trading_date").collect().map(_.get(0).toString).sorted.toSeq ==
      Seq("2025-10-02", "2025-10-03"))
  }

  test("reference data-quality suite passes (except the known-unsound check)") {
    val r = run(Fixtures.aapl, Fixtures.v, Fixtures.brkB)
    val results = r.qualityReport
    val unsound = results.filter(c => c.check == "unique" && c.column == "trading_date")
    assert(unsound.head.violations > 0) // quirk §2.13.2: fails at >1 symbol, by design
    val rest = results.filterNot(c => c.check == "unique" && c.column == "trading_date")
    assert(rest.forall(_.passed), rest.filterNot(_.passed).mkString(", "))
  }

  test("materialize: four tables equal the Run, jobs keep the caller's group, a failure names its table") {
    val sc = spark.sparkContext
    val prefix = "mp_materialize_spec"
    val tables = Seq("stg_alphavantage", "dim_stock", "fact_stock_prices", "agg_weekly_prices")
      .map(t => s"${prefix}_$t")
    // (event, job id, job group) in listener order; the bus delivers
    // one queue's events in posting order, so once a sentinel job's
    // start is seen, every earlier job start and end has been too
    val events = new ConcurrentLinkedQueue[(String, Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(("start", e.jobId,
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(("end", e.jobId, ""))
    }
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, group)
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!events.asScala.exists(_._3 == group) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(events.asScala.exists(_._3 == group), s"sentinel $group never seen")
    }
    /** Jobs seen between two sentinels: every one carries `group` and
      * ended before the closing sentinel started. */
    def assertJobsBetween(open: String, close: String, group: String): Unit = {
      val all = events.asScala.toSeq
      val openJob = all.find(_._3 == open).get._2
      val seen = all.dropWhile(_._3 != open).drop(1).takeWhile(_._3 != close)
      val started = seen.filter(_._1 == "start")
      assert(started.nonEmpty && started.forall(_._3 == group), started)
      assert(started.map(_._2).toSet == seen.filter(_._1 == "end").map(_._2).toSet - openJob,
        s"a job outlived the call: $seen")
    }
    /** The status store follows the listener bus; give it the same
      * bound the sentinel gets. */
    def assertNoActiveJobs(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-materialize")),
        "a materialize thread outlived the call")
    }

    val r = run(Fixtures.aapl, Fixtures.v, Fixtures.brkB)
    sc.addSparkListener(listener)
    try {
      sentinel("mp-open")
      sc.setJobGroup("mp-materialize", "materialize spec")
      try Pipeline.materialize(r, prefix) finally sc.clearJobGroup()
      assertNoActiveJobs()
      sentinel("mp-close")
      assertJobsBetween("mp-open", "mp-close", "mp-materialize")
      tables.zip(Seq(r.staging, r.dim, r.fact, r.weekly)).foreach { case (t, model) =>
        val written = spark.table(t)
        assert(written.exceptAll(model).isEmpty && model.exceptAll(written).isEmpty, t)
      }

      // a model whose evaluation throws fails the whole call, by name
      val broken = r.copy(dim = r.dim.withColumn("boom", raise_error(lit("planted failure"))))
      sentinel("mp-open2")
      sc.setJobGroup("mp-broken", "materialize spec, failing model")
      val e = try intercept[RuntimeException](Pipeline.materialize(broken, prefix))
        finally sc.clearJobGroup()
      assert(e.getMessage.contains(s"${prefix}_dim_stock"), e.getMessage)
      assert(e.getMessage.contains("planted failure"), e.getMessage)
      assertNoActiveJobs()
      sentinel("mp-close2")
      assertJobsBetween("mp-open2", "mp-close2", "mp-broken")
    } finally {
      sc.removeSparkListener(listener)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      // the failing write leaves its table's directory behind with no
      // catalog entry, so DROP TABLE does not remove it
      tables.foreach(t => graft.util.Scratch.delete(
        new java.io.File(spark.sessionState.catalog.defaultTablePath(TableIdentifier(t)))))
    }
  }

  test("materialize of a landed run starts no process through Hadoop's filesystem") {
    val prefix = "mp_materialize_forks"
    graft.util.Scratch.withDir("graft-mp-forks-") { dir =>
      val r = Pipeline.referenceDag(spark, Seq("AAPL", "V"),
        new Fetch.StubFetcher(Map("AAPL" -> Fixtures.aapl, "V" -> Fixtures.v)), s"$dir/alphavantage")
      try {
        // the warm-up write makes the recorded one an overwrite, as in a
        // refresh cycle
        val forks = ProcessStarts.through(ProcessStarts.HadoopFs)(Pipeline.materialize(r, prefix))
        assert(forks.isEmpty, s"${forks.size} process starts by materialize: $forks")
      } finally {
        r.raw.unpersist()
        Seq("stg_alphavantage", "dim_stock", "fact_stock_prices", "agg_weekly_prices")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
      }
    }
  }
}
