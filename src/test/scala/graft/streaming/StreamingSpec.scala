package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.{ProcessStarts, SparkSpec}
import graft.marketpulse.{Fetch, Fixtures, Pipeline}
import graft.util.Scratch

class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly aggregation equals the batch aggregation") {
    // the fixture is one file, which the file source reads through a symlink
    val exposed = java.nio.file.Paths.get(EventStream.streamableDir(s"$sf/events.parquet"))
    assert(java.nio.file.Files.isSymbolicLink(exposed.resolve("events.parquet")))
    val streamed = EventStream.hourlyStats(spark, sf)
      .orderBy("hour_start", "event_type").collect().toSeq
    val batch = EventStream.hourlyAgg(graft.sources.Tables.events(spark, sf))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st01's drain starts no process through Hadoop's filesystem") {
    // the warm-up drain loads every class the checkpoint manager needs
    val forks = ProcessStarts.through(ProcessStarts.HadoopFs)(EventStream.hourlyStats(spark, sf).count())
    assert(forks.isEmpty, s"${forks.size} process starts by the st01 drain: $forks")
  }

  test("stream-static broadcast enrichment equals the batch join") {
    val streamed = EventStream.enrichReplay(spark, sf)
      .orderBy("category", "display_name").collect().toSeq
    val dim = graft.marketpulse.EventTicker.dim(spark, sf)
    val batch = graft.sources.Tables.events(spark, sf)
      .join(dim, Seq("event_type"), "left")
      .groupBy(col("category"), col("display_name"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Exact.sumExact(graft.ops.Exact.dec(col("value"))).as("sum_value"))
      .orderBy("category", "display_name").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("st11/st12/st13 replays equal their batch twins row-for-row") {
    def batch(name: String) =
      graft.queries.Registry.byName(name).run(spark, sf)
    val retention = EventStream.retentionReplay(spark, sf)
      .orderBy("cohort_week", "week_offset").collect().toSeq
    assert(retention.nonEmpty)
    assert(retention == batch("q35_retention")
      .orderBy("cohort_week", "week_offset").collect().toSeq)
    val hist = EventStream.histogramReplay(spark, sf)
      .orderBy("event_type", "bin").collect().toSeq
    assert(hist.nonEmpty)
    assert(hist == batch("dq09_histogram")
      .orderBy("event_type", "bin").collect().toSeq)
    val routed = EventStream.quarantineReplay(spark, sf)
      .orderBy("event_id").collect().toSeq
    assert(routed.nonEmpty)
    assert(routed == batch("dq10_quarantine")
      .orderBy("event_id").collect().toSeq)
    // the router must route, not rubber-stamp: both verdicts present
    assert(routed.exists(r => r.getAs[Boolean]("is_valid")))
    assert(routed.exists(r => !r.getAs[Boolean]("is_valid")))
    val growth = EventStream.userGrowthReplay(spark, sf)
      .orderBy("hour").collect().toSeq
    assert(growth.size > 1, "fixture must yield a real multi-point curve")
    assert(growth == batch("q39_user_growth")
      .orderBy("hour").collect().toSeq)
    val scored = EventStream.zscoreReplay(spark, sf)
      .orderBy("event_id").collect().toSeq
    assert(scored.nonEmpty)
    assert(scored == batch("dq11_zscore_outliers")
      .orderBy("event_id").collect().toSeq)
    // the fitted model must actually separate: both verdicts present
    assert(scored.exists(r => r.getAs[Boolean]("is_outlier")))
    assert(scored.exists(r => !r.getAs[Boolean]("is_outlier")))
  }

  test("watermark drops events later than the allowed delay") {
    implicit val sqlCtx = spark.sqlContext
    case class Ev(ts: Timestamp, event_type: String, value: Double)
    val ms = MemoryStream[(Timestamp, String, Double)]
    val events = ms.toDS().toDF("ts", "event_type", "value")
    val name = "graft_wm_test"
    spark.catalog.dropTempView(name)
    val q = EventStream.hourlyAggWatermarked(events, "1 hour")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // hour-0 events, then an hour-4 event pushing the watermark to 03:00
      ms.addData((t("2024-01-01 00:10:00"), "click", 1.0),
        (t("2024-01-01 00:20:00"), "click", 2.0))
      q.processAllAvailable()
      ms.addData((t("2024-01-01 04:00:00"), "click", 9.0))
      q.processAllAvailable()
      // hour-0 window is finalized (emitted); a late hour-0 event must be dropped
      ms.addData((t("2024-01-01 00:30:00"), "click", 100.0))
      q.processAllAvailable()
      // force one more batch so any (incorrect) re-emission would surface
      ms.addData((t("2024-01-01 06:00:00"), "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val hour0 = spark.table(name)
      .filter(col("hour_start") === t("2024-01-01 00:00:00")).collect()
    assert(hour0.length == 1)
    assert(hour0.head.getAs[Long]("n_events") == 2L) // late 100.0 event dropped
    assert(hour0.head.getAs[Double]("sum_value") == 3.0)
  }

  test("stream-stream interval join equals the batch join; state bounded by watermark") {
    val streamed = EventStream.intervalJoinReplay(spark, sf)
      .orderBy("purchase_id", "click_id").collect().toSeq
    val ev = graft.sources.Tables.events(spark, sf)
    val batch = EventStream.purchaseClickJoin(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value")),
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts")))
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)

    // state bound: rows older than watermark-delay + join-window must be
    // EVICTED from the join buffers once the watermark advances past them
    implicit val sqlCtx = spark.sqlContext
    val pms = MemoryStream[(Long, Long, Timestamp, Double)]
    val cms = MemoryStream[(Long, Long, Timestamp)]
    val name = "graft_ssj_state_test"
    spark.catalog.dropTempView(name)
    val q = EventStream.purchaseClickJoin(
      pms.toDS().toDF("purchase_id", "user_id", "purchase_ts", "purchase_value")
        .withWatermark("purchase_ts", "10 minutes"),
      cms.toDS().toDF("click_id", "click_user", "click_ts")
        .withWatermark("click_ts", "10 minutes"),
      window = "30 minutes")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // batch 1: early rows from many users buffer on both sides
      pms.addData((1L, 1L, t("2024-01-01 01:00:00"), 5.0))
      cms.addData((101L, 1L, t("2024-01-01 00:50:00")),
        (102L, 2L, t("2024-01-01 00:55:00")), (103L, 3L, t("2024-01-01 00:58:00")))
      q.processAllAvailable()
      val buffered = q.lastProgress.stateOperators(0).numRowsTotal
      assert(buffered >= 4) // everything still within horizon: all buffered
      // batch 2: advance BOTH watermarks hours past the early rows
      pms.addData((2L, 9L, t("2024-01-01 06:00:00"), 1.0))
      cms.addData((109L, 9L, t("2024-01-01 06:00:00")))
      q.processAllAvailable()
      // one more batch so eviction from batch 2's watermark is applied
      pms.addData((3L, 9L, t("2024-01-01 07:00:00"), 1.0))
      cms.addData((110L, 9L, t("2024-01-01 07:00:00")))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      assert(after < buffered + 4) // early rows evicted, not accreted
      // the in-horizon match was emitted exactly once
      val matches = spark.table(name).filter(col("purchase_id") === 1L).collect()
      assert(matches.length == 1 && matches.head.getAs[Long]("click_id") == 101L)
    } finally q.stop()
  }

  test("left-outer interval join: null rows emit only after watermark passage") {
    // the finalized-region replay equals the batch LEFT JOIN
    val streamed = EventStream.outerIntervalJoinReplay(spark, sf)
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed.exists(_.isNullAt(1)), "no unmatched purchases in fixture")

    // the emission-order contract: an unmatched purchase must NOT emit
    // while a qualifying click could still arrive, and MUST emit its
    // null row once the click-side watermark passes its match window
    implicit val sqlCtx = spark.sqlContext
    val pms = MemoryStream[(Long, Long, Timestamp, Double)]
    val cms = MemoryStream[(Long, Long, Timestamp)]
    val name = "graft_ssj_outer_test"
    spark.catalog.dropTempView(name)
    val q = EventStream.purchaseClickJoinOuter(
      pms.toDS().toDF("purchase_id", "user_id", "purchase_ts", "purchase_value")
        .withWatermark("purchase_ts", "10 minutes"),
      cms.toDS().toDF("click_id", "click_user", "click_ts")
        .withWatermark("click_ts", "10 minutes"),
      window = "30 minutes")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // batch 1: user 1 purchase matched by a click; user 2 purchase
      // unmatched — its null row must NOT appear yet (watermark at
      // 00:50, still inside the match window)
      pms.addData((1L, 1L, t("2024-01-01 01:00:00"), 5.0),
        (2L, 2L, t("2024-01-01 01:00:00"), 7.0))
      cms.addData((101L, 1L, t("2024-01-01 00:50:00")))
      q.processAllAvailable()
      val early = spark.table(name).collect()
      assert(early.exists(_.getAs[Long]("purchase_id") == 1L), "match not emitted")
      assert(!early.exists(r => r.getAs[Long]("purchase_id") == 2L),
        s"null row emitted before watermark passed: ${early.toSeq}")
      // batch 2 + flush batch: advance both watermarks hours past the
      // purchases — the unmatched purchase must now emit with null click
      pms.addData((3L, 9L, t("2024-01-01 06:00:00"), 1.0))
      cms.addData((109L, 9L, t("2024-01-01 06:00:00")))
      q.processAllAvailable()
      pms.addData((4L, 9L, t("2024-01-01 07:00:00"), 1.0))
      cms.addData((110L, 9L, t("2024-01-01 07:00:00")))
      q.processAllAvailable()
      val rows = spark.table(name).filter(col("purchase_id") === 2L).collect()
      assert(rows.length == 1, s"expected exactly one null row, got ${rows.toSeq}")
      assert(rows.head.isNullAt(rows.head.fieldIndex("click_id")))
      assert(rows.head.isNullAt(rows.head.fieldIndex("lag_us")))
      assert(rows.head.getAs[Double]("purchase_value") == 7.0)
    } finally q.stop()
  }

  test("streaming session windows: update-mode replay equals batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00"), 1.0),
      (1L, t("2024-01-01 00:10:00"), 2.0),  // same session (10 min gap)
      (1L, t("2024-01-01 01:00:00"), 3.0),  // new session (50 min gap)
      (2L, t("2024-01-01 00:05:00"), 4.0))
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val name = "graft_sess_test"
    spark.catalog.dropTempView(name)
    val stream = ms.toDS().toDF("user_id", "ts", "value")
    // session-window streaming aggregations support APPEND only:
    // sessions emit once the watermark passes them. A far-future
    // sentinel event advances the watermark so every real session
    // finalizes before we read the sink.
    val q = EventStream.sessionAgg(stream)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      .start()
    try {
      rows.grouped(2).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
      ms.addData((99L, t("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      ms.addData((99L, t("2024-01-02 12:00:00"), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).filter(col("user_id") < 99)
      .orderBy("user_id", "session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val batch = EventStream.sessionAgg(rows.toDF("user_id", "ts", "value"))
      .orderBy("user_id", "session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 3) // u1 two sessions + u2 one
    assert(streamed(0)._3 == 2L && streamed(0)._4 == 3.0) // merged session
  }

  test("custom-state sessionizer: batch-split-insensitive, emits on watermark passage") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // one user: a 3-event session (click-first, converts via purchase),
    // then after a >30 min gap a 1-event session — fed SPLIT ACROSS
    // BATCHES so the first session's events arrive in two pieces
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00"), 10L, "click", 1.0),
      (1L, t("2024-01-01 00:10:00"), 11L, "purchase", 2.5),
      (1L, t("2024-01-01 00:20:00"), 12L, "view", 3.0),
      (1L, t("2024-01-01 02:00:00"), 13L, "view", 4.0))
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val name = "graft_fmgws_test"
    spark.catalog.dropTempView(name)
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val stream = ms.toDS().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = EventStream.sessionizeWithState(stream)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      .start()
    try {
      // batch 1: first two events — watermark still behind, nothing emits
      ms.addData(rows.take(2)); q.processAllAvailable()
      assert(spark.table(name).count() == 0,
        "no session may emit before the watermark passes its close")
      // batch 2: rest of session 1 + the later singleton
      ms.addData(rows.drop(2)); q.processAllAvailable()
      // sentinel advances the watermark far past every close time
      ms.addData((99L, t("2024-01-03 00:00:00"), 99L, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).filter(col("user_id") < 99)
      .orderBy("session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getString(5), r.getBoolean(6)))
    // session 1 merged ACROSS the batch split: 3 events, 650 cents,
    // click-first, converted; session 2: single view, no conversion
    assert(got.toSeq == Seq(
      (1L, 3L, 650L, "click", true),
      (1L, 1L, 400L, "view", false)))
  }

  test("custom-state sessionizer: crash replay from checkpoint converges to the batch sessions") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    Scratch.withDir("graft-sess-crash-") { base =>
      val out = s"$base/out"
      val checkpoint = s"$base/chk"
      val ms = MemoryStream[(Long, Timestamp, Long, String, Double)]
      @volatile var injected = false
      // torn state: the batch that EMITS finalized sessions writes its
      // output, then dies before the offset/state commit — recovery must
      // replay it from the checkpointed state store, so the emitted rows
      // appear at-least-once and the DISTINCT session set must still
      // equal the batch semantics
      def start() = EventStream
        .sessionizeWithState(ms.toDS().toDF("user_id", "ts", "event_id", "event_type", "value"))
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.SessionOut], _: Long) =>
          val rows = batch.persist()
          rows.write.mode("append").parquet(out)
          val n = rows.count()
          rows.unpersist()
          if (n > 0 && !injected) {
            injected = true
            throw new RuntimeException("injected crash after write, before offset commit")
          }
        }.start()

      val q1 = start()
      // session A (user 1): click → purchase, two events 10 min apart
      ms.addData((1L, t("2024-01-01 00:00:00"), 10L, "click", 1.0),
        (1L, t("2024-01-01 00:10:00"), 11L, "purchase", 2.5))
      q1.processAllAvailable()
      // session B (user 1) + a sentinel that advances the watermark past
      // A's close: the batch that emits A is the one that crashes
      ms.addData((1L, t("2024-01-01 02:00:00"), 12L, "view", 4.0),
        (99L, t("2024-01-02 00:00:00"), 98L, "view", 0.0))
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      assert(q1.exception.isDefined, "expected the injected crash to kill the query")
      assert(injected)

      val q2 = start() // restart: the uncommitted emitting batch replays
      try {
        q2.processAllAvailable()
        // far-future sentinel finalizes session B after recovery
        ms.addData((99L, t("2024-01-05 00:00:00"), 99L, "view", 0.0))
        q2.processAllAvailable()
      } finally q2.stop()

      val emitted = spark.read.parquet(out).filter(col("user_id") < 99)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
          r.getString(5), r.getBoolean(6))).toSeq
      // at-least-once: the crashed batch's sessions really were written
      // twice (once before the crash, once on replay)…
      assert(emitted.size > emitted.distinct.size,
        "replayed batch should re-emit the crashed batch's sessions")
      // …but the distinct set converges to the batch-equivalent sessions
      assert(emitted.distinct.sortBy(_._3) == Seq(
        (1L, 2L, 350L, "click", true),   // session A: click→purchase
        (1L, 1L, 400L, "view", false)).sortBy(_._3))
    }
  }

  /** Every landed document's bytes, by file name. */
  private def storeBytes(store: String): Map[String, Seq[Byte]] =
    new java.io.File(store).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("continuous pipeline: streamed documents refresh the full model DAG") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("graft-pipe-") { base =>
      val store = s"$base/raw"
      val ms = MemoryStream[String]
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val q = StreamingPipeline.run(ms.toDS().toDF("json"), store, prefix = "sp_test")
      try {
        ms.addData(Fixtures.aapl)
        q.processAllAvailable()
        assert(spark.table("sp_test_stg").count() == 10)
        assert(spark.table("sp_test_dim").count() == 1)
        // second batch: another symbol arrives; whole DAG refreshes
        ms.addData(Fixtures.v)
        q.processAllAvailable()
        assert(spark.table("sp_test_stg").count() == 12)
        val dim = spark.table("sp_test_dim").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(dim.keySet == Set("AAPL", "V"))
        assert(dim("V") == "Unknown Company") // quirks survive streaming too
        assert(spark.table("sp_test_weekly").count() > 0)
        // a third batch restates a landed symbol
        ms.addData(Fixtures.aapl)
        q.processAllAvailable()
        assert(spark.table("sp_test_stg").count() == 12)
      } finally q.stop()
      // every micro-batch released the merged frame it landed
      assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    }
  }

  test("continuous pipeline: compact refetch keeps older dates (U2)") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("graft-pipe-u2-") { base =>
      val store = s"$base/stream"
      val ms = MemoryStream[String]
      val q = StreamingPipeline.run(ms.toDS().toDF("json"), store, prefix = "u2_test")
      try {
        ms.addData(Fixtures.overlapOld)
        q.processAllAvailable()
        // a compact refetch: restates 10-02, adds 10-03, omits 10-01
        ms.addData(Fixtures.overlapNew)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("u2_test_stg").orderBy("trading_date").collect().toSeq
      assert(streamed.map(_.get(1).toString) == Seq("2025-10-01", "2025-10-02", "2025-10-03"))
      assert(streamed(1).getAs[Double]("open") == 99.0) // restated by the newer batch

      // the same documents as two daily DAG cycles land the same store
      // and the same models
      val daily = s"$base/daily"
      Pipeline.referenceDag(spark, Seq("GOOGL"),
        new Fetch.StubFetcher(Map("GOOGL" -> Fixtures.overlapOld)), daily).raw.unpersist()
      val run = Pipeline.referenceDag(spark, Seq("GOOGL"),
        new Fetch.StubFetcher(Map("GOOGL" -> Fixtures.overlapNew)), daily)
      try {
        assert(streamed == run.staging.orderBy("trading_date").collect().toSeq)
        assert(spark.table("u2_test_fact").collect().toSet == run.fact.collect().toSet)
        assert(spark.table("u2_test_weekly").collect().toSet == run.weekly.collect().toSet)
      } finally run.raw.unpersist()
      assert(storeBytes(store) == storeBytes(daily))
    }
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val ms = MemoryStream[(Long, Timestamp, Double)]
    val name = "graft_dedup_test"
    spark.catalog.dropTempView(name)
    val q = EventStream.dedupWithinWatermark(
      ms.toDS().toDF("event_id", "ts", "value"))
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      .start()
    try {
      ms.addData((1L, t("2024-01-01 00:00:00"), 1.0), (2L, t("2024-01-01 00:05:00"), 2.0))
      q.processAllAvailable()
      // a later batch re-delivers id 1 (same horizon) alongside a new id
      ms.addData((1L, t("2024-01-01 00:00:00"), 1.0), (3L, t("2024-01-01 00:10:00"), 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table(name).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // each id exactly once
  }

  test("unrelated micro-batch leaves other documents byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("graft-part-") { base =>
      val store = s"$base/raw"
      val ms = MemoryStream[String]
      val q = StreamingPipeline.run(ms.toDS().toDF("json"), store, prefix = "pp_test")
      try {
        ms.addData(Fixtures.aapl, Fixtures.v)
        q.processAllAvailable()
        val before = storeBytes(store)
        assert(before.keySet == Set("AAPL.json", "V.json"))

        // an unrelated symbol arrives: only its document is new
        ms.addData(Fixtures.overlapOld)
        q.processAllAvailable()
        val after = storeBytes(store)
        assert(after.keySet == before.keySet + "GOOGL.json")
        assert(after -- Seq("GOOGL.json") == before)

        // full views see the merged store; delta views only the batch's slice
        assert(spark.table("pp_test_dim").count() == 3)
        assert(spark.table("pp_test_stg_delta").select("symbol").distinct()
          .collect().map(_.getString(0)).toSeq == Seq("GOOGL"))
        assert(spark.table("pp_test_fact_delta").count() == 2)
      } finally q.stop()
    }
  }

  test("crash recovery: uncommitted batch replays from checkpoint, upsert converges") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("graft-crash-") { base =>
      val store = s"$base/store"
      val checkpoint = s"$base/chk"
      val ms = MemoryStream[String]
      @volatile var landedOnce = Map.empty[String, Seq[Byte]]
      // the torn state a real crash leaves: the landing succeeded, the
      // checkpoint offset commit did not — recovery replays the batch
      // and lands it a second time
      def start() = StreamingPipeline.parseDocStream(ms.toDS().toDF("json")).writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          Pipeline.land(batch, store).raw.unpersist()
          if (id == 1L && landedOnce.isEmpty) {
            landedOnce = storeBytes(store)
            throw new RuntimeException("injected crash after landing, before offset commit")
          }
        }.start()

      val q1 = start()
      ms.addData(Fixtures.aapl, Fixtures.overlapOld)
      q1.processAllAvailable()
      ms.addData(Fixtures.overlapNew, Fixtures.v)
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      assert(q1.exception.isDefined, "expected the injected crash to kill the query")
      assert(landedOnce.keySet == Set("AAPL.json", "GOOGL.json", "V.json"))

      val q2 = start() // restart from the same checkpoint: batch 1 replays
      try q2.processAllAvailable() finally q2.stop()
      // landing the batch twice leaves the bytes of landing it once
      assert(storeBytes(store) == landedOnce)
    }
  }

  test("streaming incremental dedup probe: multi-batch arrival equals the batch probe") {
    import graft.streaming.DocumentProbeStream
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    // two files → with maxFilesPerTrigger=1, two real micro-batches;
    // the accumulated matches must equal the one-shot batch probe
    Scratch.withDir("graft-probe-spec-") { dir =>
      delta.filter(col("doc_id") < 250).coalesce(1)
        .write.parquet(s"$dir/part1")
      delta.filter(col("doc_id") >= 250).coalesce(1)
        .write.parquet(s"$dir/part2")
      Seq("part1", "part2").foreach { p =>
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
          .filter(f => f.toString.endsWith(".parquet"))
          .forEach(f => java.nio.file.Files.move(f,
            java.nio.file.Paths.get(s"$dir/$p.parquet")))
      }
      val stream = spark.readStream.schema(DocumentProbeStream.docSchema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val streamed = DocumentProbeStream.probeWithStream(stream, corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val batch = graft.dedup.Dedup
        .incrementalNearDups(corpus, delta, "doc_id", "text", minJaccard = 0.7)
        .select("delta_id", "corpus_id", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
    }
  }

  test("streaming CDC: mutated duplicate (key,seq) split across batches resolves as batch, either order") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Relational
    // at-least-once CDC redelivers seq=1 for key a with a MUTATED
    // payload; the stream state merge must make the same total
    // (seq, op, payload) pick as the batch operator no matter which
    // micro-batch each copy lands in
    val base = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val lo = ("a", "U", 1L, 10)
    val hi = ("a", "U", 1L, 99)
    val full = Seq(lo, hi).toDF("k", "op", "seq", "v")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
    val want = tuples(Relational.applyChangeFeed(base, full, "k"))
    assert(want == Seq(("a", 99), ("b", 2))) // content decides, not arrival
    Seq(Seq(lo, hi), Seq(hi, lo)).foreach { order =>
      Scratch.withDir("graft-cdc-dup-") { tmp =>
        val ms = MemoryStream[(String, String, Long, Int)]
        val q = ChangeFeedStream.runCdcStream(
          ms.toDS().toDF("k", "op", "seq", "v"), "k", s"$tmp/state", s"$tmp/chk")
        try {
          ms.addData(order(0)); q.processAllAvailable()
          ms.addData(order(1)); q.processAllAvailable()
        } finally q.stop()
        val got = tuples(ChangeFeedStream.applyState(
          spark, base, s"$tmp/state", "k", full.schema))
        assert(got == want, s"arrival order $order diverged from batch: $got")
      }
    }
  }

  test("streaming CDC: crash between sink write and offset commit replays to the batch result") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Relational
    val base = Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v")
    val batch1 = Seq(("a", "U", 1L, 10), ("c", "D", 1L, 0))
    val batch2 = Seq(("e", "I", 1L, 50), ("a", "U", 2L, 77))
    val batch3 = Seq(("b", "D", 3L, 0))
    val allChanges = (batch1 ++ batch2 ++ batch3).toDF("k", "op", "seq", "v")
    Scratch.withDir("graft-cdc-crash-") { tmp =>
      val ms = MemoryStream[(String, String, Long, Int)]
      @volatile var injected = false
      // the torn state a real crash leaves: the generation write
      // succeeded, the offset/state-store commit did not — recovery must
      // replay the batch, and the generation sink must be idempotent
      // under the replay (gen-<id> recomputed from the same predecessor)
      def start() = ChangeFeedStream.runCdcStream(
        ms.toDS().toDF("k", "op", "seq", "v"), "k", s"$tmp/state", s"$tmp/chk",
        onBatch = id => if (id >= 1 && !injected) {
          injected = true
          throw new RuntimeException("injected crash after write, before commit")
        })
      val q1 = start()
      ms.addData(batch1)
      q1.processAllAvailable()
      ms.addData(batch2)
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      assert(q1.exception.isDefined, "expected the injected crash to kill the query")
      assert(injected)

      val q2 = start() // restart: the uncommitted batch replays from checkpoint
      try {
        q2.processAllAvailable()
        ms.addData(batch3) // post-recovery arrivals flow normally
        q2.processAllAvailable()
      } finally q2.stop()

      def tuples(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
      val got = tuples(ChangeFeedStream.applyState(
        spark, base, s"$tmp/state", "k", allChanges.schema))
      assert(got == tuples(Relational.applyChangeFeed(base, allChanges, "k")))
      assert(got == Seq(("a", 77), ("d", 4), ("e", 50)))
    }
  }

  test("streaming CDC: an empty feed yields the untouched base, no NPE") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(("a", 1)).toDF("k", "v")
    Scratch.withDir("graft-cdc-empty-") { tmp =>
      val ms = MemoryStream[(String, String, Long, Int)]
      val feed = ms.toDS().toDF("k", "op", "seq", "v")
      val q = ChangeFeedStream.runCdcStream(feed, "k", s"$tmp/state", s"$tmp/chk")
      try q.processAllAvailable() finally q.stop()
      val got = ChangeFeedStream.applyState(spark, base, s"$tmp/state", "k", feed.schema)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(got == Seq(("a", 1)))
    }
  }

  test("st33 quantile-sketch state: adversarial batch splits drain to the batch signature") {
    import QuantileSketchStream.{QsRow, sketchStream, signatureRows}
    implicit val sqlCtx = spark.sqlContext
    // two shards, 600 rows — far past K, split unevenly across three
    // batches with the shards interleaved; min-union associativity
    // says the drained state must equal the batch bottom-K exactly
    def h(k: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"qs:$k".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 13), 16)
    }
    val rows = (1L to 600L).map(k =>
      QsRow(if (k % 2 == 0) "2024-01" else "2024-02", k, h(k), k * 1.5))
    val ms = MemoryStream[QsRow]
    val name = "graft_test_qsketch"
    spark.catalog.dropTempView(name)
    val q = sketchStream(ms.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Update).format("memory")
      .queryName(name).start()
    try {
      ms.addData(rows.take(500)); q.processAllAvailable()
      ms.addData(rows.slice(500, 501)); q.processAllAvailable() // 1-row batch
      ms.addData(rows.drop(501)); q.processAllAvailable()
    } finally q.stop()
    val drained = graft.ops.Relational.dedupeKeepFirst(
      spark.table(name), Seq("shard"), Seq(col("updates").desc))
    val got = signatureRows(drained)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = rows.groupBy(_.shard).toSeq.flatMap { case (s, rs) =>
      rs.sortBy(r => (r.h, r.k)).take(graft.quality.Qs.K).map(r => (s, r.k))
    }.toSet
    assert(got == want, "drained stream state drifted from the batch bottom-K")
    // and the state is K-bounded: each shard kept exactly K of its 300
    assert(got.count(_._1 == "2024-01") == graft.quality.Qs.K)
  }

  test("st33 crash replay: bottom-K state survives a torn batch, drains to the batch signature") {
    import QuantileSketchStream.{QsRow, sketchStream, signatureRows}
    implicit val sqlCtx = spark.sqlContext
    def h(k: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"qs:$k".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 13), 16)
    }
    Scratch.withDir("graft-qs-crash-") { base =>
      val out = s"$base/out"
      val chk = s"$base/chk"
      val ms = MemoryStream[QsRow]
      @volatile var injected = false
      // torn state: the batch that folds the first 400 rows writes its
      // signatures, then dies before the offset/state commit — recovery
      // must replay it against the CHECKPOINTED (empty) pre-batch state,
      // re-emitting identical signatures, and the post-restart fold must
      // build on state recovered from the store, not recomputed ad hoc
      def start() = sketchStream(ms.toDS()).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.persist()
          rows.write.mode("append").parquet(out)
          val n = rows.count()
          rows.unpersist()
          if (n > 0 && !injected) {
            injected = true
            throw new RuntimeException(
              "injected crash after write, before offset commit")
          }
        }.start()
      val rows = (1L to 600L).map(k =>
        QsRow(if (k % 2 == 0) "s1" else "s2", k, h(k), k * 0.5))
      val q1 = start()
      ms.addData(rows.take(400))
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      assert(q1.exception.isDefined, "expected the injected crash to kill the query")
      assert(injected)
      val q2 = start() // restart: the uncommitted folding batch replays
      try {
        ms.addData(rows.drop(400))
        q2.processAllAvailable()
      } finally q2.stop()
      // at-least-once sink: the torn batch's rows appear twice, but the
      // replayed emission is IDENTICAL (same pre-batch state), so
      // latest-updates-wins recovers the exact final signature
      val drained = graft.ops.Relational.dedupeKeepFirst(
        spark.read.parquet(out), Seq("shard"), Seq(col("updates").desc))
      val got = signatureRows(drained)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val want = rows.groupBy(_.shard).toSeq.flatMap { case (s, rs) =>
        rs.sortBy(r => (r.h, r.k)).take(graft.quality.Qs.K).map(r => (s, r.k))
      }.toSet
      assert(got == want,
        "recovered stream state drifted from the batch bottom-K")
    }
  }

  test("st09 media-hash stream accumulates across real micro-batches") {
    import graft.multimodal.Multimodal
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    // two files → with maxFilesPerTrigger=1, two genuine micro-batches;
    // the stateless decode must accumulate to the one-shot batch result
    Scratch.withDir("graft-media-spec-") { dir =>
      docs.filter(col("doc_id") < 25).coalesce(1).write.parquet(s"$dir/part1")
      docs.filter(col("doc_id") >= 25).coalesce(1).write.parquet(s"$dir/part2")
      Seq("part1", "part2").foreach { p =>
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
          .filter(f => f.toString.endsWith(".parquet"))
          .forEach(f => java.nio.file.Files.move(f,
            java.nio.file.Paths.get(s"$dir/$p.parquet")))
      }
      val name = "graft_spec_media_stream"
      spark.catalog.dropTempView(name)
      val stream = spark.readStream.schema(DocumentProbeStream.docSchema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val q = Multimodal.imageHashes(
          Multimodal.mediaWithRealImages(stream).filter(col("kind") === "image"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected at least two non-empty micro-batches")
      def tuples(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val streamed = tuples(spark.table(name))
      val batch = tuples(Multimodal.imageHashes(
        Multimodal.mediaWithRealImages(docs).filter(col("kind") === "image")))
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    }
  }

  test("audited publish: a poisoned micro-batch pins the pointer and the stream survives") {
    Scratch.withDir("graft-st24spec-") { base =>
      def t(s: String) = Timestamp.valueOf(s)
      new java.io.File(s"$base/feed").mkdirs()
      // the file stream lists the feed dir FLAT — stage each batch and
      // move its single part file in as feed/<name>.parquet
      def write(name: String, rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit = {
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage-$name")
        val part = new java.io.File(s"$base/stage-$name").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$base/feed/$name.parquet"))
        ()
      }
      // batch 1: clean; batch 2: a NULL ts row poisons the (type, day)
      // state with a NULL day key — key_not_null must refuse from then on
      write("f1", Seq((1L, t("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
        (2L, t("2024-01-01 11:00:00"), 2L, "view", 1.0, "{}")))
      val q0 = spark.readStream
        .schema(spark.read.parquet(s"$base/feed/f1.parquet").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/feed")
      val query = PublishStream.runAuditedPublish(
        graft.queries.QualityQueries.dailyCounts(q0),
        s"$base/pub", s"$base/chk", PublishStream.dailyAudits)
      try {
        query.processAllAvailable()
        val gen0 = graft.ops.Storage.readPublished(spark, s"$base/pub").get
          .collect().map(r => (r.getString(0), r.getLong(2))).sorted.toSeq
        assert(gen0 == Seq(("click", 1L), ("view", 1L)))
        write("f2", Seq((3L, null.asInstanceOf[Timestamp], 3L, "click", 1.0, "{}")))
        query.processAllAvailable()
        assert(query.isActive, "a refused batch must not kill the stream")
        // pointer still serves the clean generation — the poisoned
        // snapshot (with its NULL day) never became visible
        val after = graft.ops.Storage.readPublished(spark, s"$base/pub").get
          .collect().map(r => (r.getString(0), r.getLong(2))).sorted.toSeq
        assert(after == gen0)
      } finally query.stop()
    }
  }

  test("every st query cleans up: no stream, drain view, temp dir or cached dataset outlives two runs") {
    val stQueries = graft.queries.Registry.all.filter(_.name.startsWith("st"))
    assert(stQueries.size == 33)
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries(): Int =
      Option(tmpRoot.list()).getOrElse(Array.empty).count(_.startsWith("graft-"))
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    // CacheManager.numCachedEntries is private[sql] in Scala, public in bytecode
    val cacheManager = spark.sharedState.cacheManager
    def cachedDatasets(): Int = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    // the st drains name their views graft_stream_*: drop any an earlier
    // caller left behind, so every view a query leaves shows up as new
    tempViews().filter(_.startsWith("graft_stream_")).foreach(spark.catalog.dropTempView)
    val viewsBefore = tempViews()
    // every leak is collected, so one run names all of them
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    def runAll(): Unit = stQueries.foreach { q =>
      graft.util.PlanCache.releaseAll()
      val cachedBefore = cachedDatasets()
      q.run(spark, sf).count()
      if (spark.streams.active.nonEmpty) leaks += s"${q.name}: streaming query still active"
      graft.util.PlanCache.releaseAll()
      val cached = cachedDatasets() - cachedBefore
      if (cached != 0) leaks += s"${q.name}: $cached cached datasets after releaseAll"
      val views = tempViews() -- viewsBefore
      if (views.nonEmpty) leaks += s"${q.name}: temp views ${views.mkString(", ")}"
      // dropped so the next query is charged only for its own views
      views.foreach(spark.catalog.dropTempView)
    }
    // the first run creates the memoized streamableDir symlink dirs
    runAll()
    val afterFirst = graftEntries()
    runAll()
    if (graftEntries() != afterFirst)
      leaks += s"graft-* entries in java.io.tmpdir: $afterFirst after the first run, " +
        s"${graftEntries()} after the second"
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }
}
