package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Exact._
import graft.queries.{AdvancedQueries, QualityQueries}

/**
 * Structured Streaming ingest path (SURVEY §2.11 — a design addition:
 * the reference is daily batch, so the constraint is that streaming
 * results must equal the batch semantics on the same data).
 *
 * The file source streams the same parquet the batch path reads;
 * downstream transforms are shared Column expressions, so batch/stream
 * parity is by construction. Aggregations use the exact-decimal path —
 * bit-identical totals regardless of micro-batch boundaries.
 */
object EventStream {

  // one symlink dir per source file per JVM — repeated streaming
  // queries (4 per Verify run × bench reps) must not accrete temp dirs
  private val symlinkDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A directory the file stream source can scan for `path`: the file
    * stream source requires a directory, so a bare parquet file is
    * exposed through a symlink in a temp directory, memoized per
    * source path so repeated calls reuse one directory instead of
    * leaking one per query. */
  private[streaming] def streamableDir(path: String): String = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    if (java.nio.file.Files.isRegularFile(p)) {
      symlinkDirs.computeIfAbsent(p.toString, { _ =>
        val dir = java.nio.file.Files.createTempDirectory("graft-stream-")
        java.nio.file.Files.createSymbolicLink(dir.resolve(p.getFileName), p)
        dir.toFile.deleteOnExit()
        dir.resolve(p.getFileName).toFile.deleteOnExit()
        dir.toString
      })
    } else path
  }

  /** Streaming scan of an events parquet path. The file stream source
    * needs a declared schema, so it takes the batch loader's memoized
    * layout of `path`: `ts` may be INT64 nanos (legacy fixture layout,
    * surfaced as LongType under the legacy conf) or TIMESTAMP(MICROS)
    * (current fixtures) — see [[graft.sources.Tables.events]]. Both
    * normalize to the same microsecond `TimestampType` column. */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val (probe, tsExpr, _) = graft.sources.Tables.eventsFile(spark, path)
    spark.readStream.schema(probe.schema).parquet(streamableDir(path))
      .selectExpr("event_id", tsExpr, "user_id", "event_type", "value", "props")
  }

  /** The events fixture of `dir` as a stream. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, s"$dir/events.parquet")

  /** The shared (batch ≡ stream) hourly aggregation: tumbling 1-hour
    * windows per event type with exact-decimal value sums. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sumExact(dec(col("value"))).as("sum_value"))

  /**
   * Run the hourly aggregation as a real streaming query over the
   * events parquet and return the final result: complete output mode
   * into a memory sink, drained synchronously. Complete mode makes the
   * final state equal to the batch aggregation — the oracle for this
   * query is plain SQL.
   */
  def hourlyStats(spark: SparkSession, dir: String): DataFrame =
    StreamRun.drain("graft_stream_hourly", hourlyAgg(events(spark, dir)), "complete")

  /**
   * Streaming cohort-drift monitor (st08): the stream maintains dq04's
   * per-(event_type, cohort) counts — the stateful part — in complete
   * mode, and the drift REPORT derives from the drained state in batch
   * (shares are a read-time view over maintained counters; chaining a
   * second stateful aggregation onto a complete-mode stream is neither
   * supported nor the right design). One implementation of the count
   * and share math serves both gates: `QualityQueries.cohortCounts` /
   * `driftFromCounts` shared verbatim with dq04, whose oracle this
   * query carries.
   */
  def cohortDriftReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.driftFromCounts(StreamRun.drain("graft_stream_drift",
      QualityQueries.cohortCounts(events(spark, dir)), "complete"))

  /**
   * Streaming binned-TVD drift monitor (st25): the stream maintains
   * dq17's per-(event_type, bin) cohort counters — the only stateful
   * part — in complete mode, and the exact-integer-numerator TVD
   * report derives from the drained counts in batch via the SAME
   * `tvdFromCounts` view dq17 runs. State is types × bins counters
   * (plan constants, not data volume), the st08/st12 recipe applied
   * to the log-free drift aggregate; dq17's oracle carries verbatim.
   */
  def binnedTvdReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.tvdFromCounts(StreamRun.drain("graft_stream_tvd",
      QualityQueries.tvdCounts(events(spark, dir)), "complete"))

  /**
   * st31: streaming A/B experiment monitor — the stream maintains
   * dq22's per-variant moment counters (purchase count, exact-decimal
   * Σv and Σv², event count; 2 rows of state total) in complete mode,
   * and the Welch-t / two-proportion-z readout derives from the
   * drained counters via the SAME `abFromMoments` view dq22 runs.
   * Decimal and count sums are associative, so any micro-batch split
   * drains to the batch moments bit-for-bit; dq22's oracle carries
   * verbatim. This is the "is the experiment significant YET?"
   * monitor — the readout is recomputable after every micro-batch at
   * the cost of folding 2 state rows.
   */
  def abReadoutReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.abFromMoments(StreamRun.drain("graft_stream_ab",
      QualityQueries.abMoments(events(spark, dir)), "complete"))

  /**
   * st32: streaming distinct-count sketch — the stream maintains
   * dq23's day-sharded HLL registers (per-(day, bucket) MAX rank; max
   * is fold-order-free, so any micro-batch split drains to the batch
   * registers bit-for-bit; state is calendar-bounded — 256 rows per
   * day — never volume-bounded) in complete mode, and the
   * merge/spine/estimate report is the shared `hllReportFromDaily`
   * view over the drained state. The scaffolding legs (direct
   * registers, exact distinct) recompute from the batch fixture
   * exactly as in dq23 — they are the verification-only frame; the
   * production answer derives entirely from register state. This is
   * the incremental-cardinality monitor: "how many distinct ids so
   * far" recomputable after every micro-batch by folding the register
   * table, never by rescanning the stream's past. dq23's oracle
   * carries verbatim.
   */
  def hllSketchReplay(spark: SparkSession, dir: String): DataFrame = {
    val daily = StreamRun.drain("graft_stream_hll",
      QualityQueries.hllDailyRegisters(events(spark, dir)), "complete")
    QualityQueries.hllReportFromDaily(spark, daily, graft.sources.Tables.events(spark, dir))
  }

  /**
   * st27: streaming freshness monitor — the stream maintains dq18's
   * per-type (count, last-arrival) aggregates as its ONLY state
   * (complete mode; count sums and max are fold-order-free, so any
   * micro-batch split drains to the batch aggregate) and the
   * lag/staleness report is the shared `freshnessFromCounts` view
   * over the drained counters. State is type-cardinality rows — the
   * cheapest monitor in the registry, which is the point: freshness
   * is what you want streaming first. dq18's oracle carries verbatim.
   */
  def freshnessReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.freshnessFromCounts(StreamRun.drain("graft_stream_fresh",
      QualityQueries.freshnessCounts(events(spark, dir)), "complete"))

  /**
   * st28: streaming modal-value monitor — the stream maintains dq19's
   * per-(type, value) counts as its ONLY state (complete mode; counts
   * are fold-order-free) and the modal pick + share report is the
   * shared `modalFromCounts` view — including the straggler-free
   * grouped top-1 — over the drained counters. dq19's oracle carries
   * verbatim. State is value-grain-bounded; a continuous-valued
   * firehose would bin first (dq09's state contract) and take the
   * modal BIN, same view.
   */
  def modalValuesReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.modalFromCounts(StreamRun.drain("graft_stream_modal",
      QualityQueries.modalCounts(events(spark, dir)), "complete"))

  /**
   * Streaming two-sample KS drift: the stream maintains dq06's
   * per-(event_type, value) cohort counters (complete mode ≡ batch
   * aggregation — the counts frame is the ONLY stateful part of the KS
   * computation, and it is a plain streaming aggregate), and the
   * statistic is the same `ksFromCounts` view dq06 runs — CDF prefix
   * sums, totals, and the max-|F_a − F_b| all happen on the bounded
   * counts snapshot, never on the stream. st08's recipe applied to the
   * continuous-distribution monitor.
   */
  def ksDriftReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.ksFromCounts(StreamRun.drain("graft_stream_ks",
      QualityQueries.ksCounts(events(spark, dir)), "complete"))

  /**
   * st15: train-then-score streaming anomaly detection — dq11's
   * per-type moments are fitted in BATCH over the historical corpus
   * (the exact-decimal aggregate, bit-reproducible on any
   * partitioning), and the live stream is scored row-by-row through
   * the same `scoreAgainst` projection via a stream-static broadcast
   * join: completely STATELESS on the stream side (the model is the
   * broadcast; no state store, no watermark), which is what lets the
   * scorer run at firehose rates. dq11's oracle carries verbatim
   * because fitting on the full history and scoring the same events
   * replayed as a stream is exactly the batch computation.
   */
  def zscoreReplay(spark: SparkSession, dir: String): DataFrame = {
    val stats = QualityQueries.zStats(graft.sources.Tables.events(spark, dir))
    StreamRun.drain("graft_stream_zscore",
      QualityQueries.scoreAgainst(events(spark, dir), stats), "append")
  }

  /**
   * st14: streaming user-growth monitor — the stream maintains q39's
   * per-user first-seen day (a plain min aggregation in complete
   * mode; state bounded by the user population, not event volume),
   * and the growth curve is the same growthFromFirstSeen view q39
   * runs, over the drained snapshot. q39's oracle carries verbatim.
   */
  def userGrowthReplay(spark: SparkSession, dir: String): DataFrame =
    AdvancedQueries.growthFromFirstSeen(StreamRun.drain("graft_stream_growth",
      AdvancedQueries.firstSeen(events(spark, dir)), "complete"))

  /**
   * st20: streaming EWMA volume forecaster — the stream maintains
   * dq13's (event_type, day) counters as its ONLY state (complete
   * mode ≡ batch aggregation; counts are fold-order-free, so
   * micro-batch boundaries cannot change them; state is bounded by
   * types × days, not event volume), and the scaled-integer EWMA walk
   * is the same `ewmaFromDaily` view dq13 runs, over the drained
   * snapshot. dq13's oracle carries verbatim.
   */
  def ewmaReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.ewmaFromDaily(StreamRun.drain("graft_stream_ewma",
      QualityQueries.dailyCounts(events(spark, dir)), "complete"))

  /**
   * st22: streaming rolling-actives monitor — the stream maintains
   * q46's distinct (user_id, day) activity frame as its ONLY state (a
   * complete-mode aggregation at user×day grain: distinctness is
   * fold-order-free, so micro-batch arrival order cannot change it;
   * state is bounded by active user-days, not event volume), and the
   * trailing-7-day distinct count is the same interval-merge sweep
   * (`rollingFromUserDays`) q46 runs, over the drained snapshot.
   * q46's oracle carries verbatim.
   */
  def rollingActivesReplay(spark: SparkSession, dir: String): DataFrame = {
    val ud = StreamRun.drain("graft_stream_rolling", events(spark, dir)
      .groupBy(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("d"))
      .agg(count(lit(1)).as("__n")), "complete")
    AdvancedQueries.rollingFromUserDays(ud.select("user_id", "d"))
  }

  /**
   * st23: streaming weekday-seasonality monitor — the stream maintains
   * dq14's (event_type, day) volume counters (the EXACT state st20
   * maintains for the EWMA — complete mode ≡ batch aggregation, counts
   * fold-order-free, state bounded by types × days), and the seasonal
   * profile is the same `seasonalFromDaily` view dq14 runs, over the
   * drained snapshot. dq14's oracle carries verbatim.
   */
  def seasonalReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.seasonalFromDaily(StreamRun.drain("graft_stream_seasonal",
      QualityQueries.dailyCounts(events(spark, dir)), "complete"))

  /**
   * st12: streaming histogram monitor — the stream maintains dq09's
   * (event_type, bin) counters (complete mode ≡ batch aggregation;
   * the counts frame is the ONLY state, bounded by types × bins, not
   * by stream length), and bin edges/shares are the same
   * histFromCounts view dq09 runs, over the drained snapshot. dq09's
   * oracle carries verbatim.
   */
  def histogramReplay(spark: SparkSession, dir: String): DataFrame =
    QualityQueries.histFromCounts(StreamRun.drain("graft_stream_hist",
      QualityQueries.histCounts(events(spark, dir)), "complete"))

  /**
   * st13: streaming quarantine router — dq10's validation is a pure
   * projection, so the streaming leg is STATELESS: append mode, no
   * watermark, no state store at all, O(1) memory regardless of
   * stream length — the shape that routes a firehose row-by-row with
   * failure reasons at ingest wire speed. dq10's oracle carries
   * verbatim.
   */
  def quarantineReplay(spark: SparkSession, dir: String): DataFrame =
    StreamRun.drain("graft_stream_quarantine",
      QualityQueries.quarantineRoute(events(spark, dir)), "append")

  /**
   * st11: streaming weekly retention — the stream maintains q35's
   * distinct (user_id, week) activity frame as its ONLY state (a
   * streaming aggregation in complete mode: the stream-side analogue
   * of q35's "dedup the facts to week grain FIRST", so state is
   * bounded by active (user, week) pairs, not by event volume), and
   * the retention matrix is the same `retentionFromWeeks` view q35
   * runs, over the drained snapshot. q35's oracle carries verbatim.
   */
  def retentionReplay(spark: SparkSession, dir: String): DataFrame = {
    val weeks = StreamRun.drain("graft_stream_retention", events(spark, dir)
      .groupBy(col("user_id"), AdvancedQueries.weekOf(col("ts")).as("week"))
      .agg(count(lit(1)).as("__n")), "complete")
    AdvancedQueries.retentionFromWeeks(weeks.select("user_id", "week"))
  }

  /**
   * Streaming sessionization: gap-merged session windows per user with
   * a watermark bounding state. Update mode emits the session's current
   * aggregate every trigger; consumers keep the newest row per
   * (user_id, session_start). Batch-running the same expression equals
   * the batch sessionization (asserted by the spec).
   */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sumExact(dec(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  /**
   * Streaming exact dedup: duplicates of `event_id` arriving within
   * the watermark horizon are dropped, and the dedup state expires
   * with the watermark — memory bounded by delay × arrival rate, the
   * property that makes streaming dedup viable at firehose scale (an
   * unbounded dropDuplicates would accrete state forever). The
   * streaming leg of the dedup surface (batch legs: Dedup.exactGroups,
   * tx04).
   */
  def dedupWithinWatermark(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /**
   * st02: run the streaming dedup as a real query over a DOUBLED event
   * stream (the same parquet unioned with itself — every row arrives
   * twice) and return the surviving rows: exactly the distinct events,
   * which is what the plain-SQL oracle asserts.
   */
  def dedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val doubled = events(spark, dir).unionByName(events(spark, dir))
    StreamRun.drain("graft_stream_dedup", dedupWithinWatermark(doubled), "append")
      .select("event_id", "user_id", "event_type", "value")
  }

  /**
   * st03: stream-static broadcast enrichment — the continuous leg of
   * the J1 dimension join. Each micro-batch joins the (static,
   * broadcast) event-type dimension MAP-SIDE: a stateless streaming
   * operator, so unlike the windowed aggregations its state is O(dim),
   * independent of stream length — the shape that enriches a firehose
   * at any scale. The per-category rollup runs in complete mode so the
   * final state equals the batch join + aggregation, which is exactly
   * what the plain-SQL oracle computes.
   */
  def enrichReplay(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.marketpulse.EventTicker.dim(spark, dir)
    StreamRun.drain("graft_stream_enrich", events(spark, dir)
      .join(broadcast(dim), Seq("event_type"), "left")
      .groupBy(col("category"), col("display_name"))
      .agg(count(lit(1)).as("n_events"), sumExact(dec(col("value"))).as("sum_value")),
      "complete")
  }

  /**
   * The shared (batch ≡ stream) interval-join shape: purchase events
   * matched to the same user's click events in the preceding
   * `window`. Column names are disambiguated BEFORE the join so the
   * time-bound condition references each side's event time explicitly
   * — the form Spark's stream-stream join planner needs to derive
   * state-eviction watermarks for both sides.
   */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        window: String = "30 minutes"): DataFrame =
    purchases.join(clicks,
      expr(s"""user_id = click_user
              | AND click_ts >= purchase_ts - INTERVAL $window
              | AND click_ts <= purchase_ts""".stripMargin))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        col("purchase_value"))

  /**
   * The left-outer interval join: every purchase emits, with null click
   * columns when no qualifying click exists. In streaming execution the
   * null row for an unmatched purchase at time T can only emit once the
   * click-side watermark passes T — before that, a matching click could
   * still arrive — so outer results trail the watermark where inner
   * matches emit immediately. This is the join shape that exercises
   * state eviction hardest: every left row is buffered until the
   * watermark proves its match-window closed.
   */
  def purchaseClickJoinOuter(purchases: DataFrame, clicks: DataFrame,
                             window: String = "30 minutes"): DataFrame =
    purchases.join(clicks,
      expr(s"""user_id = click_user
              | AND click_ts >= purchase_ts - INTERVAL $window
              | AND click_ts <= purchase_ts""".stripMargin), "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        col("purchase_value"), col("purchase_ts"))

  /** The watermarked purchase and click streams st04 and st05 join,
    * with each side's columns renamed apart. */
  private def purchaseClickStreams(spark: SparkSession,
                                   dir: String): (DataFrame, DataFrame) = {
    val purchases = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    val clicks = events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    (purchases, clicks)
  }

  /**
   * st05: the left-outer interval join as a real streaming query. A
   * finite replay's watermark freezes at maxSeen − delay, so unmatched
   * purchases in the stream's tail never get their no-match proof and
   * never emit — the streamed result equals the batch LEFT JOIN only on
   * the FINALIZED region. Both this query and its oracle therefore
   * restrict to purchases at least (delay + margin) behind the corpus
   * max timestamp; inside that region append-mode output is exactly the
   * batch join (matches emitted on arrival, nulls on watermark
   * passage — the ordering StreamingSpec pins with a two-batch feed).
   */
  def outerIntervalJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = purchaseClickStreams(spark, dir)
    val joined = StreamRun.drain("graft_stream_outer_join",
      purchaseClickJoinOuter(purchases, clicks), "append")
    // finalized-region cutoff. A purchase's null row emits once the
    // GLOBAL watermark (= min over both sides of that side's own max
    // seen ts, minus the 2 h delay) passes its match window — and each
    // side's max can trail the corpus max by hours on a sparse stream
    // (at sf0.001 the last click is ~4 h before the last event). So the
    // cutoff derives from min(max purchase_ts, max click_ts), minus the
    // delay and an hour of batch-boundary margin — never from the
    // global max.
    val ev = graft.sources.Tables.events(spark, dir)
    val sideMax = ev.filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("mx"))
      .agg(min(col("mx"))).head().getLong(0)
    joined.filter(unix_micros(col("purchase_ts")) <= sideMax - 3L * 3600 * 1000000)
      .drop("purchase_ts")
  }

  /**
   * st04: stream-stream interval join, run as a real streaming query.
   * Both sides are watermarked and the join condition bounds the two
   * event times, so each side's buffered state is evicted once the
   * other side's watermark passes the bound — state is
   * O(rate × (delay + window)), independent of stream length (the
   * property the spec asserts with a two-batch MemoryStream feed).
   * Inner-join matches emit as soon as both rows have arrived, so on a
   * finite replay the append-mode result equals the batch interval
   * join — which is exactly what the plain-SQL oracle computes.
   */
  def intervalJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = purchaseClickStreams(spark, dir)
    StreamRun.drain("graft_stream_interval_join",
      purchaseClickJoin(purchases, clicks), "append")
  }

  /**
   * Watermarked append-mode variant (the late-data contract): events
   * later than `delay` behind the max seen timestamp are dropped;
   * windows emit once finalized. The grouping key must be the window
   * struct itself (not `.start` pre-extracted) so event-time tracking
   * survives into append mode.
   */
  def hourlyAggWatermarked(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sumExact(dec(col("value"))).as("sum_value"))
      .select(col("window").getField("start").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  // ---------------------------------------------------------------
  // st06: CUSTOM state — flatMapGroupsWithState sessionization.
  // session_window (st-series above) covers gap windows Spark can
  // express declaratively; this operator carries per-session state no
  // built-in aggregation tracks: the session's FIRST event type
  // ((ts, event_id)-ordered) and a purchase-conversion flag, the shape
  // of "did this session convert, and what started it" funnel logic.
  // ---------------------------------------------------------------

  /** One event, typed for the custom-state sessionizer. `ts` stays a
    * timestamp COLUMN (not pre-extracted micros) because the watermark
    * that drives EventTimeTimeout attaches to it. */
  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp,
                             event_id: Long, event_type: String, value: Double)

  /** An open (not yet finalized) session in the group state. `first_ts`
    * / `first_id` carry the (ts, event_id) key of the session's
    * earliest event so merges pick the first event deterministically
    * even across ts ties. Money is held in exact integer cents. */
  final case class OpenSession(start_us: Long, last_us: Long, n_events: Long,
                               sum_cents: Long, first_ts: Long, first_id: Long,
                               first_type: String, has_purchase: Boolean,
                               n_purchases: Long, purchase_cents: Long)

  final case class SessionState(open: Seq[OpenSession])

  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long,
                              sum_cents: Long, first_type: String,
                              has_purchase: Boolean, n_purchases: Long,
                              purchase_cents: Long)

  /** Exact cents from a 2-dp double: shortest-decimal repr shifted two
    * places — `12.34` → 1234 with no float residue (the same
    * shortest-repr contract the exact-decimal aggregates rely on). */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v).movePointRight(2)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def microsOf(ts: java.sql.Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L

  /** Gap-merge a session set: sorted by start, adjacent sessions closer
    * than `gapUs` coalesce (sum counts/cents, OR conversion, keep the
    * (first_ts, first_id)-minimal first event). Merging singleton
    * sessions this way IS gap sessionization of the event set, and is
    * insensitive to how events split across micro-batches — the
    * property that makes the streamed result equal the batch one. */
  private[streaming] def mergeSessions(sessions: Seq[OpenSession],
                                       gapUs: Long): Seq[OpenSession] = {
    val sorted = sessions.sortBy(s => (s.start_us, s.first_ts, s.first_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
    for (s <- sorted) {
      if (out.nonEmpty && s.start_us - out.last.last_us <= gapUs) {
        val c = out.last
        val firstIsC = c.first_ts < s.first_ts ||
          (c.first_ts == s.first_ts && c.first_id <= s.first_id)
        out(out.length - 1) = OpenSession(
          c.start_us, math.max(c.last_us, s.last_us),
          c.n_events + s.n_events, c.sum_cents + s.sum_cents,
          if (firstIsC) c.first_ts else s.first_ts,
          if (firstIsC) c.first_id else s.first_id,
          if (firstIsC) c.first_type else s.first_type,
          c.has_purchase || s.has_purchase,
          c.n_purchases + s.n_purchases,
          c.purchase_cents + s.purchase_cents)
      } else out += s
    }
    out.toSeq
  }

  /** The per-group state transition. A session finalizes when the
    * watermark passes its close time (`last + gap`): any event that
    * could still extend it would have `ts ≤ last + gap < watermark`,
    * i.e. be dropped as late before reaching this function — so
    * emission-on-watermark-passage is exact, not heuristic. State per
    * user is the open-session list only; everything emitted leaves the
    * store, so state size is O(active sessions), bounded by the
    * watermark delay × arrival rate like the built-in operators. */
  private def sessionFunc(gapUs: Long)(
      userId: Long, rows: Iterator[SessEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessionState])
      : Iterator[SessionOut] = {
    val existing = state.getOption.map(_.open).getOrElse(Seq.empty)
    val incoming = rows.map { e =>
      val t = microsOf(e.ts)
      val isPurchase = e.event_type == "purchase"
      OpenSession(t, t, 1L, cents(e.value), t, e.event_id, e.event_type,
        isPurchase, if (isPurchase) 1L else 0L,
        if (isPurchase) cents(e.value) else 0L)
    }.toSeq
    val merged = mergeSessions(existing ++ incoming, gapUs)
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (done, open) = merged.partition(s => s.last_us + gapUs < wmUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(SessionState(open))
      // wake at the earliest close (ms, strictly after the watermark —
      // the API contract) so finalized sessions emit without waiting
      // for the group's next event
      val closeMs = open.map(s => (s.last_us + gapUs) / 1000L + 1L).min
      state.setTimeoutTimestamp(math.max(closeMs, state.getCurrentWatermarkMs() + 1L))
    }
    done.sortBy(s => (s.start_us, s.first_id)).iterator.map(s =>
      SessionOut(userId, s.start_us, s.last_us, s.n_events, s.sum_cents,
        s.first_type, s.has_purchase, s.n_purchases, s.purchase_cents))
  }

  /** Microseconds of a `"30 minutes"`-style interval literal (day-time
    * units only: month-based gaps have no fixed length). */
  private def intervalUs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"calendar-month gaps are ambiguous: $s")
    iv.days * 86400000000L + iv.microseconds
  }

  /**
   * The st06 custom-state sessionizer: gap sessionization with
   * per-session funnel state (first event type, purchase-conversion
   * flag) over `flatMapGroupsWithState`. Works on a streaming OR batch
   * DataFrame with columns (user_id, ts, event_id, event_type, value);
   * in append mode each session emits exactly once, on watermark
   * passage of its close time.
   */
  def sessionizeWithState(events: DataFrame, gap: String = "30 minutes",
      delay: String = "2 hours")
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .withWatermark("ts", delay)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        sessionFunc(intervalUs(gap)))
  }

  /** Run the stateful sessionizer as a streaming query and return the
    * FINALIZED sessions: the shared harness behind st06 and st16, so
    * the correctness-critical cutoff (delay + gap + an hour of
    * batch-boundary margin behind the corpus max) exists in exactly
    * one place and both replays agree on which sessions are final. */
  private def finalizedSessions(spark: SparkSession, dir: String,
                                name: String): DataFrame = {
    val sessions = StreamRun.drain(name, sessionizeWithState(events(spark, dir)), "append")
    val maxUs = graft.sources.Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutoff = maxUs - (2L * 3600 + 1800 + 3600) * 1000000L
    sessions.filter(col("session_end_us") <= cutoff)
  }

  /**
   * st06: the custom-state sessionizer as a real streaming query.
   * Append mode emits each session exactly once, on watermark passage.
   * A finite replay's watermark freezes at maxTs − delay, so — like
   * st05 — both the streamed result and the batch oracle restrict to
   * the FINALIZED region: sessions ending at least delay + gap + an
   * hour of batch-boundary margin behind the corpus max timestamp.
   */
  def sessionStateReplay(spark: SparkSession, dir: String): DataFrame =
    finalizedSessions(spark, dir, "graft_stream_sessions")
      // st06's gated shape predates the purchase accumulators; they are
      // st16's surface
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("sum_cents"), col("first_type"),
        col("has_purchase"))

  /**
   * st16: first-touch revenue attribution (q41's report) computed from
   * the STREAMING sessionizer's state — each finalized session already
   * carries its entry type and exact purchase cents, so attribution is
   * a 5-row fold over emitted sessions, never a second pass across raw
   * events. Restricted to the finalized region like st06 (same cutoff),
   * so the oracle is q41's chain over sessions ending before it.
   */
  def attributionStateReplay(spark: SparkSession, dir: String): DataFrame =
    finalizedSessions(spark, dir, "graft_stream_attribution")
      .filter(col("n_purchases") > 0)
      .groupBy(col("first_type"))
      .agg(sum(col("n_purchases")).as("n_purchases"),
        sum(col("purchase_cents")).as("revenue_cents"))
}
