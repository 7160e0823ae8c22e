package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Exact._
import graft.ops.Relational
import graft.sources.Tables

/** Operators beyond the reference surface that a market/behavioral data
  * engine needs at scale: as-of joins, skew-salted joins, gap-based
  * sessionization. All oracle-backed. */
object AdvancedQueries {

  // ---- q19: as-of join — each purchase matched to the user's latest
  //      click at or before it (ordered by the unique event_id) ----
  private def q19(spark: SparkSession, dir: String): DataFrame =
    purchaseClickAsOf(spark, dir, tolerance = None)

  /** q19's and q51's one body: each purchase as-of joined to the same
    * user's clicks from the one events table. */
  private def purchaseClickAsOf(spark: SparkSession, dir: String,
                                tolerance: Option[Long]): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_event_id"),
        col("value").as("click_value"))
    Relational.asOfJoin(purchases, clicks,
      keys = Seq("user_id"), leftOrder = "event_id", rightOrder = "click_event_id",
      rightValues = Seq("click_event_id", "click_value"), tolerance = tolerance)
      .select("user_id", "event_id", "purchase_value", "click_event_id", "click_value")
  }

  private val q19Oracle =
    """SELECT p.user_id, p.event_id, p.value AS purchase_value,
      |  c.event_id AS click_event_id, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.event_id >= c.event_id""".stripMargin

  // ---- q51: as-of join with a STALENESS BOUND — the feature-store
  //      read contract on q19's exact shape: a purchase still takes
  //      the user's latest prior click, but only if that click is
  //      within 5,000 event-ids; anything older is DISCARDED (nulls),
  //      not served stale. Same one-exchange union+window plan as q19
  //      — the bound is a map-side `when` over the matched order
  //      value riding the same window fill, zero extra exchanges.
  //      Oracle: DuckDB's ASOF LEFT JOIN with the staleness CASE
  //      applied on top — the engine must agree cell-exactly on which
  //      matches survive the bound. ----
  private def q51(spark: SparkSession, dir: String): DataFrame =
    purchaseClickAsOf(spark, dir, tolerance = Some(5000L))

  private val q51Oracle =
    """SELECT user_id, event_id, purchase_value,
      |  CASE WHEN click_event_id >= event_id - 5000
      |    THEN click_event_id END AS click_event_id,
      |  CASE WHEN click_event_id >= event_id - 5000
      |    THEN click_value END AS click_value
      |FROM (
      |  SELECT p.user_id, p.event_id, p.value AS purchase_value,
      |    c.event_id AS click_event_id, c.value AS click_value
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id AND p.event_id >= c.event_id) t""".stripMargin

  // ---- q20: salted skew join ≡ plain equi-join (the oracle IS the
  //      plain join — salting must not change semantics) ----
  private def q20(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Relational.saltedEquiJoin(li, o, "l_orderkey", salt = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sumExact(dec(col("l_extendedprice"))).as("revenue"))
  }

  private val q20Oracle =
    """SELECT o.o_orderpriority, COUNT(*) AS n_items,
      |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority""".stripMargin

  // ---- gap sessionization, shared by q21, q37, q41, q42, q48 and
  //      q49: over each user's events in `order`, `new_s` = 1 marks
  //      the first event and every event more than 30 minutes after
  //      the one before it, and `sid`, the running count of marks,
  //      numbers the user's sessions. Reads `user_id` and `tus` (epoch
  //      micros). ----
  private def sessionize(events: DataFrame,
                         order: Seq[Column] = Seq(col("tus"), col("event_id"))): DataFrame = {
    val gapMicros = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id")).orderBy(order: _*)
    events
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("tus") - col("prev") > gapMicros, 1)
          .otherwise(0))
      .withColumn("sid",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  // ---- q21: gap-based sessionization (30-minute inactivity) ----
  private def q21(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus")),
        Seq(col("event_id")))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n"))
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n")).as("longest_session"),
        sum(col("n")).as("total_events"))
  }

  private val q21Oracle =
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, event_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |per AS (SELECT user_id, session_id, COUNT(*) AS n FROM sess GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS longest_session,
      |  CAST(SUM(n) AS BIGINT) AS total_events
      |FROM per GROUP BY user_id""".stripMargin
  // ^ CAST(SUM AS BIGINT) assumes per-user event counts fit int64
  //   (DuckDB HUGEINT->BIGINT raises on overflow; Spark's long sum
  //   wraps). Counts would overflow int64 only past ~9e18 events per
  //   user — impossible before storage does — so the semantics gap is
  //   declared, not handled.

  // ---- q22: the SQL surface — ONE query text executed verbatim by
  //      both spark.sql (over temp views) and the DuckDB oracle ----
  private val q22Sql =
    """SELECT o.o_orderpriority, c.c_mktsegment,
      |  COUNT(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderstatus = 'O'
      |GROUP BY o.o_orderpriority, c.c_mktsegment""".stripMargin

  private def q22(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql(q22Sql)
  }

  // ---- q23: native session_window operator (gap-merged sessions per
  //      user); oracle recomputes sessions with the windowed-cumsum
  //      formulation over the same microsecond timeline ----
  private def q23(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))

  private val q23Oracle =
    """WITH seq AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT user_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, tus,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked)
      |SELECT user_id, MIN(tus) AS session_start_us, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  // ---- q24: pivot (conditional aggregation in oracle terms) ----
  private def q24(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)

  private val q24Oracle =
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin

  // ---- q25: INTERSECT / EXCEPT set operators ----
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val high = o.filter(col("o_orderpriority") === "2-HIGH").select("o_custkey")
    urgent.intersect(open).except(high)
  }

  private val q25Oracle =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin

  // ---- q26: TPC-H Q3-shaped shipping priority (selective multi-join +
  //      agg + deterministic top-10) ----
  private def q26(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > to_timestamp(lit("1996-01-01 00:00:00")))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sumExact(dec(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .as("revenue"))
      .select(col("l_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q26Oracle =
    """SELECT l.l_orderkey,
      |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
      |  o.o_orderpriority,
      |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
      |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin

  // ---- q27: CUBE over two dimensions with coalesced labels ----
  private def q27(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"))

  private val q27Oracle =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ---- q28: moving-window frame (7-day trailing average close per
  //      event type). Exact-decimal sum over the frame so the result
  //      is partition-order independent; days are unique per type, so
  //      the ROWS frame is deterministic. ----
  private def q28(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    graft.marketpulse.EventTicker.dailyBars(spark, dir)
      .select(col("event_type"), col("day"), col("close"),
        (sum(dec(col("close"))).over(w)
          .cast(DecimalType(18, 2)).cast(DoubleType) /
          count(lit(1)).over(w)).as("ma7_close"))
  }

  private val q28Oracle =
    s"""WITH ${MarketPulseQueries.barsCte}
       |SELECT event_type, day, close,
       |  CAST(ROUND(SUM(CAST(close AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE)
       |    / COUNT(*) OVER w AS ma7_close
       |FROM bars
       |WINDOW w AS (PARTITION BY event_type ORDER BY day
       |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  // ---- q30: correlated scalar subqueries — the SQL-surface feature a
  //      migrating analyst reaches for next after joins/windows. One
  //      text runs verbatim on both engines (q22's mechanism).
  //      Determinism: the above-group-average comparison is expressed
  //      as bal·count > sum over exact decimals (an AVG of doubles
  //      would be summation-order-dependent; decimal SUM is not, and
  //      DuckDB's AVG(decimal) returns double anyway). ----
  private val q30Sql =
    """SELECT c_custkey, c_nationkey,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(12,2))
      |      * (SELECT COUNT(*) FROM customer c2
      |         WHERE c2.c_nationkey = c.c_nationkey)
      |      > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(12,2))) FROM customer c3
      |         WHERE c3.c_nationkey = c.c_nationkey)""".stripMargin

  private def q30(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql(q30Sql)
  }

  // ---- q29: RANGE-frame window (7 CALENDAR days, not 7 rows — the
  //      frame is value-based over the epoch-day number, so a type
  //      with missing days averages fewer bars where q28's ROWS frame
  //      would reach further back). Integer frame bounds → exact
  //      boundary comparisons on both engines. ----
  private def q29(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dayNum = datediff(to_date(col("day")), lit("1970-01-01"))
    val w = Window.partitionBy(col("event_type")).orderBy(dayNum)
      .rangeBetween(-6, Window.currentRow)
    graft.marketpulse.EventTicker.dailyBars(spark, dir)
      .select(col("event_type"), col("day"), col("close"),
        (sum(dec(col("close"))).over(w)
          .cast(DecimalType(18, 2)).cast(DoubleType) /
          count(lit(1)).over(w)).as("d7_avg_close"))
  }

  private val q29Oracle =
    s"""WITH ${MarketPulseQueries.barsCte}
       |SELECT event_type, day, close,
       |  CAST(ROUND(SUM(CAST(close AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE)
       |    / COUNT(*) OVER w AS d7_avg_close
       |FROM bars
       |WINDOW w AS (PARTITION BY event_type
       |             ORDER BY datediff('day', DATE '1970-01-01', CAST(day AS DATE))
       |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  // ---- q31: GROUPING SETS — two independent reports (per-status,
  //      per-priority revenue) out of ONE scan and one expand, the
  //      general form q18's ROLLUP and q27's CUBE specialize. At
  //      100 TB this is the difference between N report queries and
  //      one pass: the expand multiplies rows by the number of sets
  //      BEFORE the partial aggregate, so what shuffles is one
  //      aggregated frame per set, not N scans. ----
  private def q31(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sumExact(dec(col("o_totalprice"))).as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))

  private val q31Oracle =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin

  // ---- q32: range (band) join — value → irregular-interval lookup
  //      (pricing tiers, latency buckets, IP→geo bands). The band dim
  //      derives deterministically from nation (25 overlapping,
  //      irregular [lo, hi) intervals over the events value domain);
  //      Relational.rangeJoin decomposes each band into fixed-width
  //      cells so the containment join runs as a HASH join on cell —
  //      big-big capable — instead of the BroadcastNestedLoopJoin /
  //      CartesianProduct Spark plans for a bare theta join. Events
  //      under overlapping bands count in each, exactly like the
  //      oracle's theta join. ----
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    val bands = Tables.nation(spark, dir).select(
      col("n_name").as("band"),
      (col("n_nationkey") * 18.0).as("lo"),
      (col("n_nationkey") * 18.0 + 18.0 + (col("n_nationkey") % 3) * 9.0).as("hi"))
    Relational.rangeJoin(
        Tables.events(spark, dir).select(col("event_id"), col("value")),
        "value", bands, "lo", "hi", cellWidth = 16.0)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"),
        sumExact(dec(col("value"))).as("total_value"))
  }

  private val q32Oracle =
    """SELECT n.n_name AS band, COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
      |FROM events e JOIN nation n
      |  ON e.value >= n.n_nationkey * 18.0
      | AND e.value < n.n_nationkey * 18.0 + 18.0 + (n.n_nationkey % 3) * 9.0
      |GROUP BY n.n_name""".stripMargin

  // ---- q33: calendar gap-fill / daily resample — the sparse
  //      high-value observation series (days where an event type saw
  //      any value ≥ 200; genuinely gappy at every fixture scale)
  //      densified onto each type's own [min, max] calendar with
  //      zero-filled counts and a forward-filled peak gauge. The spine
  //      explodes map-side per key, the ffill window runs over the
  //      bounded daily grain (dates per key, never fact rows), and
  //      every filled value is a COPY of an exact input (count zeros,
  //      carried doubles) — nothing is interpolated, so the gate is
  //      cell-exact. ----
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value") >= 200.0)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("peak"))
    graft.ops.TimeSeries.gapFill(daily, Seq("event_type"), "day",
        ffillCols = Seq("peak"), zeroFillCols = Seq("n_events"))
      .select(col("event_type"),
        // VARCHAR day at the gate boundary (house convention: parquet
        // DATE and DuckDB DATE reach pandas as different dtypes)
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("peak"), col("is_observed"))
  }

  private val q33Oracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    COUNT(*) AS n_events, MAX(value) AS peak
      |  FROM events WHERE value >= 200.0 GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type,
      |    unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      |  FROM (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
      |        FROM daily GROUP BY 1) b),
      |j AS (
      |  SELECT s.event_type, s.day, d.n_events, d.peak,
      |    d.day IS NOT NULL AS is_observed
      |  FROM spine s LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND s.day = d.day)
      |SELECT event_type, CAST(day AS VARCHAR) AS day,
      |  COALESCE(n_events, 0) AS n_events,
      |  last_value(peak IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
      |  is_observed
      |FROM j""".stripMargin

  // ---- q34: ordered-step conversion funnel (view → click →
  //      purchase) — each step's entry time is the user's EARLIEST
  //      qualifying event strictly after the previous step's, so a
  //      click before any view never converts. Sequential dependence
  //      means step k can't fold into one conditional aggregate with
  //      step k−1; instead each stage is a hash-agg + equi-join ON THE
  //      SAME user_id key, so every exchange in the chain shuffles the
  //      same way (no re-keying) and only user-grain step times — not
  //      fact rows — flow between stages. Step-duration averages are
  //      double divisions of exact integer micros (sum fits int64 at
  //      any fixture scale; declared, like q21's count bound). ----
  private def q34(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    def stageAfter(prev: DataFrame, prevT: String, step: String, outT: String) =
      ev.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col(prevT)), "user_id")
        .filter(col("tus") > col(prevT))
        .groupBy("user_id").agg(min(col("tus")).as(outT))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("t1"))
    val t2 = stageAfter(t1, "t1", "click", "t2")
    val t3 = stageAfter(t2, "t2", "purchase", "t3")
    val f = t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
    val s = f.agg(
      count(col("t1")).as("n1"), count(col("t2")).as("n2"),
      count(col("t3")).as("n3"),
      sum(col("t2") - col("t1")).as("s2"),
      sum(col("t3") - col("t2")).as("s3"))
    s.select(explode(array(
        struct(lit("1_view").as("step"), col("n1").as("n_users"),
          lit(null).cast(DoubleType).as("avg_step_us")),
        struct(lit("2_click").as("step"), col("n2").as("n_users"),
          when(col("n2") > 0, col("s2").cast(DoubleType) / col("n2").cast(DoubleType))
            .as("avg_step_us")),
        struct(lit("3_purchase").as("step"), col("n3").as("n_users"),
          when(col("n3") > 0, col("s3").cast(DoubleType) / col("n3").cast(DoubleType))
            .as("avg_step_us")))).as("r"))
      .select(col("r.step").as("step"), col("r.n_users").as("n_users"),
        col("r.avg_step_us").as("avg_step_us"))
  }

  private val q34Oracle =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |t1 AS (SELECT user_id, MIN(tus) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, MIN(e.tus) AS t2 FROM ev e
      |       JOIN t1 ON e.user_id = t1.user_id
      |       WHERE e.event_type = 'click' AND e.tus > t1.t1 GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(e.tus) AS t3 FROM ev e
      |       JOIN t2 ON e.user_id = t2.user_id
      |       WHERE e.event_type = 'purchase' AND e.tus > t2.t2 GROUP BY 1),
      |f AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3 FROM t1
      |      LEFT JOIN t2 ON t1.user_id = t2.user_id
      |      LEFT JOIN t3 ON t1.user_id = t3.user_id),
      |s AS (SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3,
      |             SUM(t2 - t1) AS s2, SUM(t3 - t2) AS s3 FROM f)
      |SELECT '1_view' AS step, n1 AS n_users, CAST(NULL AS DOUBLE) AS avg_step_us FROM s
      |UNION ALL
      |SELECT '2_click', n2, CASE WHEN n2 > 0
      |  THEN CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) END FROM s
      |UNION ALL
      |SELECT '3_purchase', n3, CASE WHEN n3 > 0
      |  THEN CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) END FROM s""".stripMargin

  // ---- q35: weekly cohort retention matrix — users grouped by their
  //      first-seen week; each later week counts how many came back.
  //      Deduplicate (user, week) FIRST: the week-grain activity frame
  //      is what shuffles from there on, so the matrix costs one
  //      distinct over the facts plus user-grain joins/aggs — never a
  //      COUNT(DISTINCT) expand over raw events (at 100 TB the distinct
  //      activity frame is orders of magnitude smaller than the fact
  //      table, and each user appears once per active week, so the
  //      final cell count is a plain COUNT(*)). Both engines truncate
  //      weeks to Monday; offsets are exact multiples of 7 days. ----
  /** The week-grain truncation both retention legs share (Monday). */
  private[graft] def weekOf(ts: Column): Column =
    date_trunc("week", ts).cast("date")

  /** q35's matrix over an already-distinct (user_id, week) activity
    * frame — shared verbatim with the streaming twin (st11), which
    * maintains the same frame as its streaming state. */
  private[graft] def retentionFromWeeks(weeks: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val cohorts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast(IntegerType)
          .as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
  }

  private def q35(spark: SparkSession, dir: String): DataFrame =
    retentionFromWeeks(
      Tables.events(spark, dir)
        .select(col("user_id"), weekOf(col("ts")).as("week"))
        .distinct())

  private[graft] val q35Oracle =
    """WITH weeks AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohorts AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
      |SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
      |  CAST(datediff('day', c.cohort_week, w.week) / 7 AS INT) AS week_offset,
      |  COUNT(*) AS n_users
      |FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  // ---- q36: type-2 history build (SCD2) from a change log — each
  //      user's event_type stream collapses into effective-dated
  //      [valid_from, valid_to) intervals: consecutive repeats of the
  //      same state merge, valid_to is the next change's timestamp,
  //      and the open interval is the current state. The operator is
  //      [[Relational.scd2]]; event_id breaks same-microsecond ties
  //      deterministically. Scale shape: one shuffle of the change
  //      log serves both the lag() change detector and the lead()
  //      interval closer (single-exchange pin in PlanShapeSpec). ----
  private def q36(spark: SparkSession, dir: String): DataFrame =
    Relational.scd2(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("ts")).as("tus"), col("event_id")),
      key = "user_id", state = "state", ts = "tus", tie = "event_id")
      .select(col("user_id"), col("state"),
        col("valid_from").as("valid_from_us"),
        col("valid_to").as("valid_to_us"), col("is_current"))

  private val q36Oracle =
    """WITH o AS (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS tus, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |ch AS (SELECT user_id, state, tus, event_id FROM o
      |       WHERE prev IS NULL OR prev <> state)
      |SELECT user_id, state, tus AS valid_from_us,
      |  LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |    AS valid_to_us,
      |  LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
      |    AS is_current
      |FROM ch""".stripMargin

  // ---- q37: peak concurrent sessions per day — interval-overlap
  //      counting done the scalable way: a sweep line over session
  //      boundaries instead of an interval self-join (which at 100 TB
  //      is a quadratic range join). Sessions (30-minute gap rule,
  //      time-ordered with event_id tie-break) become ±1 deltas at the
  //      [start, end+1) boundaries; deltas are summed PER DISTINCT
  //      INSTANT first, making the result independent of any
  //      within-instant ordering, and the global cumulative count then
  //      rides [[Relational.runningTotal]]'s single range exchange
  //      (distributed prefix sum) — no window over an unpartitioned
  //      frame anywhere, and the delta frame is session-grain, orders
  //      smaller than the fact table. The report reads concurrency at
  //      change points (a day with no boundary reports nothing —
  //      declared, matching the oracle). Day rendering is tz-free
  //      INTEGER division on the micros epoch, not double division:
  //      at ~2e7 days-magnitude a double quotient's ulp (~4e-9) can
  //      absorb a 1-µs-before-midnight boundary (1.2e-11 below the
  //      integer) and round floor() into the wrong day. ----
  private def q37(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus")))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("tus")).as("s"), max(col("tus")).as("e"))
    val deltas = sessions.select(col("s").as("t"), lit(1L).as("d"))
      .unionByName(sessions.select((col("e") + 1).as("t"), lit(-1L).as("d")))
    val byInstant = deltas.groupBy(col("t")).agg(sum(col("d")).as("d"))
    Relational.runningTotal(byInstant, Seq(col("t")), col("d"), "conc")
      .groupBy(expr("t DIV 86400000000").as("day_idx"))
      .agg(max(col("conc")).as("peak_concurrency"))
      .select(
        date_format(date_add(to_date(lit("1970-01-01")),
          col("day_idx").cast("int")), "yyyy-MM-dd").as("day"),
        col("peak_concurrency"))
  }

  private val q37Oracle =
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, tus, event_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |iv AS (SELECT user_id, sid, MIN(tus) AS s, MAX(tus) AS e
      |       FROM sess GROUP BY 1, 2),
      |deltas AS (SELECT s AS t, 1 AS d FROM iv
      |           UNION ALL SELECT e + 1, -1 FROM iv),
      |byt AS (SELECT t, SUM(d) AS d FROM deltas GROUP BY 1),
      |cum AS (SELECT t, SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc
      |        FROM byt)
      |SELECT strftime(DATE '1970-01-01' + CAST(t // 86400000000 AS INTEGER),
      |         '%Y-%m-%d') AS day,
      |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency
      |FROM cum GROUP BY 1""".stripMargin

  // ---- q38: exact quantile bucketing — NTILE without the global
  //      sort. NTILE's physical plan is a full sort of the frame
  //      feeding ONE window task — the single-task shape this engine
  //      bans. Instead the decile BOUNDARIES come from dq07's
  //      exact-percentile machinery (per-value counts, one range
  //      exchange for the CDF, one aggregate pass) and every user then
  //      takes a broadcast join against the 9 boundary values:
  //      decile = 1 + |{p : spend > b_p}|, ties landing in the lower
  //      bucket. percentile_disc boundaries ARE data values (exact
  //      int64 cents), so the comparisons — and the gate — are exact.
  //      NTILE itself would differ on ties by construction; declared.
  //      ----
  private def q38(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val spend = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast(LongType)).as("cents"))
    val counts = spend.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val cum = Relational.runningTotal(counts, Seq(col("cents")), col("cnt"), "cum")
    val n = spend.agg(count(lit(1)).as("n"))
    def pick(p: Int) =
      min(when(col("cum") >=
        ceil(lit(p / 10.0) * col("n").cast(DoubleType)).cast(LongType),
        col("cents"))).as(s"b$p")
    val bounds = cum.crossJoin(broadcast(n))
      .agg(pick(1), pick(2), pick(3), pick(4), pick(5),
        pick(6), pick(7), pick(8), pick(9))
    val decile = (1 to 9).map(i => (col("cents") > col(s"b$i")).cast("int"))
      .reduce(_ + _) + lit(1)
    spend.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("cents"), decile.as("decile"))
  }

  private val q38Oracle =
    """WITH spend AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM spend),
      |cnts AS (SELECT cents, COUNT(*) AS cnt FROM spend GROUP BY 1),
      |cum AS (SELECT cents,
      |    SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM cnts),
      |b AS (SELECT
      |    MIN(CASE WHEN cum >= CEIL(0.1 * n) THEN cents END) AS b1,
      |    MIN(CASE WHEN cum >= CEIL(0.2 * n) THEN cents END) AS b2,
      |    MIN(CASE WHEN cum >= CEIL(0.3 * n) THEN cents END) AS b3,
      |    MIN(CASE WHEN cum >= CEIL(0.4 * n) THEN cents END) AS b4,
      |    MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cents END) AS b5,
      |    MIN(CASE WHEN cum >= CEIL(0.6 * n) THEN cents END) AS b6,
      |    MIN(CASE WHEN cum >= CEIL(0.7 * n) THEN cents END) AS b7,
      |    MIN(CASE WHEN cum >= CEIL(0.8 * n) THEN cents END) AS b8,
      |    MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN cents END) AS b9
      |  FROM cum CROSS JOIN nn)
      |SELECT s.user_id, s.cents,
      |  1 + CAST(s.cents > b.b1 AS INT) + CAST(s.cents > b.b2 AS INT)
      |    + CAST(s.cents > b.b3 AS INT) + CAST(s.cents > b.b4 AS INT)
      |    + CAST(s.cents > b.b5 AS INT) + CAST(s.cents > b.b6 AS INT)
      |    + CAST(s.cents > b.b7 AS INT) + CAST(s.cents > b.b8 AS INT)
      |    + CAST(s.cents > b.b9 AS INT) AS decile
      |FROM spend s CROSS JOIN b""".stripMargin

  /** q39's stateful part — each user's first-seen HOUR (hour grain so
    * the fixture, whose users all surface within day one, still
    * exercises a real curve): a plain min aggregation, shared verbatim
    * with the streaming twin (st14), which maintains it as its only
    * state (bounded by users, not events). */
  private[graft] def firstSeen(events: DataFrame): DataFrame =
    events.select(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("user_id")).agg(min(col("hour")).as("first_hour"))

  /** q39's report over the user-grain first-seen frame: per-hour new
    * users plus the cumulative count via the distributed prefix sum. */
  private[graft] def growthFromFirstSeen(firstHours: DataFrame): DataFrame = {
    val perHour = firstHours.groupBy(col("first_hour"))
      .agg(count(lit(1)).as("new_users"))
    Relational.runningTotal(perHour, Seq(col("first_hour")),
        col("new_users"), "cumulative_users")
      .select(date_format(col("first_hour"), "yyyy-MM-dd HH:00").as("hour"),
        col("new_users"), col("cumulative_users"))
  }

  // ---- q39: user-growth curve — per-hour NEW users and the running
  //      cumulative total, the canonical "distinct users to date"
  //      report done without a rolling COUNT(DISTINCT): dedup to each
  //      user's FIRST-seen hour (one user-grain hash aggregate — the
  //      q35 recipe), count per hour (hour-grain frame, plan-constant
  //      size), and let the cumulative ride
  //      [[Relational.runningTotal]]'s single range exchange. A
  //      windowed COUNT(DISTINCT user_id) OVER (ORDER BY hour) would
  //      re-expand the fact table per bucket; this never touches
  //      event-grain data after the first aggregate. ----
  private def q39(spark: SparkSession, dir: String): DataFrame =
    growthFromFirstSeen(firstSeen(Tables.events(spark, dir)))

  private[graft] val q39Oracle =
    """WITH f AS (SELECT user_id, MIN(date_trunc('hour', ts)) AS first_hour
      |           FROM events GROUP BY 1),
      |d AS (SELECT first_hour, COUNT(*) AS new_users FROM f GROUP BY 1)
      |SELECT strftime(first_hour, '%Y-%m-%d %H:00') AS hour, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY first_hour
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
      |FROM d""".stripMargin

  // ---- q41: first-touch revenue attribution — every purchase's value
  //      credited to the ENTRY event type of its session (the
  //      marketing-attribution report; q34 answers "do users
  //      convert?", this answers "which entry channel pays?"). One
  //      per-user shuffle serves the whole chain: the gap cut, the
  //      session id, and the session's first event type all ride the
  //      same (user; tus, event_id) window spec, then purchases fold
  //      into a 5-row report by entry type. The session's entry type
  //      needs NO second (user, sid)-partitioned window (which would
  //      cost another exchange + sort): every session start is a
  //      new_s = 1 row, so the running last non-null marked type on
  //      the SAME spec IS the current session's first type. Money is
  //      exact integer cents (the st06 recipe); event_id breaks
  //      same-microsecond ties so "first" is deterministic in both
  //      engines. ----
  private def q41(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    // `sid` goes unused here, so the optimizer prunes its window
    sessionize(Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("tus")))
      .withColumn("first_type",
        last(when(col("new_s") === 1, col("event_type")), ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("event_type") === "purchase")
      .groupBy(col("first_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(round(col("value") * 100).cast(LongType)).as("revenue_cents"))
  }

  private val q41Oracle =
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |    THEN 1 ELSE 0 END AS new_s FROM seq),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |attributed AS (
      |  SELECT *, FIRST_VALUE(event_type) OVER (
      |    PARTITION BY user_id, sid ORDER BY tus, event_id) AS first_type
      |  FROM sess)
      |SELECT first_type, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents
      |FROM attributed WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  // ---- q42: market-basket co-occurrence — which event types appear
  //      TOGETHER in a session, scored by lift (the association-rule
  //      report behind "users who X also Y"). Sessions come from q41's
  //      single-window chain (gap cut + running sum on ONE (user; time,
  //      id) spec); baskets are the DISTINCT (user, session, type)
  //      frame, so a type repeated in a session counts once. Pairs are
  //      a self-join on the session key — bounded at C(|types|, 2)
  //      rows per session, and every per-type/total frame is
  //      report-sized and broadcasts. Lift = n_both·N / (n_a·n_b)
  //      stays a division of exact integers, identical on any IEEE
  //      engine. ----
  private def q42(spark: SparkSession, dir: String): DataFrame = {
    val baskets = sessionize(Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")))
      .select(col("user_id"), col("sid"), col("event_type")).distinct()
    val nSessions = baskets.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val typeCounts = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.sid") === col("b.sid") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("type_a"),
        col("n_type").as("n_a"))), Seq("type_a"))
      .join(broadcast(typeCounts.select(col("event_type").as("type_b"),
        col("n_type").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_both").cast(org.apache.spark.sql.types.DoubleType) * col("n_sessions") /
          (col("n_a") * col("n_b"))).as("lift"))
  }

  private val q42Oracle =
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |    THEN 1 ELSE 0 END AS new_s FROM seq),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |baskets AS (
      |  SELECT DISTINCT user_id, sid, event_type FROM sess),
      |m AS (SELECT COUNT(*) AS n_sessions
      |      FROM (SELECT DISTINCT user_id, sid FROM baskets) s),
      |tc AS (SELECT event_type, COUNT(*) AS n_type FROM baskets GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM baskets a JOIN baskets b
      |    ON a.user_id = b.user_id AND a.sid = b.sid
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b,
      |  ta.n_type AS n_a, tb.n_type AS n_b, p.n_both,
      |  CAST(p.n_both AS DOUBLE) * m.n_sessions / (ta.n_type * tb.n_type) AS lift
      |FROM pairs p
      |JOIN tc ta ON ta.event_type = p.type_a
      |JOIN tc tb ON tb.event_type = p.type_b
      |CROSS JOIN m""".stripMargin

  // ---- q44: point-in-time snapshot (temporal AS OF) over the SCD2
  //      history — "what state was every user in at instant T?", the
  //      read side that makes q36's type-2 history useful. T is the
  //      midpoint of the event-time range (derived in-plan on both
  //      engines — no collected literal), and the snapshot is a pure
  //      map-side interval filter over the history with the cutoff
  //      riding a one-row broadcast: the expensive part is q36's
  //      single exchange+sort, reused as-is; AS OF adds zero
  //      exchanges. ----
  private def q44(spark: SparkSession, dir: String): DataFrame = {
    val cut = Tables.events(spark, dir)
      .agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("cut"))
    q36(spark, dir).crossJoin(broadcast(cut))
      .filter(col("valid_from_us") <= col("cut") &&
        (col("valid_to_us").isNull || col("valid_to_us") > col("cut")))
      .select(col("user_id"), col("state"), col("valid_from_us"))
  }

  private val q44Oracle =
    """WITH o AS (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS tus, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |ch AS (SELECT user_id, state, tus, event_id FROM o
      |       WHERE prev IS NULL OR prev <> state),
      |hist AS (
      |  SELECT user_id, state, tus AS valid_from_us,
      |    LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS valid_to_us
      |  FROM ch),
      |cut AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS cut FROM o)
      |SELECT h.user_id, h.state, h.valid_from_us
      |FROM hist h CROSS JOIN cut
      |WHERE h.valid_from_us <= cut.cut
      |  AND (h.valid_to_us IS NULL OR h.valid_to_us > cut.cut)""".stripMargin

  // ---- q43: integer-exact PageRank over the customer↔supplier
  //      purchase graph — iterative link analysis (who are the most
  //      central buyers/vendors?) as 10 rounds of the damped integer
  //      recurrence in [[graft.graph.PageRank]]. The edge list is the
  //      distinct (custkey, suppkey) pairs from orders⋈lineitem, made
  //      bidirectional so every node has out-degree ≥ 1 (no dangling
  //      mass). All rank mass is scaled BIGINT and every step is
  //      integer arithmetic, so 10 iterations are bit-identical on
  //      any engine — the oracle unrolls the same recurrence as 10
  //      CTEs and gates the final ranks cell-exact. ----
  private def q43(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
    // both edge orientations from ONE pass over the (expensive)
    // orders⋈lineitem DISTINCT pair subtree (r21, guide §2.4): the
    // union-of-selects shape planted that subtree twice, and the
    // graph loop's deg/withDeg/nodes builds each re-evaluated it
    val edges = pairs.select(inline(array(
      struct((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
      struct((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst")))))
    graft.graph.PageRank.run(edges, iters = 10).select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("kind"),
      expr("node div 2").as("key"),
      col("pr"))
  }

  private val q43Oracle =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
       |  UNION ALL
       |  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
       |${graft.graph.PageRank.oracleIterCtes(10)}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS key, pr
       |FROM pr10""".stripMargin

  // ---- q45: distributed triangle counting over the part co-purchase
  //      graph — the clique-census primitive behind community/cohesion
  //      analytics. Edges are distinct part pairs sharing an order
  //      (per-order fanout is bounded by basket size — C(4,2)-ish rows
  //      per order, never quadratic in the catalog), generated per
  //      ORDER BASKET: one groupBy collects each order's parts, a
  //      double explode emits the a<b pairs locally (r22 — the lp
  //      self-join this replaces paid a join exchange plus the probe
  //      to produce the same pairs; measured 1.45–1.55 → 1.1–1.3 s
  //      warm at sf0.1, row-identical). Triangles via the
  //      degree-ordered edge-iterator in [[graft.graph.Triangles]]:
  //      orientation bounds every out-degree by O(√m), so the
  //      adjacency-intersection work is O(m^1.5) worst case instead
  //      of Σdeg² on the raw graph; hub nodes become edge TARGETS,
  //      not adjacency owners, which is what keeps the shape alive on
  //      a power-law graph at scale. The oracle counts the SAME
  //      triangle set with the naive a<b<c orientation — the gate
  //      therefore proves the degree-ordered plan equivalent to the
  //      textbook definition. Output: per-part triangle
  //      participation, top-20. ----
  private val triCache = new graft.util.PlanCache(maxEntries = 2)

  private def q45(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .groupBy(col("o")).agg(collect_list(col("p")).as("ps"))
    val edges = baskets
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val cnt = graft.graph.Triangles.perNodeCounts(edges, triCache.persisted)
    graft.ops.Relational.topKPerGroup(
      cnt.withColumn("__g", lit(1)), Seq("__g"),
      Seq(col("n_tri").desc, col("node")), 20, rankName = "rank")
      .select(col("node").as("partkey"), col("n_tri"), col("rank"))
  }

  /** r17: the gate oracle is the DEGREE-ORIENTED wedge join — the same
    * O(m^1.5) bound the engine's plan carries, derived independently in
    * SQL: orient every edge from its (degree, id)-smaller endpoint, so
    * each triangle has exactly ONE node with out-edges to the other two
    * (the orientation is a total order, hence acyclic) and the wedge
    * frame is Σ outdeg² ≤ m^1.5 instead of Σ deg² through raw hubs.
    * The closing-edge probe keys on the CANONICAL (LEAST, GREATEST)
    * pair, i.e. the original a<b edge list. Equality with the textbook
    * formulation is spec-pinned (TriangleOracleChainSpec), so the cheap
    * oracle stays chained to the obviously-correct one — the q53
    * playbook.
    *
    * `edges AS MATERIALIZED` is load-bearing at the blow-up tiers:
    * the CTE feeds FOUR plan positions, and DuckDB's default inlining
    * re-evaluates the 120M-row pairs self-join per position — measured
    * 55.8 GB of spill (budget-fail) at 10x. Materialized once, the
    * whole oracle is 12.3 s at sf0.1 and 19.0 s at 10x (the co-purchase
    * GRAPH is identical at both tiers — key-shifted order replicas
    * reproduce the same part baskets, so DISTINCT collapses them; only
    * the pre-distinct pair volume grows). The chain spec strips the
    * MATERIALIZED keyword when replaying this text through Spark SQL. */
  private[queries] val q45Oracle =
    """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (SELECT a.p AS pa, b.p AS pb
      |          FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
      |edges AS MATERIALIZED (SELECT pa, pb FROM pairs GROUP BY 1, 2),
      |deg AS (SELECT node, COUNT(*) AS dg FROM (
      |          SELECT pa AS node FROM edges
      |          UNION ALL SELECT pb FROM edges) z
      |        GROUP BY 1),
      |oriented AS (
      |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
      |              THEN e.pa ELSE e.pb END AS s,
      |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
      |              THEN e.pb ELSE e.pa END AS t
      |  FROM edges e
      |  JOIN deg da ON da.node = e.pa
      |  JOIN deg db ON db.node = e.pb),
      |wedge AS (SELECT w1.s AS x, w1.t AS u, w2.t AS w
      |          FROM oriented w1
      |          JOIN oriented w2 ON w2.s = w1.s AND w1.t < w2.t),
      |tri AS (SELECT x AS a, u AS b, w AS c
      |        FROM wedge
      |        JOIN edges e ON e.pa = LEAST(u, w) AND e.pb = GREATEST(u, w)),
      |nodes AS (SELECT a AS node FROM tri
      |          UNION ALL SELECT b FROM tri
      |          UNION ALL SELECT c FROM tri),
      |cnt AS (SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY 1)
      |SELECT partkey, n_tri, rank FROM (
      |  SELECT node AS partkey, n_tri,
      |    ROW_NUMBER() OVER (ORDER BY n_tri DESC, node) AS rank
      |  FROM cnt) z
      |WHERE rank <= 20""".stripMargin

  // ---- q46: trailing-window distinct actives (7-day rolling DAU→WAU)
  //      — the rolling COUNT(DISTINCT) this engine bans done the
  //      scalable way. A per-day `COUNT(DISTINCT user) OVER (RANGE 6
  //      PRECEDING)` either rescans the fact per day or funnels a
  //      global window through one task; instead: (1) collapse the
  //      fact to distinct (user, day) — one narrow exchange at
  //      user×day grain; (2) per user, MERGE the overlapping [d, d+6]
  //      coverage windows into disjoint intervals with a bounded
  //      array fold (state is days-per-user, bounded by the CALENDAR,
  //      not event volume — the dq12/dq13 walk shape); (3) sweep
  //      line: each merged interval is a ±1 delta at day grain, so a
  //      user counts ONCE wherever their coverage overlaps — that
  //      interval merge is exactly what makes the sweep count
  //      DISTINCT users; (4) the cumulative count rides
  //      [[Relational.runningTotal]]'s distributed prefix sum over a
  //      zero-filled dense day calendar (boundaries are day-grain, so
  //      every calendar day is exact, not just change points). The
  //      calendar fill explodes ONE (min, max) row — time-dimension
  //      sized, declared. Window length is a constant: unlike the
  //      explode-by-W alternative, cost does not scale with W. ----
  private def q46(spark: SparkSession, dir: String): DataFrame =
    rollingFromUserDays(
      Tables.events(spark, dir)
        .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("d"))
        .distinct())

  /** The interval-merge sweep over distinct (user_id, d) activity —
    * shared verbatim by q46 and its streaming twin st22 (whose ONLY
    * state is this distinct frame, maintained as a complete-mode
    * aggregation: distinctness is fold-order-free, so micro-batch
    * arrival order cannot change it). */
  private[graft] def rollingFromUserDays(ud: DataFrame): DataFrame = {
    val W = 7L
    val init = struct(
      array().cast("array<struct<s:bigint,e:bigint>>").as("iv"),
      lit(null).cast("bigint").as("cs"), lit(null).cast("bigint").as("ce"))
    val perUser = ud.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("d"))).as("ds"))
      .select(col("user_id"), aggregate(col("ds"), init, (st, d) => {
        val iv = st.getField("iv"); val cs = st.getField("cs")
        val ce = st.getField("ce")
        // days arrive sorted strictly increasing: a window starting at
        // d extends (never shrinks) the open interval, so the merged
        // end is always d + W - 1; d > ce + 1 closes the interval
        struct(
          when(cs.isNull || d <= ce + 1, iv)
            .otherwise(concat(iv, array(struct(cs.as("s"), ce.as("e"))))).as("iv"),
          when(cs.isNull || d > ce + 1, d).otherwise(cs).as("cs"),
          (d + W - 1).as("ce"))
      }, st => concat(st.getField("iv"),
        array(struct(st.getField("cs").as("s"), st.getField("ce").as("e")))))
        .as("ivs"))
    val intervals = perUser.select(explode(col("ivs")).as("iv"))
      .select(col("iv.s").as("s"), col("iv.e").as("e"))
    val deltas = intervals.select(col("s").as("t"), lit(1L).as("dl"))
      .unionByName(intervals.select((col("e") + 1).as("t"), lit(-1L).as("dl")))
    val cal = ud.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("t"),
        lit(0L).as("dl"))
    val byDay = deltas.unionByName(cal).groupBy(col("t"))
      .agg(sum(col("dl")).as("dl"))
    Relational.runningTotal(byDay, Seq(col("t")), col("dl"), "active_7d")
      .join(ud.select(col("d")).distinct(), col("t") === col("d"), "left_semi")
      .select(
        date_format(date_add(to_date(lit("1970-01-01")),
          col("t").cast("int")), "yyyy-MM-dd").as("day"),
        col("active_7d"))
  }

  // oracle by a DIFFERENT algorithm — the direct windowed distinct
  // count over the user×day grain (fine at oracle scale)
  private[graft] val q46Oracle =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
      |  FROM events),
      |days AS (SELECT DISTINCT d FROM ud)
      |SELECT strftime(DATE '1970-01-01' + CAST(dd.d AS INTEGER),
      |         '%Y-%m-%d') AS day,
      |  CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
      |FROM days dd JOIN ud u ON u.d BETWEEN dd.d - 6 AND dd.d
      |GROUP BY 1""".stripMargin

  // ---- q47: k-core decomposition of the STABLE co-purchase graph
  //      (edges need support ≥ 2 orders — the single-co-occurrence
  //      noise floor q45's triangle graph keeps is exactly what a
  //      curation pass drops first). The 2-core and 3-core are peeled
  //      by [[graft.graph.KCore]] — degree aggregate + two semi-joins
  //      per round, all hash-partitioned, lineage truncated per round;
  //      no node-sized broadcast, no driver-side graph. The oracle
  //      unrolls a FIXED 16 peeling rounds (the q43 unrolled-iteration
  //      recipe); the operator throws beyond 16 rounds rather than
  //      letting a deeper fixpoint silently disagree with the unroll
  //      (measured: 11 rounds worst-case on the fixtures, k ∈ {2,3}).
  //      Extra oracle rounds past the fixpoint are no-ops, so a
  //      shallower cascade still compares exactly. ----
  private val Q47Rounds = 16

  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val lp = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") >= 2).select("a", "b")
      .localCheckpoint() // consumed by BOTH peels — compute the support join once
    Seq(2, 3).map { k =>
      graft.graph.KCore.kCore(edges, k, maxRounds = Q47Rounds)
        .select(lit(k).as("k"), col("node").as("partkey"), col("core_degree"))
    }.reduce(_ unionByName _)
  }

  private[queries] val q47Oracle: String = q47OracleAt(Q47Rounds)

  private[queries] def q47OracleAt(unroll: Int): String = {
    // MATERIALIZED everywhere a CTE is referenced more than once — the
    // q45 lesson applied to the whole chain, not just the rounds:
    //  - e0 (the lp support self-join, the expensive part — the same
    //    ~120M-row pairs join q45's oracle pays at 10x) is referenced
    //    by both directions of sym; un-materialized, DuckDB inlined it
    //    into sym and sym into both peels' round-0, re-evaluating the
    //    self-join 4×. Materializing e0 AND sym pins it to one scan.
    //  - each round's surviving-node set (deg ≥ k) was written as two
    //    identical IN subqueries, re-aggregated per reference; it is
    //    now its own MATERIALIZED d-CTE joined twice (a join on a
    //    grouped key ≡ IN against the same grouped projection — the
    //    set is distinct by GROUP BY), halving the per-round work.
    //  - rounds themselves stay MATERIALIZED: each is referenced 3×
    //    (by d, by the next round's join, by the final census) and the
    //    un-materialized form compounded to 3^16 base scans (observed
    //    as fd exhaustion on the parquet).
    def peel(k: Int): String =
      (1 to unroll).map { r =>
        val p = if (r == 1) "sym" else s"e${k}_${r - 1}"
        s"""d${k}_$r AS MATERIALIZED (
           |  SELECT u FROM $p GROUP BY u HAVING COUNT(*) >= $k),
           |e${k}_$r AS MATERIALIZED (
           |  SELECT s.u, s.v FROM $p s
           |  JOIN d${k}_$r a ON s.u = a.u
           |  JOIN d${k}_$r b ON s.v = b.u)""".stripMargin
      }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |       SELECT a.p AS pa, b.p AS pb
       |       FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (
       |        SELECT pa AS u, pb AS v FROM e0
       |        UNION ALL SELECT pb, pa FROM e0),
       |${peel(2)},
       |${peel(3)}
       |SELECT CAST(2 AS INT) AS k, u AS partkey, COUNT(*) AS core_degree
       |FROM e2_$unroll GROUP BY 2
       |UNION ALL
       |SELECT CAST(3 AS INT), u, COUNT(*) FROM e3_$unroll GROUP BY 2""".stripMargin
  }

  // ---- q48: daily active time — the engagement metric behind every
  //      "time spent" dashboard: per day, how many users were in
  //      session, their summed in-session time, and the heaviest
  //      single user. Sessions are q37's gap rule (30 min, event_id
  //      tie-break); per user the merged sessions are DISJOINT by
  //      construction, so per-user time is a plain sum — no union
  //      arithmetic — and the only subtlety is sessions CROSSING
  //      MIDNIGHT, split exactly by exploding each session's day span
  //      (bounded by session length in days, a small constant) and
  //      clipping half-open [s, e+1) to the day's micros window.
  //      Integer micros throughout; one user-key exchange for the
  //      sessionization, one (user, day) aggregate, one day-grain
  //      report aggregate. ----
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val sessions = sessionize(Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus")))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("tus")).as("s"), max(col("tus")).as("e"))
    val perUserDay = sessions
      .select(col("user_id"), col("s"), col("e"),
        explode(sequence(expr("s DIV 86400000000"),
          expr("e DIV 86400000000"))).as("d"))
      .withColumn("lo", greatest(col("s"), col("d") * dayUs))
      .withColumn("hi", least(col("e") + 1, (col("d") + 1) * dayUs))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(col("hi") - col("lo")).as("active_us"))
    perUserDay.groupBy(col("d"))
      .agg(count(lit(1)).as("n_active_users"),
        sum(col("active_us")).as("total_active_us"),
        max(col("active_us")).as("max_user_active_us"))
      .select(
        date_format(date_add(to_date(lit("1970-01-01")),
          col("d").cast("int")), "yyyy-MM-dd").as("day"),
        col("n_active_users"), col("total_active_us"), col("max_user_active_us"))
  }

  private val q48Oracle =
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, tus, event_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |iv AS (SELECT user_id, sid, MIN(tus) AS s, MAX(tus) AS e
      |       FROM sess GROUP BY 1, 2),
      |split AS (
      |  SELECT user_id, s, e,
      |    UNNEST(range(s // 86400000000, e // 86400000000 + 1)) AS d
      |  FROM iv),
      |clipped AS (
      |  SELECT user_id, d,
      |    GREATEST(s, d * 86400000000) AS lo,
      |    LEAST(e + 1, (d + 1) * 86400000000) AS hi
      |  FROM split),
      |ud AS (
      |  SELECT user_id, d, CAST(SUM(hi - lo) AS BIGINT) AS active_us
      |  FROM clipped GROUP BY 1, 2)
      |SELECT strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS day,
      |  COUNT(*) AS n_active_users,
      |  CAST(SUM(active_us) AS BIGINT) AS total_active_us,
      |  CAST(MAX(active_us) AS BIGINT) AS max_user_active_us
      |FROM ud GROUP BY 1""".stripMargin

  // ---- q49: ordered within-session funnel — q34's funnel constrained
  //      to a single session AND to event ORDER: a session converts
  //      stage k only if click, then view, then purchase occur in
  //      (ts, event_id) sequence inside it. Greedy earliest-match is
  //      the correct subsequence semantics (matching each stage at its
  //      earliest opportunity never forecloses a later stage), and it
  //      runs as ONE pass: each session's events fold in order through
  //      a 4-state machine inside a higher-order `aggregate` (the
  //      dq12/dq13 walk at session grain — state is one integer; the
  //      collected array is session-bounded by the 30-min gap rule,
  //      declared). One (user)-key exchange for sessionization, one
  //      (user, sid) aggregate, one day-grain report. The oracle
  //      reaches the same stages by a DIFFERENT algorithm — three
  //      chained min-rank-after joins — so the gate cross-checks the
  //      greedy, not just re-runs it. ----
  private def q49(spark: SparkSession, dir: String): DataFrame = {
    val sessioned = sessionize(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus")))
    val walked = sessioned
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("tus")).as("start_tus"),
        sort_array(collect_list(
          struct(col("tus"), col("event_id"), col("event_type")))).as("evs"))
      .withColumn("stage", aggregate(col("evs"), lit(0), (st, e) => {
        val t = e.getField("event_type")
        when(st === 0 && t === "click", 1)
          .when(st === 1 && t === "view", 2)
          .when(st === 2 && t === "purchase", 3)
          .otherwise(st)
      }))
    walked
      .groupBy(expr("start_tus DIV 86400000000").as("d"))
      .agg(count(lit(1)).as("n_sessions"),
        sum((col("stage") >= 1).cast("long")).as("n_clicked"),
        sum((col("stage") >= 2).cast("long")).as("n_viewed"),
        sum((col("stage") === 3).cast("long")).as("n_converted"))
      .select(
        date_format(date_add(to_date(lit("1970-01-01")),
          col("d").cast("int")), "yyyy-MM-dd").as("day"),
        col("n_sessions"), col("n_clicked"), col("n_viewed"), col("n_converted"))
  }

  private val q49Oracle =
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, event_type, tus,
      |    CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, event_id, event_type, tus,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |ranked AS (
      |  SELECT user_id, sid, event_type, tus,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, sid
      |      ORDER BY tus, event_id) AS rn
      |  FROM sess),
      |base AS (
      |  SELECT user_id, sid, MIN(tus) AS start_tus,
      |    MIN(rn) FILTER (WHERE event_type = 'click') AS r1
      |  FROM ranked GROUP BY 1, 2),
      |f2 AS (
      |  SELECT r.user_id, r.sid, MIN(r.rn) AS r2
      |  FROM ranked r JOIN base b ON b.user_id = r.user_id AND b.sid = r.sid
      |  WHERE r.event_type = 'view' AND r.rn > b.r1 GROUP BY 1, 2),
      |f3 AS (
      |  SELECT r.user_id, r.sid, MIN(r.rn) AS r3
      |  FROM ranked r JOIN f2 ON f2.user_id = r.user_id AND f2.sid = r.sid
      |  WHERE r.event_type = 'purchase' AND r.rn > f2.r2 GROUP BY 1, 2),
      |staged AS (
      |  SELECT b.user_id, b.sid, b.start_tus,
      |    CASE WHEN f3.r3 IS NOT NULL THEN 3
      |         WHEN f2.r2 IS NOT NULL THEN 2
      |         WHEN b.r1 IS NOT NULL THEN 1 ELSE 0 END AS stage
      |  FROM base b
      |  LEFT JOIN f2 ON f2.user_id = b.user_id AND f2.sid = b.sid
      |  LEFT JOIN f3 ON f3.user_id = b.user_id AND f3.sid = b.sid)
      |SELECT strftime(DATE '1970-01-01' + CAST(start_tus // 86400000000 AS INTEGER),
      |         '%Y-%m-%d') AS day,
      |  COUNT(*) AS n_sessions,
      |  CAST(SUM(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
      |  CAST(SUM(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
      |  CAST(SUM(CASE WHEN stage = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      |FROM staged GROUP BY 1""".stripMargin

  // ---- q52: per-nation 2-D skyline (Pareto frontier) — the classic
  //      dominance query: customers not beaten on BOTH account balance
  //      and lifetime spend by any compatriot. The engine side is
  //      [[Relational.skylinePerGroup]]'s sort-scan identity (one
  //      distinct-x aggregate + one window over the reduced frame +
  //      one co-partitioned join back — never the quadratic pairwise
  //      plan); the oracle is the textbook NOT EXISTS dominance
  //      predicate, so the O(n log n) plan is gated by the O(n²)
  //      definition. Money is scaled to integer cents (Exact.dec)
  //      so dominance comparisons and the gate are exact. ----
  /** q52's per-customer spend state: exact decimal sum scaled to
    * integer cents — fold-order-free, so the streaming twin (st29)
    * maintains the IDENTICAL aggregate in complete mode. */
  private[graft] def custSpendCents(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("spend_cents"))

  /** q52's read-time skyline view over the (customer, spend) state —
    * shared verbatim with st29's drained-state report. */
  private[graft] def customerSkyline(customer: DataFrame,
      spend: DataFrame): DataFrame = {
    val pts = customer
      .select(col("c_nationkey").as("nationkey"),
        col("c_custkey").as("custkey"),
        (dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
      .join(spend, col("custkey") === col("o_custkey"))
      .drop("o_custkey")
    Relational.skylinePerGroup(pts, "nationkey", "bal_cents", "spend_cents")
  }

  private def q52(spark: SparkSession, dir: String): DataFrame =
    customerSkyline(Tables.customer(spark, dir),
      custSpendCents(Tables.orders(spark, dir)))

  private[graft] val q52Oracle =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
      |      AS spend_cents
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT c_nationkey AS nationkey, c_custkey AS custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents,
      |    s.spend_cents
      |  FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey)
      |SELECT nationkey, custkey, bal_cents, spend_cents FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.nationkey = p.nationkey
      |    AND q.bal_cents >= p.bal_cents AND q.spend_cents >= p.spend_cents
      |    AND (q.bal_cents > p.bal_cents OR q.spend_cents > p.spend_cents))"""
      .stripMargin

  // ---- q53: multi-source BFS — minimum hop distance from one
  //      nation's customers over the q43 purchase graph, within 4
  //      hops. The engine runs the frontier algorithm (per-round work
  //      proportional to the frontier, settled set append-only,
  //      [[graft.graph.Bfs]]); the oracle is the LAYERED min-fold
  //      (r15): each round expands only the newest layer, so the
  //      DuckDB replay walks each edge once instead of rounds× — that
  //      bought the 10x gate the naive fold's measured 556 s denied
  //      (layered: 75 s at ~12M directed edges, most of it the shared
  //      DISTINCT-pairs CTE). Independence is kept
  //      two ways: BfsSpec pins frontier ≡ naive fold ≡ layered SQL
  //      on randomized graphs, and the oracle still min-folds in SQL
  //      rather than mirroring the anti-join frontier loop. Seeds are
  //      all nation-0 customers (order-less ones stay isolated at
  //      distance 0 on both sides). ----
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
    // both edge orientations from ONE pass over the (expensive)
    // orders⋈lineitem DISTINCT pair subtree (r21, guide §2.4): the
    // union-of-selects shape planted that subtree twice, and the
    // graph loop's deg/withDeg/nodes builds each re-evaluated it
    val edges = pairs.select(inline(array(
      struct((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
      struct((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst")))))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
    graft.graph.Bfs.run(edges, seeds, rounds = 4).select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("kind"),
      expr("node div 2").as("key"),
      col("dist"))
  }

  private val q53Oracle =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |edges AS (
       |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
       |  UNION ALL
       |  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
       |d0 AS (
       |  SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
       |  FROM customer WHERE c_nationkey = 0),
       |${graft.graph.Bfs.oracleLayeredCtes(4)}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS key, dist
       |FROM d4""".stripMargin

  // ---- q54: first-order Markov transition matrix over per-user event
  //      sequences — the "what usually happens next" model behind
  //      session simulation, anomalous-flow detection, and funnel
  //      design (q34/q49 test FIXED sequences; this estimates the whole
  //      |types|² transition structure). Deterministic sequence order
  //      is (ts, event_id) within user — event_id is unique, so LEAD is
  //      well-defined in both engines. Scale shape: ONE hash exchange
  //      on user_id feeds the lead window (users are high-cardinality,
  //      so no hot task), adjacent pairs collapse map-side into a
  //      |types|²-row count aggregate, and row-normalization is a
  //      window over that constant-size matrix — at 100 TB the only
  //      data-sized cost is the user partition, which sessionization
  //      and funnels already pay. p is one double division of exact
  //      longs: identical IEEE op, identical inputs, both engines. ----
  private def q54(spark: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(seq))
      .filter(col("to_type").isNotNull)
    val counts = pairs
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p",
      col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
  }

  private val q54Oracle =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n FROM seq
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
      |    AS p
      |FROM c""".stripMargin

  // ---- q55: bitemporal snapshot — the two-axis time-travel contract
  //      q44 (valid-time as-of) and io16 (transaction-time CDC travel)
  //      each cover half of: "what did we BELIEVE at transaction time
  //      TT about the state EFFECTIVE at valid time TV". Per key,
  //      among versions recorded by TT (tx_from ≤ TT), take the
  //      latest effective one (max valid_from ≤ TV), breaking ties by
  //      latest knowledge (max tx_from) — the standard bitemporal
  //      point-in-time read (Snodgrass; SQL:2011 system/application
  //      time). The version table derives deterministically from
  //      orders in both engines: the booked row, a LATE CORRECTION
  //      landing 15 days after the fact for every third key, and a
  //      FUTURE-DATED change (effective +30 days, recorded +1) for
  //      every fifth — so the two gated snapshots (same TV, earlier
  //      and later TT) visibly disagree exactly on late-arriving
  //      knowledge. Scale shape: the union is three pruned passes of
  //      one scan, each snapshot costs ONE key-grain exchange for its
  //      row_number window (keys are high-cardinality — no hot task),
  //      and the two snapshots union map-side. ----
  private def q55(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      to_date(col("o_orderdate")).as("od"),
      (col("o_orderkey") % 1000).as("v0"))
    val versions = o.select(col("k"), col("od").as("valid_from"),
        col("od").as("tx_from"), col("v0").as("value"))
      .unionByName(o.filter(col("k") % 3 === 0).select(col("k"),
        col("od").as("valid_from"), date_add(col("od"), 15).as("tx_from"),
        (col("v0") + 1).as("value")))
      .unionByName(o.filter(col("k") % 5 === 0).select(col("k"),
        date_add(col("od"), 30).as("valid_from"),
        date_add(col("od"), 1).as("tx_from"), (col("v0") + 2).as("value")))
    val tv = "1996-12-31"
    def snap(label: String, tt: String): DataFrame = versions
      .filter(col("valid_from") <= lit(tv) && col("tx_from") <= lit(tt))
      .withColumn("rn", row_number().over(Window.partitionBy(col("k"))
        .orderBy(col("valid_from").desc, col("tx_from").desc)))
      .filter(col("rn") === 1)
      .select(lit(label).as("snap"), col("k"), col("value"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("tx_from"), "yyyy-MM-dd").as("tx_from"))
    snap("as_known_then", tv).unionByName(snap("after_corrections", "1997-03-31"))
  }

  private val q55Oracle = {
    def snapSql(label: String, tt: String) =
      s"""SELECT '$label' AS snap, k, value,
         |  CAST(valid_from AS VARCHAR) AS valid_from,
         |  CAST(tx_from AS VARCHAR) AS tx_from
         |FROM (
         |  SELECT k, value, valid_from, tx_from,
         |    ROW_NUMBER() OVER (PARTITION BY k
         |      ORDER BY valid_from DESC, tx_from DESC) AS rn
         |  FROM versions
         |  WHERE valid_from <= DATE '1996-12-31' AND tx_from <= DATE '$tt') t
         |WHERE rn = 1""".stripMargin
    s"""WITH o AS (
       |  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS od,
       |    o_orderkey % 1000 AS v0
       |  FROM orders),
       |versions AS (
       |  SELECT k, od AS valid_from, od AS tx_from, v0 AS value FROM o
       |  UNION ALL
       |  SELECT k, od, od + 15, v0 + 1 FROM o WHERE k % 3 = 0
       |  UNION ALL
       |  SELECT k, od + 30, od + 1, v0 + 2 FROM o WHERE k % 5 = 0)
       |${snapSql("as_known_then", "1996-12-31")}
       |UNION ALL
       |${snapSql("after_corrections", "1997-03-31")}""".stripMargin
  }

  // ---- q56: interval coalescing (gaps-and-islands merge) — collapse
  //      each customer's overlapping order-fulfillment windows
  //      [orderdate, orderdate + (orderkey % 20) days] into maximal
  //      disjoint islands via [[Relational.mergeIntervals]]. q37
  //      COUNTS concurrent intervals (sweep line); this MERGES them —
  //      the availability-window / coverage-span stitcher. The naive
  //      formulation is a quadratic interval self-join; the operator
  //      is the linear sort-scan identity (running max end), one
  //      key-grain exchange feeding both windows, with the island
  //      aggregate combining map-side in the key-clustered
  //      partitions. Dates surface as ISO strings. ----
  private def q56(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.orders(spark, dir).select(
      col("o_custkey").as("custkey"),
      to_date(col("o_orderdate")).as("start_d"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 20).cast("int")).as("end_d"))
    Relational.mergeIntervals(iv, key = "custkey",
        start = "start_d", end = "end_d")
      .select(col("custkey"), col("island"),
        date_format(col("island_start"), "yyyy-MM-dd").as("island_start"),
        date_format(col("island_end"), "yyyy-MM-dd").as("island_end"),
        col("n_merged"))
  }

  // duplicates collapse BEFORE the windows (mirroring the operator):
  // on distinct intervals the (start_d, end_d) sort is a total order,
  // so the two window passes — which DuckDB may sort independently
  // when it materializes the CTEs — cannot disagree about tie order.
  // The un-deduped form broke at the 100x tier, where the blow-up
  // replicates order rows: one pass saw a tie as (a, b), the other as
  // (b, a), and the per-row (max_prev_end, indicator) pairing came
  // apart.
  private val q56Oracle =
    """WITH iv0 AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS start_d,
      |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 20 AS INTEGER) AS end_d
      |  FROM orders),
      |iv AS (
      |  SELECT custkey, start_d, end_d, COUNT(*) AS dup
      |  FROM iv0 GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT custkey, start_d, end_d, dup,
      |    MAX(end_d) OVER (PARTITION BY custkey ORDER BY start_d, end_d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_end
      |  FROM iv),
      |i AS (
      |  SELECT custkey, start_d, end_d, dup,
      |    CAST(SUM(CASE WHEN max_prev_end IS NULL OR start_d > max_prev_end
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY custkey ORDER BY start_d, end_d
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      |  FROM m)
      |SELECT custkey, island,
      |  CAST(MIN(start_d) AS VARCHAR) AS island_start,
      |  CAST(MAX(end_d) AS VARCHAR) AS island_end,
      |  CAST(SUM(dup) AS BIGINT) AS n_merged
      |FROM i GROUP BY 1, 2""".stripMargin

  // ---- q57: interval DIFFERENCE (blackout clipping) — the member of
  //      the interval algebra q37 (count) and q56 (merge) don't cover:
  //      subtract a small set of blackout windows (the first 3 days of
  //      every quarter in the order-date range — maintenance/retention
  //      windows, derived from the data so both engines agree) from
  //      each customer's q56 coverage islands, emitting the surviving
  //      sub-segments. Scale shape: islands reuse mergeIntervals' ONE
  //      key-grain exchange; the blackout frame is calendar-sized and
  //      BROADCAST to a theta join (never a shuffle), and the clip is
  //      a bounded array fold per island (state = overlapping
  //      blackouts, bounded by the calendar — the q46 walk shape).
  //      The oracle is a DIFFERENT algorithm entirely: day-grain
  //      explosion, blackout-day anti-join, and a gaps-and-islands
  //      re-merge — so the sort-scan fold is proved against the
  //      day-set definition of interval difference, not against
  //      itself. ----
  private def q57(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val iv = orders.select(
      col("o_custkey").as("custkey"),
      to_date(col("o_orderdate")).as("start_d"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 20).cast("int")).as("end_d"))
    val islands = Relational.mergeIntervals(iv, key = "custkey",
      start = "start_d", end = "end_d")
    val blackouts = orders
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      .select(explode(sequence(trunc(col("lo"), "quarter"), col("hi"),
        expr("interval 3 months"))).as("b_start"))
      .select(col("b_start"), date_add(col("b_start"), 2).as("b_end"))
    val hit = islands.join(broadcast(blackouts),
      col("b_start") <= col("island_end") &&
        col("b_end") >= col("island_start"), "left")
    val init = struct(
      array().cast("array<struct<s:date,e:date>>").as("segs"),
      col("island_start").as("cur"))
    val folded = hit
      .groupBy(col("custkey"), col("island"),
        col("island_start"), col("island_end"))
      // collect only the REAL overlaps (collect_list drops the left
      // join's null rows); sort_array orders the bounded blackout set
      // by start inside each island, which the fold requires
      .agg(sort_array(collect_list(when(col("b_start").isNotNull,
        struct(col("b_start").as("s"), col("b_end").as("e"))))).as("bl"))
      .select(col("custkey"), col("island"),
        aggregate(col("bl"), init, (st, b) => {
          val cur = st.getField("cur")
          val segs = st.getField("segs")
          struct(
            when(b.getField("s") > cur,
              concat(segs, array(struct(cur.as("s"),
                date_sub(b.getField("s"), 1).as("e")))))
              .otherwise(segs).as("segs"),
            greatest(cur, date_add(b.getField("e"), 1)).as("cur"))
        }, st =>
          when(st.getField("cur") <= col("island_end"),
            concat(st.getField("segs"), array(struct(
              st.getField("cur").as("s"), col("island_end").as("e")))))
            .otherwise(st.getField("segs"))).as("segs"))
    folded
      .select(col("custkey"), col("island"), posexplode(col("segs")))
      .select(col("custkey"), col("island"),
        (col("pos") + 1).cast("long").as("seg"),
        date_format(col("col.s"), "yyyy-MM-dd").as("seg_start"),
        date_format(col("col.e"), "yyyy-MM-dd").as("seg_end"),
        (datediff(col("col.e"), col("col.s")) + 1).cast("long")
          .as("covered_days"))
  }

  // same dedup-before-windows rule as q56 (no counts needed here —
  // the clip consumes island extents only, so DISTINCT suffices)
  private val q57Oracle =
    """WITH iv0 AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS start_d,
      |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 20 AS INTEGER) AS end_d
      |  FROM orders),
      |iv AS (SELECT DISTINCT custkey, start_d, end_d FROM iv0),
      |m AS (
      |  SELECT custkey, start_d, end_d,
      |    MAX(end_d) OVER (PARTITION BY custkey ORDER BY start_d, end_d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_end
      |  FROM iv),
      |i AS (
      |  SELECT custkey, start_d, end_d,
      |    CAST(SUM(CASE WHEN max_prev_end IS NULL OR start_d > max_prev_end
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY custkey ORDER BY start_d, end_d
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      |  FROM m),
      |isl AS (
      |  SELECT custkey, island, MIN(start_d) AS island_start,
      |    MAX(end_d) AS island_end
      |  FROM i GROUP BY 1, 2),
      |bounds AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
      |    MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
      |bl AS (SELECT CAST(unnest(generate_series(
      |    CAST(date_trunc('quarter', lo) AS DATE), hi,
      |    INTERVAL 3 MONTH)) AS DATE) AS bs FROM bounds),
      |bdays AS (SELECT CAST(unnest(generate_series(bs, bs + 2,
      |    INTERVAL 1 DAY)) AS DATE) AS d FROM bl),
      |days AS (
      |  SELECT custkey, island, CAST(unnest(generate_series(island_start,
      |    island_end, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM isl),
      |keep AS (SELECT * FROM days WHERE d NOT IN (SELECT d FROM bdays)),
      |g AS (
      |  SELECT custkey, island, d,
      |    d - CAST(ROW_NUMBER() OVER (PARTITION BY custkey, island
      |      ORDER BY d) AS INTEGER) AS grp
      |  FROM keep),
      |seg AS (
      |  SELECT custkey, island, grp, MIN(d) AS s, MAX(d) AS e,
      |    COUNT(*) AS n
      |  FROM g GROUP BY 1, 2, 3)
      |SELECT custkey, island,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY custkey, island ORDER BY s)
      |    AS BIGINT) AS seg,
      |  CAST(s AS VARCHAR) AS seg_start, CAST(e AS VARCHAR) AS seg_end,
      |  CAST(n AS BIGINT) AS covered_days
      |FROM seg""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q19_asof_join", q19, Some(q19Oracle), headline = true),
    GraftQuery("q20_salted_join", q20, Some(q20Oracle)),
    GraftQuery("q21_sessionize", q21, Some(q21Oracle), headline = true),
    GraftQuery("q22_sql_surface", q22, Some(q22Sql)),
    GraftQuery("q23_session_window", q23, Some(q23Oracle)),
    GraftQuery("q24_pivot", q24, Some(q24Oracle)),
    GraftQuery("q25_setops", q25, Some(q25Oracle)),
    GraftQuery("q26_shipping_priority", q26, Some(q26Oracle), headline = true),
    GraftQuery("q27_cube", q27, Some(q27Oracle)),
    GraftQuery("q28_moving_avg", q28, Some(q28Oracle)),
    GraftQuery("q29_range_frame", q29, Some(q29Oracle)),
    GraftQuery("q30_correlated_subquery", q30, Some(q30Sql)),
    GraftQuery("q31_grouping_sets", q31, Some(q31Oracle)),
    GraftQuery("q32_range_join", q32, Some(q32Oracle)),
    GraftQuery("q33_gap_fill", q33, Some(q33Oracle)),
    GraftQuery("q34_funnel", q34, Some(q34Oracle), headline = true),
    GraftQuery("q35_retention", q35, Some(q35Oracle)),
    GraftQuery("q36_scd2_history", q36, Some(q36Oracle)),
    GraftQuery("q37_peak_concurrency", q37, Some(q37Oracle)),
    GraftQuery("q38_quantile_buckets", q38, Some(q38Oracle)),
    GraftQuery("q39_user_growth", q39, Some(q39Oracle)),
    GraftQuery("q41_attribution", q41, Some(q41Oracle)),
    GraftQuery("q42_basket_lift", q42, Some(q42Oracle)),
    GraftQuery("q43_pagerank", q43, Some(q43Oracle)),
    GraftQuery("q44_asof_snapshot", q44, Some(q44Oracle)),
    // headline (r19): the iterative-graph family's wall-time was
    // previously invisible between evidence runs — a regression in the
    // oriented-wedge join+agg machinery would only surface at the next
    // sf0.1/10x sweep. q45 is the family's cheapest-at-sf0.1 member
    // with the most plan surface (distinct edge build, degree
    // orientation, wedge join, closing-edge probe), so it carries the
    // round-over-round tracking for q43/q47 too.
    GraftQuery("q45_triangles", q45, Some(q45Oracle), headline = true),
    GraftQuery("q46_rolling_distinct", q46, Some(q46Oracle), headline = true),
    GraftQuery("q47_kcore", q47, Some(q47Oracle)),
    GraftQuery("q48_active_time", q48, Some(q48Oracle)),
    GraftQuery("q49_session_funnel", q49, Some(q49Oracle), headline = true),
    GraftQuery("q51_asof_tolerance", q51, Some(q51Oracle)),
    GraftQuery("q52_skyline", q52, Some(q52Oracle)),
    GraftQuery("q53_bfs_reach", q53, Some(q53Oracle)),
    GraftQuery("q54_markov_transitions", q54, Some(q54Oracle), headline = true),
    GraftQuery("q55_bitemporal", q55, Some(q55Oracle)),
    GraftQuery("q56_interval_merge", q56, Some(q56Oracle), headline = true),
    GraftQuery("q57_interval_clip", q57, Some(q57Oracle)))
}
