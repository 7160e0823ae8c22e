package graft.marketpulse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Relational
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/**
 * Property tests for the merge algebra and flatten conservation
 * (SURVEY §5.3): random document version sets with overlapping dates,
 * zeros, and empty series, driven by explicit ScalaCheck seeds so every
 * run covers the same cases plus reproducible failures.
 */
class MergeLawsSpec extends AnyFunSuite with SparkSpec {

  private val symbolGen = Gen.oneOf("AAPL", "MSFT", "GOOGL")
  private val dateGen = Gen.choose(1, 28).map(d => f"2025-09-$d%02d")
  private val priceGen = Gen.oneOf("0.0", "1.5", "99.99", "100.0", "12345.67")

  private val docGen: Gen[String] = for {
    sym <- symbolGen
    nDates <- Gen.choose(0, 6)
    dates <- Gen.listOfN(nDates, dateGen).map(_.distinct)
    prices <- Gen.listOfN(dates.size, priceGen)
    refreshDay <- Gen.choose(1, 9)
  } yield Fixtures.doc(sym, s"2025-10-0$refreshDay",
    dates.zip(prices).map { case (d, p) => d -> Fixtures.bar(p, p, p, p, "100") })

  private def sampleDocs(seed: Long, n: Int): Seq[String] =
    Gen.listOfN(n, docGen).pureApply(Gen.Parameters.default, Seed(seed))

  /** Parse docs and attach distinct, order-preserving load_dates —
    * derived from the driver-side index, so no global window is needed. */
  private def versions(docs: Seq[String]): DataFrame = {
    import spark.implicits._
    Ingest.parseDocumentFrame(
      docs.zipWithIndex.toDF("json", "idx"),
      col("json"),
      to_timestamp(concat(lit("2025-10-01 00:00:"),
        lpad((col("idx") % 60).cast("string"), 2, "0"))))
  }

  /** Versions with explicit load timestamps (None = NULL load_date), in
    * the given input order. */
  private def versionsAt(docs: Seq[(String, Option[String])]): DataFrame = {
    import spark.implicits._
    Ingest.parseDocumentFrame(docs.toDF("json", "loaded"), col("json"),
      to_timestamp(col("loaded")))
  }

  /** The three-shuffle U2 that `mergeIncremental` replaced: a window
    * picks the newest version's meta, an explode and a second window
    * keep the last writer per (symbol, date), a regroup re-assembles the
    * series and a left join keeps symbols whose every series was empty.
    * Kept here as the reference the one-shuffle merge must equal. */
  private def referenceMerge(versions: DataFrame): DataFrame = {
    val newest = Relational.dedupeKeepFirst(versions, Seq("symbol"),
      Seq(col("load_date").desc))
      .select(col("symbol"),
        col("data").getField(Schemas.MetaKey).as("meta"),
        col("load_date"))
    val bars = versions
      .select(col("symbol"), col("load_date").as("v_load"),
        explode(col("data").getField(Schemas.SeriesKey)).as(Seq("date", "bar")))
    val latestBars = Relational.dedupeKeepFirst(bars,
      keys = Seq("symbol", "date"), order = Seq(col("v_load").desc))
    val series = latestBars
      .groupBy(col("symbol"))
      .agg(map_from_entries(array_sort(collect_list(struct(col("date"), col("bar")))))
        .as("series"))
    newest.join(series, Seq("symbol"), "left")
      .select(
        col("symbol"),
        struct(
          col("meta").as(Schemas.MetaKey),
          coalesce(col("series"), map().cast(Schemas.rawDocument(Schemas.SeriesKey).dataType))
            .as(Schemas.SeriesKey)).as("data"),
        col("load_date"))
  }

  /** symbol → (document JSON, load_date in the session zone) of a
    * merged frame. */
  private def bySymbol(merged: DataFrame): Map[String, (String, String)] =
    merged.select(col("symbol"), to_json(col("data")), col("load_date").cast("string")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap

  private def assertMatchesReference(v: DataFrame, clue: String): Map[String, (String, String)] = {
    val got = bySymbol(DocumentMerge.mergeIncremental(v))
    val want = bySymbol(referenceMerge(v))
    assert(got == want, clue)
    got
  }

  test("one-shuffle U2 merge equals the three-shuffle reference on the seeded version sets") {
    for (seed <- (1L to 15L) ++ (20L to 29L))
      assertMatchesReference(versions(sampleDocs(seed, if (seed < 20) 4 else 3)), s"seed=$seed")
  }

  test("one-shuffle U2 merge equals the reference: many versions, empty series, NULL load_date") {
    def d(sym: String, refreshed: String, bars: (String, String)*): String =
      Fixtures.doc(sym, refreshed, bars.map { case (day, p) => day -> Fixtures.bar(p, p, p, p, "100") })
    val empty = Fixtures.emptySeries
    val docs = Seq(
      // four AAPL versions, input order 3, 1, 4, 2 of load order; the
      // second-newest restates 10-02, the newest 10-03
      d("AAPL", "2025-10-03", "2025-10-02" -> "3.0", "2025-10-03" -> "3.0") -> Some("2025-10-01 00:00:03"),
      d("AAPL", "2025-10-01", "2025-10-01" -> "1.0", "2025-10-02" -> "1.0") -> Some("2025-10-01 00:00:01"),
      d("AAPL", "2025-10-04", "2025-10-03" -> "4.0", "2025-10-04" -> "4.0") -> Some("2025-10-01 00:00:04"),
      d("AAPL", "2025-10-02", "2025-10-01" -> "2.0") -> Some("2025-10-01 00:00:02"),
      // an empty newest version next to a dated one: dates survive,
      // meta is the empty version's
      d("MSFT", "2025-10-05") -> Some("2025-10-02 00:00:00"),
      d("MSFT", "2025-10-01", "2025-10-01" -> "5.0") -> Some("2025-10-01 00:00:00"),
      // every version empty: the symbol keeps an empty-map document
      empty -> Some("2025-10-01 00:00:00"),
      empty -> Some("2025-10-02 00:00:00"),
      // a NULL load_date ranks oldest: its bar loses on the shared date
      d("GOOGL", "2025-09-30", "2025-10-01" -> "9.0", "2025-10-02" -> "9.0") -> None,
      d("GOOGL", "2025-10-01", "2025-10-01" -> "6.0") -> Some("2025-10-01 00:00:00"))
    val merged = assertMatchesReference(versionsAt(docs).repartition(3), "fixed cases")
    val series = DocumentMerge.mergeIncremental(versionsAt(docs))
      .select(col("symbol"), col("data").getField(Schemas.SeriesKey).as("s"),
        col("data").getField(Schemas.MetaKey).getItem("3. Last Refreshed").as("refreshed"))
      .collect().map(r => r.getString(0) ->
        (r.getMap[String, org.apache.spark.sql.Row](1).map { case (k, b) => k -> b.getString(0) },
          r.getString(2))).toMap
    assert(series("AAPL") == (Map("2025-10-01" -> "2.0", "2025-10-02" -> "3.0",
      "2025-10-03" -> "4.0", "2025-10-04" -> "4.0"), "2025-10-04"))
    assert(series("MSFT") == (Map("2025-10-01" -> "5.0"), "2025-10-05"))
    assert(series("EMPTY") == (Map.empty, "2025-10-10"))
    assert(merged("EMPTY")._1.contains("\"Time Series (Daily)\":{}"), merged("EMPTY"))
    assert(series("GOOGL") == (Map("2025-10-01" -> "6.0", "2025-10-02" -> "9.0"), "2025-10-01"))
    assert(merged("GOOGL")._2 == "2025-10-01 00:00:00")
  }

  test("U2 merge plans one exchange, no window, no join, and sorts each symbol's bars once") {
    val merged = DocumentMerge.mergeIncremental(versions(sampleDocs(1L, 4)))
    val physical = merged.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(physical).length == 1, physical)
    assert(!physical.contains("Window") && !physical.contains("Join"), physical)
    // the filter's look-back reads the sorted array; it must not be
    // inlined into the lambda and re-sorted per entry
    val optimized = merged.queryExecution.optimizedPlan.toString
    assert("array_sort\\(".r.findAllIn(optimized).length == 1, optimized)
  }

  test("merge conservation: one row per symbol, union of dates preserved") {
    for (seed <- 1L to 15L) {
      val v = versions(sampleDocs(seed, 4))
      val merged = DocumentMerge.mergeIncremental(v)
      assert(merged.groupBy("symbol").count().filter(col("count") > 1).count() == 0,
        s"seed=$seed: duplicate symbols")
      val inputDates = Staging.stgAlphavantage(v)
        .select("symbol", "trading_date").distinct().count()
      val outputDates = Staging.stgAlphavantage(merged)
        .select("symbol", "trading_date").distinct().count()
      assert(inputDates == outputDates, s"seed=$seed: dates lost or invented")
    }
  }

  test("merge idempotence: merge(merge(V)) == merge(V)") {
    for (seed <- 20L to 29L) {
      val v = versions(sampleDocs(seed, 3))
      val once = DocumentMerge.mergeIncremental(v)
      val twice = DocumentMerge.mergeIncremental(once)
      val a = Staging.stgAlphavantage(once).orderBy("symbol", "trading_date").collect().toSeq
      val b = Staging.stgAlphavantage(twice).orderBy("symbol", "trading_date").collect().toSeq
      assert(a == b, s"seed=$seed")
    }
  }

  test("flatten conservation: staging rows == sum of series sizes") {
    for (seed <- 30L to 39L) {
      val raw = Ingest.parseDocuments(spark, sampleDocs(seed, 3))
      val expected = raw
        .select(size(col("data").getField(Schemas.SeriesKey)).as("n"))
        .agg(coalesce(sum(col("n")), lit(0L))).collect().head.getLong(0)
      assert(Staging.stgAlphavantage(raw).count() == expected, s"seed=$seed")
    }
  }
}
