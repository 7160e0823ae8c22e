package graft.quality

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.quality.DataQuality._

class DataQualitySpec extends AnyFunSuite with SparkSpec {

  // ---- reference implementation: one eager count() per check, the
  //      suite's definitions before it was fused per model ----

  private def notNull(df: DataFrame, table: String, column: String): CheckResult =
    CheckResult("not_null", table, column, df.filter(col(column).isNull).count())

  private def unique(df: DataFrame, table: String, columns: Seq[String],
                     name: String = "unique"): CheckResult =
    CheckResult(name, table, columns.mkString("+"),
      df.groupBy(columns.map(col): _*).count().filter(col("count") > 1).count())

  private def foreignKey(child: DataFrame, childCol: String,
                         parent: DataFrame, parentCol: String,
                         table: String): CheckResult = {
    val orphans = child.select(col(childCol)).filter(col(childCol).isNotNull)
      .join(parent.select(col(parentCol)),
        child(childCol) === parent(parentCol), "left_anti")
    CheckResult("relationships", table, childCol, orphans.count())
  }

  private def referenceEager(stg: DataFrame, dim: DataFrame, fact: DataFrame,
                             weekly: DataFrame): Seq[CheckResult] = Seq(
    notNull(stg, "stg_alphavantage", "symbol"),
    notNull(stg, "stg_alphavantage", "trading_date"),
    unique(stg, "stg_alphavantage", Seq("trading_date")),
    unique(stg, "stg_alphavantage", Seq("symbol", "trading_date"), "composite_unique"),
    unique(dim, "dim_stock", Seq("symbol")),
    notNull(dim, "dim_stock", "symbol"),
    notNull(fact, "fact_stock_prices", "symbol"),
    foreignKey(fact, "symbol", dim, "symbol", "fact_stock_prices"),
    notNull(fact, "fact_stock_prices", "trading_date"),
    notNull(weekly, "agg_weekly_prices", "symbol"),
    notNull(weekly, "agg_weekly_prices", "week_start"))

  // ---- hand-built model frames ----

  private def d(s: String): Date = Date.valueOf(s)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val stgSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("trading_date", DateType),
    StructField("close", DoubleType)))
  private val dimSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("company_name", StringType)))
  private val factSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("trading_date", DateType),
    StructField("close", DoubleType)))
  private val weeklySchema = StructType(Seq(
    StructField("symbol", StringType), StructField("week_start", DateType),
    StructField("avg_close", DoubleType)))

  private def stg(rows: Row*) = frame(stgSchema, rows)
  private def dim(rows: Row*) = frame(dimSchema, rows)
  private def fact(rows: Row*) = frame(factSchema, rows)
  private def weekly(rows: Row*) = frame(weeklySchema, rows)

  // one planted violation of each kind
  private lazy val planted = (
    stg(
      Row("AAPL", d("2025-09-29"), 1.0),
      Row("AAPL", d("2025-09-30"), 2.0),
      Row("AAPL", d("2025-09-30"), 2.5), // duplicated (symbol, date)
      Row("MSFT", d("2025-10-01"), 3.0),
      Row("GOOG", d("2025-10-01"), 4.0), // date shared by two symbols
      Row(null, d("2025-10-02"), 5.0),   // null symbol
      Row("TSLA", null, 6.0)),           // null trading_date
    dim(
      Row("AAPL", "Apple Inc."),
      Row("AAPL", "Apple Inc."),         // duplicated dim symbol
      Row("MSFT", "Microsoft Corporation"),
      Row(null, "Unknown Company")),     // null dim symbol
    fact(
      Row("AAPL", d("2025-09-29"), 1.0),
      Row("ZZZZ", d("2025-09-29"), 2.0), // orphan: no dim row
      Row(null, d("2025-09-30"), 3.0),   // null symbol, NOT an orphan
      Row("MSFT", null, 4.0)),           // null trading_date
    weekly(
      Row("AAPL", d("2025-09-29"), 1.5),
      Row("MSFT", null, 3.0)))           // null week_start

  test("fused suite matches the eager reference on one planted violation of each kind") {
    val (s, dm, f, w) = planted
    val fused = DataQuality.referenceSuite(s, dm, f, w)
    assert(fused == referenceEager(s, dm, f, w))
    assert(fused.map(c => (c.check, c.table, c.column, c.violations)) == Seq(
      ("not_null", "stg_alphavantage", "symbol", 1L),
      ("not_null", "stg_alphavantage", "trading_date", 1L),
      ("unique", "stg_alphavantage", "trading_date", 2L),
      ("composite_unique", "stg_alphavantage", "symbol+trading_date", 1L),
      ("unique", "dim_stock", "symbol", 1L),
      ("not_null", "dim_stock", "symbol", 1L),
      ("not_null", "fact_stock_prices", "symbol", 1L),
      ("relationships", "fact_stock_prices", "symbol", 1L),
      ("not_null", "fact_stock_prices", "trading_date", 1L),
      ("not_null", "agg_weekly_prices", "symbol", 0L),
      ("not_null", "agg_weekly_prices", "week_start", 1L)))
  }

  test("all-empty models: every count is 0, never NULL") {
    val (s, dm, f, w) = (stg(), dim(), fact(), weekly())
    val rows = DataQuality.suite(Seq(
      Model("stg_alphavantage", s, Seq(NotNull("symbol"), Unique(Seq("trading_date")),
        Unique(Seq("symbol", "trading_date"), "composite_unique"))),
      Model("dim_stock", dm, Seq(Unique(Seq("symbol")))),
      Model("fact_stock_prices", f, Seq(Relationship("symbol", dm, "symbol"))),
      Model("agg_weekly_prices", w, Seq(NotNull("week_start"))))).collect()
    assert(rows.length == 6)
    assert(rows.forall(r => !r.isNullAt(3) && r.getLong(3) == 0L), rows.mkString(", "))
    val fused = DataQuality.referenceSuite(s, dm, f, w)
    assert(fused == referenceEager(s, dm, f, w))
    assert(fused.forall(_.passed))
  }

  test("unique counts a repeated NULL key as one violation (dbt's unique skips NULLs)") {
    val s = stg(Row("AAPL", null, 1.0), Row("MSFT", null, 2.0), Row("AAPL", d("2025-09-29"), 3.0))
    val dm = dim(Row(null, "a"), Row(null, "b"), Row("AAPL", "Apple Inc."))
    val fused = DataQuality.referenceSuite(s, dm, fact(), weekly())
    assert(fused == referenceEager(s, dm, fact(), weekly()))
    def v(table: String, column: String) =
      fused.find(c => c.check == "unique" && c.table == table && c.column == column).get.violations
    assert(v("stg_alphavantage", "trading_date") == 1L)
    assert(v("dim_stock", "symbol") == 1L)
  }

  test("a model with a relationship and a composite key matches the reference on random data") {
    val rnd = new scala.util.Random(7)
    def key(n: Int): Any = if (rnd.nextInt(10) == 0) null else rnd.nextInt(n).toLong
    val parent = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq.fill(60)(Row(key(80))), 3), StructType(Seq(StructField("pk", LongType))))
    val child = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq.fill(400)(Row(key(100), key(4), key(50))), 3),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType),
        StructField("fk", LongType))))
    val fused = DataQuality.run(Seq(
      Model("child", child, Seq(NotNull("b"), Unique(Seq("a", "b")),
        Relationship("fk", parent, "pk"), Unique(Seq("a")))),
      Model("parent", parent, Seq(Unique(Seq("pk")), NotNull("pk")))))
    assert(fused == Seq(
      notNull(child, "child", "b"),
      unique(child, "child", Seq("a", "b")),
      foreignKey(child, "fk", parent, "pk", "child"),
      unique(child, "child", Seq("a")),
      unique(parent, "parent", Seq("pk")),
      notNull(parent, "parent", "pk")))
    assert(fused.forall(_.violations > 0), fused.mkString(", "))
  }

  test("relationships: an orphan is found when the child is derived from the parent") {
    // the Pipeline's shape: fact is stg left-joined to dim, and every
    // frame carries a column named like the key
    val (s, _, _, _) = planted
    val dm = s.select("symbol").filter(col("symbol") =!= "GOOG").distinct()
    val f = s.join(dm.withColumn("listed", lit(true)), Seq("symbol"), "left")
    val fused = DataQuality.run(Seq(
      Model("fact_stock_prices", f, Seq(Relationship("symbol", dm, "symbol")))))
    assert(fused == Seq(foreignKey(f, "symbol", dm, "symbol", "fact_stock_prices")))
    assert(fused.head.violations == 1L) // GOOG
  }

  test("unique keys on one model must nest") {
    val e = intercept[IllegalArgumentException] {
      DataQuality.suite(Seq(Model("stg_alphavantage", stg(),
        Seq(Unique(Seq("symbol")), Unique(Seq("trading_date"))))))
    }
    assert(e.getMessage.contains("must nest"))
  }

  test("referenceSuite runs as exactly one SQL execution") {
    val (s, dm, f, w) = planted
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.analyzed.output.map(_.name))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        seen.add(qe.analyzed.output.map(_.name))
    }
    spark.listenerManager.register(listener)
    try {
      DataQuality.referenceSuite(s, dm, f, w)
      // listener delivery is asynchronous but in order: once a sentinel
      // action run after the suite is seen, every suite execution is too
      spark.range(1).toDF("dq_sentinel").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(Seq("dq_sentinel")) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val executions = seen.toArray(Array.empty[Seq[String]]).toSeq
    assert(executions.last == Seq("dq_sentinel"), executions)
    assert(executions.init == Seq(Seq("check_name", "tbl", "col", "violations")), executions)
  }
}
