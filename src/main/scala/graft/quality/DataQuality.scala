package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reference's declarative data-quality surface (SURVEY §5): dbt
 * schema tests compiled to violation counts
 * (`staging/schema.yml:15-27`, `marts/schema.yml:3-50`), plus the
 * corrected composite-uniqueness check the reference should have had
 * (§2.13.2 — `unique` on trading_date alone is unsound at >1 symbol).
 *
 * A suite is compiled per model, not per check: every check on one
 * model folds into a single aggregate chain that ends in one row, and
 * the models' rows are unioned into one `(check_name, tbl, col,
 * violations)` frame, so a whole suite is one Spark action. AQE still
 * submits one job per shuffle stage of that action. Fusing per model
 * matters: on the refresh suite, a union of one branch per check was
 * slower even than one eager `count()` per check, because every branch
 * re-scans its model and is planned separately.
 *
 *  - `NotNull(c)` counts rows where `c` is NULL.
 *  - `Unique(cs)` (and `uniqueDf`) counts key values of `cs` that occur
 *    more than once. A NULL key is its own group, so a repeated NULL
 *    key counts as one violation — unlike dbt's `unique` test, which
 *    skips NULLs.
 *  - `Relationship(c, parent, pc)` (dbt `relationships`,
 *    `marts/schema.yml:22-24`) counts non-NULL child keys with no
 *    matching parent key; a NULL child key is never an orphan.
 *
 * No offending row is collected to the driver; callers wanting examples
 * can re-run a check's predicate as a filter.
 */
object DataQuality {

  final case class CheckResult(check: String, table: String, column: String,
                               violations: Long) {
    def passed: Boolean = violations == 0L
  }

  private[quality] sealed trait Check {
    def name: String
    def column: String
  }
  private[quality] final case class NotNull(column: String) extends Check {
    def name: String = "not_null"
  }
  private[quality] final case class Unique(columns: Seq[String], name: String = "unique")
      extends Check {
    def column: String = columns.mkString("+")
  }
  private[quality] final case class Relationship(column: String, parent: DataFrame,
                                                 parentColumn: String) extends Check {
    def name: String = "relationships"
  }

  /** One model (table) and the checks declared on it. */
  private[quality] final case class Model(table: String, df: DataFrame, checks: Seq[Check])

  /**
   * One model's checks as one aggregate. NULL and orphan tests become
   * `count_if` flags; an orphan test is a correlated NOT EXISTS, which
   * Spark plans as an existence join, so the parent's keys need no
   * distinct. The unique keys, which must nest (e.g.
   * `symbol+trading_date` ⊃ `trading_date`), become a chain of
   * group-bys from the widest key down to the global aggregate, each
   * level summing the row count and the counts carried up from below.
   * Returns one row per check, in declaration order.
   */
  private def compile(m: Model): DataFrame = {
    val keys = m.checks.collect { case u: Unique => u.columns }.distinct
      .sortBy(k => -k.size)
    require(keys.zip(keys.drop(1)).forall { case (wide, narrow) => narrow.forall(wide.contains) },
      s"${m.table}: unique keys must nest, got ${keys.map(_.mkString("+"))}")
    val indexed = m.checks.zipWithIndex
    // an outer reference resolves against the subquery's plan first, so
    // the child key and the parent key both get names neither plan has
    val df = indexed.foldLeft(m.df) {
      case (d, (r: Relationship, i)) => d.withColumn(s"_dq_fk$i", col(r.column))
      case (d, _) => d
    }
    val flags: Seq[(String, Column)] = indexed.collect {
      case (c: NotNull, i) => s"_dq_v$i" -> col(c.column).isNull
      case (r: Relationship, i) =>
        val parentKeys = r.parent.select(col(r.parentColumn).as("_dq_pk"))
        s"_dq_v$i" -> (col(r.column).isNotNull &&
          !parentKeys.filter(col("_dq_pk") === col(s"_dq_fk$i").outer()).exists())
    }
    def dupCol(k: Seq[String]) = s"_dq_d${keys.indexOf(k)}"
    // group by the widest key (global with none), then regroup by each
    // narrower key and finally globally: every regroup sums the row
    // count, counts the previous key's duplicated groups and sums the
    // counts carried up from below
    val first = df.groupBy(keys.headOption.getOrElse(Nil).map(col): _*)
      .agg(count(lit(1)).as("_dq_n"), flags.map { case (n, f) => count_if(f).as(n) }: _*)
    val (last, _) = keys.zip(keys.drop(1) :+ Nil).foldLeft((first, flags.map(_._1))) {
      case ((level, carried), (key, next)) =>
        (level.groupBy(next.map(col): _*).agg(sum(col("_dq_n")).as("_dq_n"),
          (count_if(col("_dq_n") > 1).as(dupCol(key)) +:
            carried.map(c => sum(col(c)).as(c))): _*),
          carried :+ dupCol(key))
    }
    val rows = indexed.map { case (c, i) =>
      val v = c match {
        case u: Unique => col(dupCol(u.columns))
        case _ => col(s"_dq_v$i")
      }
      struct(lit(c.name).as("check_name"), lit(m.table).as("tbl"),
        lit(c.column).as("col"), coalesce(v, lit(0L)).as("violations"))
    }
    last.select(inline(array(rows: _*)))
  }

  /** A suite as one lazy `(check_name, tbl, col, violations)` frame:
    * one row per check, grouped by model in declaration order. */
  private[quality] def suite(models: Seq[Model]): DataFrame =
    models.map(compile).reduce(_ unionByName _)

  /** Run a suite with one `collect()`; results in declaration order. */
  private[quality] def run(models: Seq[Model]): Seq[CheckResult] = {
    val counts = suite(models).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)
    }.toMap
    for (m <- models; c <- m.checks) yield
      CheckResult(c.name, m.table, c.column, counts((c.name, m.table, c.column)))
  }

  // ---- One lazy single-row frame per check, unioned by `report`
  //      (dq01). Each branch scans its table again, and AQE submits a
  //      job per shuffle stage. dq01 keeps this shape: under a bare
  //      `count()` its not-null branches prune to zero-column scans,
  //      which a fused per-model aggregate cannot, and `suite` timed
  //      slower there. ----

  def notNullDf(df: DataFrame, table: String, column: String): DataFrame =
    df.agg(count(when(col(column).isNull, 1)).as("violations"))
      .select(lit("not_null").as("check_name"), lit(table).as("tbl"),
        lit(column).as("col"), col("violations"))

  def uniqueDf(df: DataFrame, table: String, columns: Seq[String]): DataFrame =
    df.groupBy(columns.map(col): _*).count().filter(col("count") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit("unique").as("check_name"), lit(table).as("tbl"),
        lit(columns.mkString("+")).as("col"), col("violations"))

  def foreignKeyDf(child: DataFrame, childCol: String,
                   parent: DataFrame, parentCol: String,
                   table: String): DataFrame =
    child.select(col(childCol)).filter(col(childCol).isNotNull)
      .join(parent.select(col(parentCol)), child(childCol) === parent(parentCol),
        "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("relationships").as("check_name"), lit(table).as("tbl"),
        lit(childCol).as("col"), col("violations"))

  def report(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_ unionByName _)

  /** The reference's 8 declared tests over the four models, plus the
    * corrected composite check. Faithful per-column `unique` on
    * stg.trading_date is included and EXPECTED to fail on multi-symbol
    * data — callers treat it as a characterization, not a gate. */
  def referenceSuite(stg: DataFrame, dim: DataFrame, fact: DataFrame,
                     weekly: DataFrame): Seq[CheckResult] = run(Seq(
    Model("stg_alphavantage", stg, Seq(
      NotNull("symbol"),
      NotNull("trading_date"),
      Unique(Seq("trading_date")), // unsound quirk, §2.13.2
      Unique(Seq("symbol", "trading_date"), "composite_unique"))),
    Model("dim_stock", dim, Seq(
      Unique(Seq("symbol")),
      NotNull("symbol"))),
    Model("fact_stock_prices", fact, Seq(
      NotNull("symbol"),
      Relationship("symbol", dim, "symbol"),
      NotNull("trading_date"))),
    Model("agg_weekly_prices", weekly, Seq(
      NotNull("symbol"),
      NotNull("week_start")))))
}
