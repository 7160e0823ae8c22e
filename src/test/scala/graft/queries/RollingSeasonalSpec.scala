package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Scratch

/** q46 (rolling distinct actives) and dq14 (day-of-week seasonality):
  * the interval-merge sweep must equal the naive windowed distinct on
  * adversarial coverage patterns, and the seasonal argmax must break
  * integer-residual ties the declared way (latest day). */
class RollingSeasonalSpec extends AnyFunSuite with SparkSpec {

  /** Write (user, day-index) activity as a minimal events.parquet the
    * loaders accept, under a scratch dir, and run `body` on that dir. */
  private def withEventsFixture[A](userDays: Seq[(Long, Long)])(body: String => A): A =
    Scratch.withDir("graft-q46spec-") { dir =>
      import spark.implicits._
      userDays.zipWithIndex.map { case ((u, d), i) =>
        (i.toLong, new java.sql.Timestamp(d * 86400000L + 3600000L), u,
          "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      body(dir)
    }

  private def naiveRolling(dir: String): DataFrame = {
    val ud = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("d"))
      .distinct()
    val days = ud.select(col("d").as("day_idx")).distinct()
    days.join(ud, col("d").between(col("day_idx") - 6, col("day_idx")))
      .groupBy(col("day_idx"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
      .select(
        date_format(date_add(to_date(lit("1970-01-01")),
          col("day_idx").cast("int")), "yyyy-MM-dd").as("day"),
        col("active_7d"))
  }

  private def runQ46(dir: String): DataFrame =
    Registry.byName("q46_rolling_distinct").run(spark, dir)

  test("q46: adversarial coverage — adjacent, gapped, overlapping, singleton") {
    // user 1: days 0 and 7 — windows [0,6] and [7,13] touch exactly at
    //   the boundary (d == ce + 1): must merge into one interval
    // user 2: days 0 and 8 — a 1-day hole at day 7: must NOT merge
    // user 3: overlapping chain 2,3,4: one interval [2,10]
    // user 4: singleton far away
    withEventsFixture(Seq(
      (1L, 0L), (1L, 7L), (2L, 0L), (2L, 8L),
      (3L, 2L), (3L, 3L), (3L, 4L), (4L, 40L))) { dir =>
      val got = runQ46(dir).orderBy("day").collect().map(r => (r.getString(0), r.getLong(1)))
      val want = naiveRolling(dir).orderBy("day").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.sameElements(want), s"got ${got.toSeq} want ${want.toSeq}")
      // spot-check the semantics, not just self-consistency: on day 8 the
      // actives are users 1 (day-7 event), 2 (day-8 event), 3 (days 2..4
      // all within 6) — user 3's last day is 4, 8-4=4 ≤ 6 → active
      assert(got.toMap.apply("1970-01-09") === 3L)
    }
  }

  test("q46: result equals the naive windowed distinct on the sf0.001 fixture") {
    val dir = "/root/testdata/sf0.001"
    val got = runQ46(dir).orderBy("day").collect().map(_.toSeq)
    val want = naiveRolling(dir).orderBy("day").collect().map(_.toSeq)
    assert(got.sameElements(want))
  }

  test("dq14: weekday index is epoch-anchored (0 = Thursday) and ties pick the latest day") {
    // two Mondays (2024-01-01, 2024-01-08 → dowi 4) with EQUAL volume:
    // rs ties at both days, the declared tie-break picks the LATER day
    val monday1 = 19723L // 2024-01-01
    val monday2 = 19730L
    withEventsFixture(Seq(
      (1L, monday1), (2L, monday1), (1L, monday2), (2L, monday2))) { dir =>
      val row = Registry.byName("dq14_seasonal_dow").run(spark, dir).collect()
      assert(row.length === 1)
      val r = row.head
      assert(r.getAs[Int]("dowi") === 4) // Monday: (19723 % 7) = 4 from Thursday
      assert(r.getAs[Long]("n_days") === 2L)
      assert(r.getAs[Double]("mean_n") === 2.0)
      assert(r.getAs[String]("peak_day") === "2024-01-08") // tie → latest
      assert(r.getAs[Double]("peak_resid") === 0.0)
    }
  }
}
