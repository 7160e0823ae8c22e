package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class RelationalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("dedupeKeepFirst keeps exactly the first row per key under the order") {
    val df = Seq(("a", 1, "x"), ("a", 3, "y"), ("a", 2, "z"), ("b", 9, "w"))
      .toDF("k", "v", "payload")
    val out = Relational.dedupeKeepFirst(df, Seq("k"), Seq(col("v").desc))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(out.toSeq == Seq(("a", 3, "y"), ("b", 9, "w")))
  }

  test("upsert: source wins on matched keys, both sides' unmatched rows survive") {
    val target = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val source = Seq(("b", 20), ("c", 30)).toDF("k", "v")
    val out = Relational.upsert(target, source, Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(out.toSeq == Seq(("a", 1), ("b", 20), ("c", 30)))
  }

  test("applyChangeFeed: latest op wins — U replaces, D removes, I inserts, untouched keys pass through") {
    val base = Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v")
    val changes = Seq(
      ("a", "U", 1L, 10),  // plain update
      ("b", "U", 1L, 20), ("b", "D", 2L, 0),   // update then delete: D wins
      ("c", "D", 1L, 0), ("c", "U", 2L, 30),   // delete then update: U wins
      ("e", "I", 1L, 50)                        // insert of a new key
    ).toDF("k", "op", "seq", "v")
    val out = Relational.applyChangeFeed(base, changes, "k")
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(out.toSeq == Seq(("a", 10), ("c", 30), ("d", 4), ("e", 50)))
  }

  test("applyChangeFeed: duplicate (key, seq) resolves by change content, not fold order") {
    // at-least-once CDC can redeliver a sequence number with a mutated
    // payload; the pick must be total — (seq, op, payload) struct
    // ordering — so any engine and any partitioning agree
    val base = Seq(("a", 1)).toDF("k", "v")
    val dup = Seq(("a", "U", 1L, 10), ("a", "U", 1L, 99)).toDF("k", "op", "seq", "v")
    val expected = Seq(("a", 99)) // higher payload wins the struct compare
    (1 to 8).foreach { parts =>
      val out = Relational.applyChangeFeed(base, dup.repartition(parts), "k")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(out == expected, s"partitioning $parts changed the tie pick: $out")
    }
  }

  test("flattenMap explodes inner-style: empty maps produce no rows") {
    val df = Seq(
      ("a", Map("x" -> 1, "y" -> 2)),
      ("b", Map.empty[String, Int])).toDF("k", "m")
    val out = Relational.flattenMap(df, col("m"), "mk", "mv", Seq(col("k")))
    assert(out.count() == 2)
    assert(out.filter(col("k") === "b").count() == 0)
  }

  test("asOfJoin attaches the latest right row at or before each left row") {
    val trades = Seq(("u1", 10, 100.0), ("u1", 20, 200.0), ("u2", 5, 50.0))
      .toDF("k", "t", "trade")
    val quotes = Seq(("u1", 8, 1.0), ("u1", 15, 2.0), ("u1", 20, 3.0), ("u2", 9, 9.0))
      .toDF("k", "qt", "quote")
    val out = Relational.asOfJoin(trades, quotes, Seq("k"), "t", "qt", Seq("qt", "quote"))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("t"),
        Option(r.getAs[Any]("qt")), Option(r.getAs[Any]("quote"))))
      .sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      ("u1", 10, Some(8), Some(1.0)),   // latest quote ≤ 10
      ("u1", 20, Some(20), Some(3.0)),  // inclusive: equal time matches
      ("u2", 5, None, None)))           // no quote yet → left join nulls
  }

  test("asOfJoinWithin nulls matches older than the tolerance, inclusive at the bound") {
    val trades = Seq(("u1", 10, 100.0), ("u1", 20, 200.0), ("u2", 5, 50.0))
      .toDF("k", "t", "trade")
    val quotes = Seq(("u1", 4, 1.0), ("u1", 15, 2.0), ("u2", 9, 9.0))
      .toDF("k", "qt", "quote")
    val out = Relational.asOfJoin(trades, quotes, Seq("k"), "t", "qt",
        Seq("qt", "quote"), tolerance = Some(5L))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("t"),
        Option(r.getAs[Any]("qt")), Option(r.getAs[Any]("quote"))))
      .sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      // latest quote ≤ 10 is qt=4, distance 6 > 5 → DISCARDED, row kept
      ("u1", 10, None, None),
      // qt=15 at distance 5 — the bound is inclusive → kept
      ("u1", 20, Some(15), Some(2.0)),
      // no quote at-or-before 5 at all → plain left-join nulls
      ("u2", 5, None, None)))
    // tolerance = ∞ degenerates to the plain as-of join
    val plain = Relational.asOfJoin(trades, quotes, Seq("k"), "t", "qt",
      Seq("qt", "quote")).collect().map(_.toSeq).toSet
    val wide = Relational.asOfJoin(trades, quotes, Seq("k"), "t", "qt",
      Seq("qt", "quote"), tolerance = Some(Long.MaxValue))
      .collect().map(_.toSeq).toSet
    assert(wide == plain)
  }

  test("asOfJoin refuses a right value named like a left column and the reserved names") {
    // unionByName would merge trades.px and quotes.px into one column,
    // and last(ignoreNulls) would then hand each trade its OWN px
    // (100.0, 110.0) instead of the latest quote's (99.0, 109.0)
    val trades = Seq((1L, 10L, 100.0), (1L, 20L, 110.0)).toDF("k", "t", "px")
    val quotes = Seq((1L, 5L, 99.0), (1L, 18L, 109.0)).toDF("k", "qt", "px")
    intercept[IllegalArgumentException] {
      Relational.asOfJoin(trades, quotes, Seq("k"), "t", "qt", Seq("px"))
    }
    val bid = quotes.withColumnRenamed("px", "bid")
    assert(Relational.asOfJoin(trades, bid, Seq("k"), "t", "qt", Seq("bid"))
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap ==
      Map(10L -> 99.0, 20L -> 109.0))
    // a missing column, or two different columns under one name, fails
    // Spark's own analysis instead of binding the first match
    intercept[org.apache.spark.sql.AnalysisException] {
      Relational.asOfJoin(trades, bid, Seq("k"), "t", "missing", Seq("bid"))
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Relational.asOfJoin(trades,
        bid.select(col("k"), col("qt"), (col("qt") + 1).as("qt"), col("bid")),
        Seq("k"), "t", "qt", Seq("bid"))
    }
    for (name <- Seq("__ord", "__side", "__rord")) {
      intercept[IllegalArgumentException] {
        Relational.asOfJoin(trades.withColumn(name, lit(0)), bid,
          Seq("k"), "t", "qt", Seq("bid"))
      }
      intercept[IllegalArgumentException] {
        Relational.asOfJoin(trades, bid.withColumn(name, lit(0)),
          Seq("k"), "t", "qt", Seq("bid"), tolerance = Some(5L))
      }
    }
  }

  test("asOfJoin binds under count() when both sides filter one shared base frame") {
    // q19's shape: both inputs project the SAME events frame, so the
    // passthrough key carries one expression id on both sides; a
    // re-analysis under count() must still bind it
    val base = Seq((1L, "p", 10L, 100.0), (1L, "c", 5L, 99.0),
      (1L, "c", 8L, 101.0), (2L, "p", 15L, 50.0))
      .toDF("k", "side", "t", "v")
    val l = base.filter(col("side") === "p")
      .select(col("k"), col("t"), col("v").as("pv"))
    val r = base.filter(col("side") === "c")
      .select(col("k"), col("t").as("ct"), col("v").as("cv"))
    val j = Relational.asOfJoin(l, r, Seq("k"), "t", "ct", Seq("ct", "cv"))
      .select("k", "t", "pv", "ct", "cv")
    assert(j.count() == 2)
    assert(j.groupBy("k").count().count() == 2)
    val rows = j.collect().map(x => (x.getLong(0), x.getLong(1)) ->
      Option(x.get(3))).toMap
    assert(rows == Map((1L, 10L) -> Some(8L), (2L, 15L) -> None))
  }

  test("asOfJoin reads only the referenced right columns from parquet") {
    graft.util.Scratch.withDir("graft-asof-prune-") { dir =>
      Seq((1L, 10L, 100.0), (2L, 15L, 50.0)).toDF("k", "t", "px")
        .write.parquet(s"$dir/l")
      Seq((1L, 5L, 99.0), (2L, 30L, 55.0)).toDF("k", "qt", "bid")
        .withColumn("r_wide_unused", lit("x"))
        .withColumn("r_wide_unused2", lit(7L))
        .write.parquet(s"$dir/r")
      val out = Relational.asOfJoin(spark.read.parquet(s"$dir/l"),
        spark.read.parquet(s"$dir/r"), Seq("k"), "t", "qt", Seq("bid"))
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("ReadSchema"), s"expected parquet scans:\n$p")
      assert(!p.contains("r_wide_unused"),
        s"unreferenced right columns must not be read:\n$p")
      assert(out.count() == 2)
    }
  }

  test("saltedEquiJoin result equals the plain equi-join") {
    val left = Seq.tabulate(100)(i => ("hot", i)) ++ Seq(("cold", 1), ("cold", 2))
    val l = left.toDF("k", "v")
    val r = Seq(("hot", "H"), ("cold", "C")).toDF("k", "tag")
    val salted = Relational.saltedEquiJoin(l, r, "k", salt = 4)
      .groupBy("k", "tag").count().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    val plain = l.join(r, Seq("k"))
      .groupBy("k", "tag").count().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(salted.toSeq == plain.toSeq)
  }

  test("runningTotal equals the single-window prefix sum, at any partitioning") {
    import org.apache.spark.sql.expressions.Window
    // values with heavy ties so the key tiebreak is load-bearing
    val rows = (1 to 500).map(i => (i.toLong, (i * 7919) % 13, (i * 31) % 50 + 1))
    val df = rows.toDF("id", "grade", "weight").repartition(7) // awkward input layout
    val got = Relational.runningTotal(df,
        order = Seq(col("grade").desc, col("id")), value = col("weight"),
        outName = "cum")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val want = df.withColumn("cum",
        sum(col("weight")).over(Window.orderBy(col("grade").desc, col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got == want)
    assert(got.values.max == rows.map(_._3.toLong).sum) // full mass accounted
  }

  test("groupedRunningTotal equals the per-group window prefix sum, at any partitioning") {
    import org.apache.spark.sql.expressions.Window
    // 3 groups with heavy order ties; group sizes differ wildly so
    // groups straddle range-partition boundaries
    val rows = (1 to 600).map(i =>
      (i.toLong, s"g${i % 3}", (i * 7919) % 13, (i * 31) % 50 + 1))
    val df = rows.toDF("id", "g", "grade", "weight").repartition(7)
    val got = Relational.groupedRunningTotal(df, Seq("g"),
        order = Seq(col("grade").desc, col("id")), value = col("weight"),
        outName = "cum")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cum"))).toMap
    val want = df.withColumn("cum",
        sum(col("weight")).over(
          Window.partitionBy(col("g")).orderBy(col("grade").desc, col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cum"))).toMap
    assert(got == want)
    assert(got.values.max < rows.map(_._4.toLong).sum) // no cross-group bleed
  }

  test("groupedRunningTotals: k cumulatives under one ordering each equal their window") {
    import org.apache.spark.sql.expressions.Window
    // two value columns whose cumulatives must advance in lockstep
    // (the KS-statistic shape) — same adversarial layout as above
    val rows = (1 to 600).map(i =>
      (i.toLong, s"g${i % 3}", (i * 7919) % 13, (i * 31) % 50 + 1, (i * 17) % 9))
    val df = rows.toDF("id", "g", "grade", "wa", "wb").repartition(7)
    val got = Relational.groupedRunningTotals(df, Seq("g"),
        order = Seq(col("grade").desc, col("id")),
        values = Seq(col("wa") -> "cum_a", col("wb") -> "cum_b"))
      .collect()
      .map(r => (r.getAs[Long]("id"), (r.getAs[Long]("cum_a"), r.getAs[Long]("cum_b"))))
      .toMap
    val w = Window.partitionBy(col("g")).orderBy(col("grade").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("cum_a", sum(col("wa")).over(w))
      .withColumn("cum_b", sum(col("wb")).over(w))
      .collect()
      .map(r => (r.getAs[Long]("id"), (r.getAs[Long]("cum_a"), r.getAs[Long]("cum_b"))))
      .toMap
    assert(got == want)
  }

  test("topKPerGroupScalable equals the naive per-group window, at any partitioning") {
    // few groups, many rows per group, awkward physical layout — the
    // shape where the naive window is a straggler and the two-phase
    // partial top-k must still be exact
    val rows = (1 to 800).map(i => (i.toLong, s"g${i % 3}", (i * 7919) % 97))
    val df = rows.toDF("id", "g", "score").repartition(11)
    def tuples(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "g", "score", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
        .sortBy(t => (t._2, t._4))
    val got = tuples(Relational.topKPerGroupScalable(
      df, Seq("g"), Seq(col("score").desc, col("id")), 7))
    val want = tuples(Relational.topKPerGroup(
      df, Seq("g"), Seq(col("score").desc, col("id")), 7))
    assert(got.toSeq == want.toSeq)
    assert(got.length == 21)
  }

  test("rangeJoin equals the naive theta join, incl. boundary and overlap cases") {
    val rows = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 15.5), (5L, 20.0),
      (6L, 31.7), (7L, 44.0), (8L, 100.0)).toDF("id", "v")
    val ranges = Seq(
      ("a", 0.0, 10.0),    // ends exactly on a cell boundary (w=5)
      ("b", 10.0, 20.0),
      ("c", 12.0, 35.0),   // overlaps b — rows in both match twice
      ("d", 40.0, 40.0),   // degenerate: empty by the half-open contract
      ("e", 43.0, 44.5)).toDF("band", "lo", "hi")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "band").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(identity).toSeq
    val got = tuples(Relational.rangeJoin(rows, "v", ranges, "lo", "hi", 5.0))
    val want = tuples(rows.join(ranges,
      col("v") >= col("lo") && col("v") < col("hi")))
    assert(got == want)
    // the boundary row 10.0 lands in b only (20.0 likewise excluded
    // from b but inside c); 15.5 in b AND c; the degenerate d matches
    // nothing
    assert(got == Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (4L, "c"),
      (5L, "c"), (6L, "c"), (7L, "e")))
  }

  test("rangeJoin plans a hash/sort equi-join even with broadcast off (big-big shape)") {
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, -1)
      val rows = spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      val ranges = spark.range(10).selectExpr("CAST(id AS STRING) AS band",
        "id * 10.0 AS lo", "id * 10.0 + 12.0 AS hi")
      val p = Relational.rangeJoin(rows, "v", ranges, "lo", "hi", 8.0)
        .queryExecution.executedPlan.toString
      // the whole point: no nested-loop fallback when nothing broadcasts
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop crept in:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
      assert(p.contains("__cell"), s"expected the cell equi-join key:\n$p")
    } finally spark.conf.set(conf, saved)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged incl. NULL payloads") {
    val a = Seq((1L, Some("x")), (2L, Some("y")), (3L, None), (4L, Some("w")))
      .toDF("k", "payload")
    val b = Seq((2L, Some("y2")), (3L, None), (4L, Some("w")), (5L, Some("new")))
      .toDF("k", "payload")
    val out = Relational.snapshotDiff(a, b, Seq("k"))
      .select("k", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // 1 only in a; 2 modified; 3 NULL payload both sides (the <=>
    // struct compare must call that unchanged, not changed); 4 equal;
    // 5 only in b
    assert(out == Seq((1L, "removed"), (2L, "changed"), (3L, "unchanged"),
      (4L, "unchanged"), (5L, "added")))
  }

  test("topKPerGroup returns k rows per group in rank order with tiebreak") {
    val df = Seq(("g1", 5), ("g1", 9), ("g1", 7), ("g1", 9), ("g2", 1))
      .toDF("g", "v")
    val out = Relational.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 2)
    assert(out.filter(col("g") === "g1").count() == 2)
    assert(out.filter(col("g") === "g2").count() == 1)
    val top = out.filter(col("g") === "g1" && col("rn") === 1).collect().head
    assert(top.getAs[Int]("v") == 9)
  }

  test("scd2: repeats collapse, intervals chain, ties break on the tie column") {
    val log = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L), (1L, "b", 30L, 3L),
      (1L, "a", 40L, 4L), (2L, "x", 10L, 5L),
      (3L, "p", 10L, 7L), (3L, "q", 10L, 6L) // same ts: tie decides order
    ).toDF("k", "s", "t", "id")
    val got = Relational.scd2(log, "k", "s", "t", "id")
      .orderBy("k", "valid_from", "is_current").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "a", 10L, 30L, false),   // repeat at t=20 collapsed
      (1L, "b", 30L, 40L, false),
      (1L, "a", 40L, -1L, true),    // back to a: NEW interval, current
      (2L, "x", 10L, -1L, true),
      (3L, "q", 10L, 10L, false),   // id=6 first
      (3L, "p", 10L, -1L, true)))
  }

  test("skylinePerGroup: dominance semantics — ties on one dim lose to a strict beat, ties on both survive together") {
    val pts = Seq(
      // group g1: (5,1) and (1,5) are the frontier; (3,3) also (nothing
      // has both >=3 with a strict beat); (3,2) dominated by (3,3)
      // (x-tie, strict y); (2,2) dominated by (3,3) strictly
      ("g1", 5L, 1L, "a"), ("g1", 1L, 5L, "b"), ("g1", 3L, 3L, "c"),
      ("g1", 3L, 2L, "d"), ("g1", 2L, 2L, "e"),
      // group g2: two rows tied on BOTH dims — neither dominates, both
      // stay; (4,4) dominated by both
      ("g2", 7L, 7L, "p"), ("g2", 7L, 7L, "q"), ("g2", 4L, 4L, "r")
    ).toDF("g", "x", "y", "tag")
    val got = Relational.skylinePerGroup(pts, "g", "x", "y")
      .select("tag").collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b", "c", "p", "q"))
  }

  test("skylinePerGroup matches the quadratic NOT-EXISTS definition on random points") {
    val rnd = new scala.util.Random(42)
    val pts = (1 to 400).map { i =>
      (s"g${i % 3}", rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, i.toLong)
    }
    val df = pts.toDF("g", "x", "y", "id")
    val expected = pts.filter { case (g, x, y, _) =>
      !pts.exists { case (g2, x2, y2, _) =>
        g2 == g && x2 >= x && y2 >= y && (x2 > x || y2 > y)
      }
    }.map(_._4).toSet
    val got = Relational.skylinePerGroup(df, "g", "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("mergeIntervals: overlapping and touching merge, gaps split, per key") {
    val iv = Seq(
      // key 1: [1,3] touches [3,5] (closed-interval semantics), gap, [10,11]
      (1L, 1L, 3L), (1L, 3L, 5L), (1L, 10L, 11L),
      // key 2: containment collapses; the contained interval extends nothing
      (2L, 1L, 10L), (2L, 2L, 3L),
      // key 3: chain through transitive overlap
      (3L, 1L, 4L), (3L, 3L, 6L), (3L, 5L, 9L)
    ).toDF("k", "s", "e")
    val got = Relational.mergeIntervals(iv, "k", "s", "e")
      .select("k", "island_start", "island_end", "n_merged")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 1L, 5L, 2L), (1L, 10L, 11L, 1L),
      (2L, 1L, 10L, 2L), (3L, 1L, 9L, 3L)))
  }

  test("mergeIntervals: duplicate intervals at an island boundary count, never split") {
    // the r18 rel100 regression shape: replicated rows produce exact
    // (start, end) duplicates right after a gap. The operator collapses
    // duplicates BEFORE the windows (total sort order — no tie for any
    // engine to re-order) and re-enters them as counts; the island
    // boundary must sit between 23 and 32, with both copies of [32,46]
    // inside the second island
    val iv = Seq(
      (1L, 13L, 23L),
      (1L, 32L, 46L), (1L, 32L, 46L),
      // triplicated interval INSIDE an island, overlapping its tail
      (1L, 40L, 50L), (1L, 40L, 50L), (1L, 40L, 50L)
    ).toDF("k", "s", "e")
    val got = Relational.mergeIntervals(iv, "k", "s", "e")
      .select("island_start", "island_end", "n_merged")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((13L, 23L, 1L), (32L, 50L, 5L)))
  }

  test("mergeIntervals matches the quadratic overlap-closure on random intervals") {
    val rnd = new scala.util.Random(41)
    val iv = (1 to 300).map(_ =>
      (rnd.nextInt(3).toLong, rnd.nextInt(50).toLong, rnd.nextInt(12).toLong))
      .map { case (k, s, len) => (k, s, s + len) }
    // reference: per key, brute-force transitive closure of "overlaps
    // or touches", then min/max per component
    val expected = iv.groupBy(_._1).flatMap { case (k, rows) =>
      val n = rows.size
      val parent = Array.tabulate(n)(identity)
      def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
      for (i <- 0 until n; j <- 0 until n
           if rows(i)._2 <= rows(j)._3 && rows(j)._2 <= rows(i)._3)
        parent(find(i)) = find(j)
      rows.indices.groupBy(find).values.map { comp =>
        (k, comp.map(rows(_)._2).min, comp.map(rows(_)._3).max, comp.size.toLong)
      }
    }.toSet
    val got = Relational.mergeIntervals(iv.toDF("k", "s", "e"), "k", "s", "e")
      .select("k", "island_start", "island_end", "n_merged")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }
}
