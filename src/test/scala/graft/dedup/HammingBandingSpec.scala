package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/**
 * Adversarial pins for the r19 adaptive grouped-band Hamming rewrite,
 * beyond the fixture exhaustiveness proofs in TextDedupSpec: the
 * banding must be lossless at EVERY (maxHamming, bands) corner the
 * group-size ladder can select — singles, pairs, deep groups, uneven
 * widths, the full-key degenerate — on a corpus seeded with pairs AT
 * the radius boundary (the construction a random corpus alone would
 * almost never produce), and the physical plan must stay the shape the
 * scale argument assumes (hash join on narrow rows over ONE persisted
 * base, never a sort-merge of the banded frame).
 */
class HammingBandingSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  /** n fingerprints: LCG-random base points plus, for every 4th id, a
    * companion at EXACTLY `d` flipped bits (spread across the word so
    * bands of any width see mixed corruption) — boundary pairs at
    * d = maxHamming and near-misses at d = maxHamming + 1 both occur
    * by construction. */
  private def corpus(n: Int, d: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { i =>
      val base = rnd.nextLong()
      val id = i.toLong * 2
      if (i % 4 == 0) {
        // flip d bits at stride-spread positions, then d+1 for a miss
        val flips = (0 until d).map(j => 1L << ((j * 13 + i) % 64))
          .foldLeft(0L)(_ | _)
        val missBit = 1L << ((d * 13 + i) % 64)
        Seq((id, base), (id + 1, base ^ flips),
          (1000000L + id, base ^ flips ^ missBit))
      } else Seq((id, base))
    }
  }

  private def brute(rows: Seq[(Long, Long)], maxHamming: Int) =
    (for {
      (ia, ha) <- rows; (ib, hb) <- rows
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= maxHamming
    } yield (ia, ib, java.lang.Long.bitCount(ha ^ hb))).toSet

  test("banding is lossless at every ladder corner, boundary pairs included") {
    // (maxHamming, bands): singles (slack 1), the r13 pairs, triples
    // and quadruples over UNEVEN widths, a wide-radius case, and the
    // maxHamming = 0 full-key degenerate
    val corners = Seq((7, 8), (6, 8), (6, 9), (6, 10), (3, 8), (12, 14), (0, 4))
    for ((m, b) <- corners) {
      val rows = corpus(120, math.max(m, 1), seed = 100L * m + b)
      val expected = brute(rows, m)
      val got = Dedup.hammingNearDups(
          rows.toDF("id", "sh"), maxHamming = m, bands = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(expected.nonEmpty || m == 0, s"($m,$b): degenerate fixture")
      assert(got == expected,
        s"($m,$b): lost ${(expected -- got).take(3)}; " +
          s"invented ${(got -- expected).take(3)}")
      graft.util.PlanCache.releaseAll()
    }
  }

  test("auto banding returns the same pairs as every explicit banding") {
    val rows = corpus(200, 6, seed = 42)
    val auto = Dedup.hammingNearDupsAuto(rows.toDF("id", "sh"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == brute(rows, 6))
    graft.util.PlanCache.releaseAll()
  }

  test("auto path's banded join is size-gated: broadcast at toy scale, hinted hash above") {
    // r22 gate on the Auto path (the production entry point — mm09,
    // tx09): the fingerprint count the auto-banding already pays for
    // decides hint-vs-AQE-broadcast. Pinned on the SPECIFIC banded
    // join node by its (band, chunk) keys.
    graft.util.PlanCache.releaseAll()
    val rows = corpus(200, 6, seed = 11).toDF("id", "sh")
    val df = Dedup.hammingNearDupsAuto(rows, maxHamming = 6)
    df.collect() // execute so AQE's FINAL plan is the witness
    val fin = df.queryExecution.executedPlan.toString
    assert(!fin.contains("SortMergeJoin [band"),
      s"banded self-join must never sort the banded frame:\n$fin")
    assert(fin.contains("BroadcastHashJoin [band"),
      s"expected the banded join broadcast at toy scale:\n$fin")
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "1024")
      graft.util.PlanCache.releaseAll()
      val hinted = Dedup.hammingNearDupsAuto(rows, maxHamming = 6)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("ShuffledHashJoin [band"),
        s"above broadcast scale the banded join must hash:\n$hinted")
      assert(!hinted.contains("SortMergeJoin [band"),
        s"banded self-join must never sort the banded frame:\n$hinted")
    } finally {
      spark.conf.set(conf, saved)
      graft.util.PlanCache.releaseAll()
    }
  }

  test("banded self-join stays a hash join over the one persisted base") {
    graft.util.PlanCache.releaseAll()
    val rows = corpus(200, 6, seed = 7)
    val plan = Dedup.hammingNearDups(rows.toDF("id", "sh"),
        maxHamming = 6, bands = 10)
      .queryExecution.executedPlan.toString
    // the scale shape: narrow banded rows meet in a shuffled HASH join
    // (sorting C(bands, r)·n rows just to join them is the cost the
    // aggregate-not-window lesson exists to avoid), and all four plan
    // positions read the persisted fingerprint base, not four rescans
    assert(!plan.contains("SortMergeJoin"),
      s"banded self-join must hash, not sort:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"fingerprint base must serve from the persist:\n$plan")
    graft.util.PlanCache.releaseAll()
  }
}
