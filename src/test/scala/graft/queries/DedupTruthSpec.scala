package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.Dedup

/** Construction invariants behind tx52's closed-form oracle: the
  * planted Jaccards really are 1.0 / 27/29 / 18/38 (measured with the
  * exact machinery, not asserted from the comment), the mid-band
  * recall the gate floors at 0.75 actually sits near the S-curve's
  * ~0.996 prediction at a statistically meaningful gadget count, and
  * the cap witness fires on exactly the mega-cluster's four band
  * buckets. */
class DedupTruthSpec extends AnyFunSuite with SparkSpec {

  private def planted(k: Long) = DedupTruthQueries.plantedDocs(spark, k)

  test("planted pair Jaccards match the closed forms the oracle assumes") {
    // ground truth from the EXACT all-pairs path over the planted docs
    // alone (k small enough that quadratic is free)
    val truth = Dedup.allPairsJaccard(planted(4), "doc_id", "text",
        minJaccard = 0.0)
      .filter(col("id_a") < 1300000000L) // mega pairs are all 1.0, skip
      .filter(col("jaccard") > 0.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every non-zero pair is within one family's gadget (disjoint
    // alphabets across families/gadgets)
    assert(truth.forall { case (a, b, _) => b == a + 1 && a % 2 == 0 })
    val byFamily = truth.groupBy { case (a, _, _) => a / 100000000L }
    assert(byFamily(10L).map(_._3).toSet == Set(1.0)) // rotations
    assert(byFamily(11L).map(_._3).forall(j => math.abs(j - 27.0 / 29) < 1e-12))
    assert(byFamily(12L).map(_._3).forall(j => math.abs(j - 18.0 / 38) < 1e-12))
    assert(byFamily(10L).size == 4 && byFamily(11L).size == 4 &&
      byFamily(12L).size == 4)
  }

  test("mid-band recall sits near the S-curve prediction, far above the 0.75 floor") {
    val k = 200L
    val (pairs, stats) = Dedup.nearDupPairsWithStats(
      planted(k), "doc_id", "text", minJaccard = 0.7)
    val found = pairs
      .filter(col("id_a") >= 1100000000L && col("id_a") < 1200000000L)
      .count()
    // banding theory at J = 27/29, 4 bands of 4 rows: pair-level
    // collision 1-(1-J^4)^4 ~ 0.996; the floor the oracle pins is
    // 0.75 - assert the measured number is not just above the floor
    // but in the predicted regime, so floor breaches signal real
    // regressions rather than construction drift
    assert(found >= (0.9 * k).toLong, s"mid recall collapsed: $found / $k")
    // positives are certain (identical signatures): all k found at 1.0
    val pos = pairs.filter(col("id_a") < 1100000000L)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(pos.length == k && pos.forall(_._2 == 1.0))
    // the cap fires on exactly the mega-cluster's 4 band buckets even
    // with no organic corpus present
    val st = stats.collect().head
    assert(st.getAs[Long]("capped_buckets") == 4L)
    assert(st.getAs[Long]("dropped_rows") == 4L * 1200)
    graft.util.PlanCache.releaseAll()
  }

  test("planted cap pins survive an organically-capped corpus") {
    // the r17 exposure: the gate pinned TOTAL capped_buckets = 4,
    // which held only because the organic corpus has none — plant an
    // organic-side oversized bucket (1100 identical docs, its own
    // alphabet, ids in the organic range) and assert the gated row is
    // unchanged: the floor boolean absorbs the extra capped buckets
    // and the planted pins stay cell-exact
    val k = 4L
    val organicMega = spark.range(1100L).select(
      (lit(500000L) + col("id")).as("doc_id"),
      lit((0 until 30).map(i => s"o52orgx$i").mkString(" ")).as("text"))
    val docs = planted(k).unionByName(organicMega)
    val rep = DedupTruthQueries.tx52Report(spark, docs, k).collect().head
    assert(rep.getAs[Long]("cap_floor_ok") == 1L)
    assert(rep.getAs[Long]("planted_capped_buckets") == 4L)
    assert(rep.getAs[Long]("planted_dropped_rows") == 4L * 1200)
    // the organic mega docs are capped out, not paired, and never
    // bleed into the planted output slice
    assert(rep.getAs[Long]("pos_found") == k)
    assert(rep.getAs[Long]("pos_exact") == k)
    assert(rep.getAs[Long]("neg_found") == 0L)
    assert(rep.getAs[Long]("mega_found") == 0L)
    // cross-check: the audit frame itself now holds 8 capped buckets
    // (4 mega + 4 organic), which is exactly why the total is a floor
    assert(Dedup.cappedBuckets(docs, "doc_id", "text").count() == 8L)
    graft.util.PlanCache.releaseAll()
  }
}
