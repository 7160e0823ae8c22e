package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.similarity.Similarity

/** Construction invariants behind sim23/sim24's closed-form oracle:
  * the parity-split directions are EXACTLY orthogonal after float32
  * storage, the neighbor cosines land on cos(θ_r) within float
  * tolerance (so the 4-decimal ranking can never reorder them), and
  * distinct gadgets are far apart (the separation premise the gate
  * also measures against the organic corpus at every tier). */
class SimilarityTruthSpec extends AnyFunSuite with SparkSpec {

  private val QBase = 2000000000L
  private val NbrBase = 2100000000L

  test("planted neighbor cosines are cos(0.02·r) and ranks are total") {
    val vecs = SimilarityTruthQueries.plantedVecs(spark, 16)
    val q = vecs.filter(col("id") < NbrBase)
      .select(col("id").as("query_id"), Similarity.toDoubleVec(col("vec")).as("qv"))
      .withColumn("qn", Similarity.l2Norm(col("qv")))
    val n = vecs.filter(col("id") >= NbrBase)
      .select(col("id").as("nbr_id"), Similarity.toDoubleVec(col("vec")).as("nv"))
      .withColumn("nn", Similarity.l2Norm(col("nv")))
    val rows = n.join(q,
        col("query_id") ===
          lit(QBase) + ((col("nbr_id") - NbrBase) / 5).cast("long"))
      .select(((col("nbr_id") - NbrBase) % 5).as("r"),
        Similarity.cosine(col("qv"), col("nv"), col("qn"), col("nn")).as("c"))
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(rows.length == 80)
    rows.foreach { case (r, c) =>
      val expected = math.cos(0.02 * (r + 1))
      assert(math.abs(c - expected) < 1e-5,
        s"rank $r cosine $c drifted from $expected")
    }
    // rank gaps survive the engine's 4-decimal ranking round
    val byRank = (0 until 5).map(r => math.cos(0.02 * (r + 1)))
    byRank.sliding(2).foreach { case Seq(a, b) =>
      assert(a - b > 5e-4, s"adjacent planted cosines too close: $a vs $b")
    }
  }

  test("gadget directions are mutually far apart and unit-normalized") {
    val vecs = SimilarityTruthQueries.plantedVecs(spark, 64)
    val q = vecs.filter(col("id") < NbrBase)
      .select(col("id"), Similarity.toDoubleVec(col("vec")).as("v"))
      .withColumn("nrm", Similarity.l2Norm(col("v")))
    val norms = q.select(col("nrm")).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    val cross = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(abs(Similarity.cosine(col("a.v"), col("b.v"),
        col("a.nrm"), col("b.nrm"))).as("c"))
      .agg(max(col("c"))).collect().head.getDouble(0)
    // the sim24 separation bar is 0.95 against the lowest planted
    // cosine 0.995; cross-gadget alignment must sit far under it
    assert(cross < 0.9, s"two gadget directions nearly collinear: $cross")
  }

  test("sim25's three legs sit at the measured regime on the base fixture") {
    // the floors sim25 gates (PQ 0.5, MIPS 0.9, funnel 0.8) are
    // calibrated from MEASURED overlaps — pin the measurement at
    // sf0.01 (q = 8 gadgets, 40 truth cells/leg) so a construction or
    // operator drift shows up here as an exact-count failure, not as
    // silent floor erosion: all three legs measure 40/40 on this
    // fixture (PQ's 4-byte codes can't rank INSIDE a gadget, but the
    // top-5-membership the gate checks survives the equal-code ties;
    // MIPS bucket-miss probability is ~1e-11 per neighbor; funnel
    // admission is OR over 9 prefix plane families at <= 0.1 rad)
    val row = SimilarityTruthQueries.probeRaw(spark, "/root/testdata/sf0.01")
      .collect().head
    assert(row.getAs[Long]("n_queries") == 8L)
    assert(row.getAs[Long]("n_funnel_queries") == 8L)
    assert(row.getAs[Long]("pq_hits") == 40L,
      s"pq overlap drifted: ${row.getAs[Long]("pq_hits")}/40")
    assert(row.getAs[Long]("mips_hits") == 40L,
      s"mips overlap drifted: ${row.getAs[Long]("mips_hits")}/40")
    assert(row.getAs[Long]("funnel_hits") == 40L,
      s"funnel overlap drifted: ${row.getAs[Long]("funnel_hits")}/40")
    graft.util.PlanCache.releaseAll()
  }

  test("exact top-5 over planted-only corpus is the closed-form grid") {
    val vecs = SimilarityTruthQueries.plantedVecs(spark, 12)
    val out = Similarity.bruteForceTopK(
        vecs, vecs.filter(col("id") < NbrBase), k = 5)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("cand_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = (0L until 12L).flatMap(g => (0 until 5).map(r =>
      (QBase + g, r + 1, NbrBase + g * 5 + r))).toSet
    assert(out == expected)
    graft.util.PlanCache.releaseAll()
  }
}
