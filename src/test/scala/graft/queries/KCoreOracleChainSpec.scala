package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Chains q47's restructured gate oracle (r18: MATERIALIZED e0/sym,
  * one degree d-CTE per round joined twice) to the r17 formulation it
  * replaced (two identical IN subqueries per round, plain e0/sym):
  * both FORMS replay through Spark SQL over the same lineitem views —
  * the real sf0.001 fixture plus a clique + pendant-cascade pathology
  * — and must agree cell-for-cell. Together with KCoreSpec (engine ≡
  * adversarial expectations) this keeps the cheap oracle transitively
  * pinned to the prior gated form, the q45/TriangleOracleChainSpec
  * playbook; the DuckDB row-equality check at sf0.01 + sf0.1 was done
  * once at promotion time, and this makes the equivalence a standing
  * regression instead of a commit-message claim.
  *
  * The chain runs at unroll = 3, not the shipped 16: the two forms
  * are generated per-round by the same recurrence, so form-vs-form
  * equality at ANY unroll pins the algebra (the comparison is partial
  * peel vs partial peel, not vs the true k-core), and Spark cannot
  * replay the legacy 16-round text at all — it ignores MATERIALIZED,
  * and that form's 3-references-per-round inline to 3^16 scans, the
  * exact blow-up the shipped oracle's hints exist to stop.
  *
  * Scope note: this spec pins only the ALGEBRAIC half of the r18
  * restructure. The performance half — DuckDB honoring `AS
  * MATERIALIZED` so e0/sym scan once instead of inlining 4× — has no
  * standing regression here and is re-verified only by the timed
  * sf0.1/10× evidence sweeps; a q47 sweep-time blowup with this spec
  * still green is triaged as DuckDB CTE-hint-semantics drift first. */
class KCoreOracleChainSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val ChainUnroll = 3

  // DuckDB's `AS MATERIALIZED` CTE hint (load-bearing there — see the
  // oracle's scaladoc) is not Spark SQL; semantics are identical
  private def run(sql: String): Set[(Int, Long, Long)] =
    spark.sql(sql.replace(" AS MATERIALIZED (", " AS ("))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getAs[Number](2).longValue))
      .toSet

  /** The r17-era peel formulation, the chain's reference (form-vs-form
    * equality is per-round, so it holds at ANY round count, and Spark
    * cannot replay the 16-round text: it ignores MATERIALIZED, and this
    * form's 3-references-per-round inline to 3^16 scans — the exact
    * blow-up the shipped oracle's hints exist to stop): each round
    * filters with two identical IN subqueries against the previous
    * round, and e0/sym are plain CTEs. Correct but 2x the per-round
    * work and, in DuckDB, 4x the support self-join when inlined —
    * see `AdvancedQueries.q47Oracle` for the shipped form. */
  private def legacyOracleAt(unroll: Int): String = {
    def peel(k: Int): String = {
      val base = s"e${k}_0 AS MATERIALIZED (SELECT u, v FROM sym)"
      val rounds = (1 to unroll).map { r =>
        val p = s"e${k}_${r - 1}"
        s"""e${k}_$r AS MATERIALIZED (
           |  SELECT s.u, s.v FROM $p s
           |  WHERE s.u IN (SELECT u FROM $p GROUP BY u HAVING COUNT(*) >= $k)
           |    AND s.v IN (SELECT u FROM $p GROUP BY u HAVING COUNT(*) >= $k))""".stripMargin
      }
      (base +: rounds).mkString(",\n")
    }
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS (SELECT a.p AS pa, b.p AS pb
       |       FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |sym AS (SELECT pa AS u, pb AS v FROM e0
       |        UNION ALL SELECT pb, pa FROM e0),
       |${peel(2)},
       |${peel(3)}
       |SELECT CAST(2 AS INT) AS k, u AS partkey, COUNT(*) AS core_degree
       |FROM e2_$unroll GROUP BY 2
       |UNION ALL
       |SELECT CAST(3 AS INT), u, COUNT(*) FROM e3_$unroll GROUP BY 2""".stripMargin
  }

  private def chain(): Unit = {
    val legacy = run(legacyOracleAt(ChainUnroll))
    val current = run(AdvancedQueries.q47OracleAt(ChainUnroll))
    assert(legacy.nonEmpty, "chain fixture peeled to an empty partial core")
    assert(current == legacy,
      s"restructured oracle drifted from the r17 formulation:\n" +
        s"only-current: ${(current -- legacy).take(5)}\n" +
        s"only-legacy: ${(legacy -- current).take(5)}")
  }

  test("restructured == legacy on the sf0.001 co-purchase graph") {
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
    chain()
  }

  test("restructured == legacy on a clique + pendant-cascade pathology") {
    // 20 distinct orders each contain the same 5-part clique core
    // (every core pair at support 20), and each chain link (100+o,
    // 101+o) for o in 0..9 appears in exactly 2 orders — an 11-node
    // pendant path at support 2 that the k=2 peel strips end-inward
    // round by round, the multi-round cascade shape where a per-round
    // bookkeeping bug in either formulation would diverge. At
    // unroll=3 the path is mid-cascade: both forms must agree on the
    // PARTIAL peel, which is a stronger pin than the fixpoint alone.
    val core = for (o <- 0L until 20L; p <- 1L to 5L) yield (o, p)
    val chainEdges = for (o <- 0L until 10L; rep <- 0 to 1;
                          p <- Seq(100L + o, 101L + o))
      yield (1000L + o * 2 + rep, p)
    (core ++ chainEdges).toDF("l_orderkey", "l_partkey")
      .createOrReplaceTempView("lineitem")
    chain()
  }
}
