package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Chains q45's DEGREE-ORIENTED gate oracle to the textbook a<b<c
  * formulation it replaced (r17): both SQL texts replay through Spark
  * SQL over the same lineitem views — the real sf0.001 fixture plus a
  * synthetic hub pathology — and must agree cell-for-cell. Together
  * with TrianglesSpec (engine ≡ naive local scan) this keeps the
  * cheap oracle transitively pinned to the obviously-correct
  * definition, the q53/BfsSpec playbook. */
class TriangleOracleChainSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  /** The TEXTBOOK a<b<c oracle q45 shipped with through r16 — kept as
    * the chain anchor: this spec proves the oriented gate oracle equal
    * to it on the fixture and the hub pathology, and TrianglesSpec
    * separately chains the ENGINE to a naive local scan. Retired from
    * the gate itself because its wedge join goes through raw-degree
    * hubs (47 s in DuckDB at sf0.1, unaffordable at 10x), which kept
    * q45 excluded above sf0.01. */
  private val naiveOracle =
    """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (SELECT a.p AS pa, b.p AS pb
      |          FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
      |edges AS (SELECT pa, pb FROM pairs GROUP BY 1, 2),
      |tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      |        FROM edges e1
      |        JOIN edges e2 ON e2.pa = e1.pb
      |        JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
      |nodes AS (SELECT a AS node FROM tri
      |          UNION ALL SELECT b FROM tri
      |          UNION ALL SELECT c FROM tri),
      |cnt AS (SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY 1)
      |SELECT partkey, n_tri, rank FROM (
      |  SELECT node AS partkey, n_tri,
      |    ROW_NUMBER() OVER (ORDER BY n_tri DESC, node) AS rank
      |  FROM cnt) z
      |WHERE rank <= 20""".stripMargin

  // DuckDB's `AS MATERIALIZED` CTE hint (load-bearing there — see the
  // oracle's scaladoc) is not Spark SQL; semantics are identical
  private def run(sql: String): Set[(Long, Long, Long)] =
    spark.sql(sql.replace(" AS MATERIALIZED (", " AS ("))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet

  private def chain(): Unit = {
    val naive = run(naiveOracle)
    val oriented = run(AdvancedQueries.q45Oracle)
    assert(naive.nonEmpty, "chain fixture produced no triangles")
    assert(oriented == naive,
      s"oriented oracle drifted from the textbook formulation:\n" +
        s"only-oriented: ${(oriented -- naive).take(5)}\n" +
        s"only-naive: ${(naive -- oriented).take(5)}")
  }

  test("oriented == textbook on the sf0.001 co-purchase graph") {
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
    chain()
  }

  test("oriented == textbook on a hub + clique pathology") {
    // order 0 is a 25-part mega-basket (a clique through a raw-degree
    // hub region — the shape where a<b<c and degree orientation pick
    // DIFFERENT wedge sources); orders 1..200 are deterministic 3-part
    // baskets over a 60-part catalog (overlapping triangles)
    val mega = (1L to 25L).map(p => (0L, p))
    val small = (1L to 200L).flatMap(o =>
      Seq((o, (o * 7) % 60 + 1), (o, (o * 11) % 60 + 1), (o, (o * 13) % 60 + 1)))
    (mega ++ small).toDF("l_orderkey", "l_partkey")
      .createOrReplaceTempView("lineitem")
    chain()
  }
}
