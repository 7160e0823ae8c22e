package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.graph.PageRank.Scale

/** Chains q43's MATERIALIZED aggregated-recurrence gate oracle (r22)
  * to the naive inlined form it replaced: both CTE chains replay
  * through Spark SQL over the same orders/lineitem views — the real
  * sf0.001 fixture plus a synthetic hub pathology — and must agree
  * cell-for-cell. Together with PageRankSpec (engine ≡ closed-form
  * gadget ranks) this keeps the cheap oracle transitively pinned to
  * the textbook recurrence, the q53/BfsSpec playbook. */
class PageRankOracleChainSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // DuckDB's `AS MATERIALIZED` hint is not Spark SQL (semantics
  // identical), and DuckDB's `//` is Spark's `div` — both engines
  // truncate; all quantities here are non-negative, so floor and
  // truncate agree
  private def run(ctes: String): Set[(String, Long, Long)] = {
    val sql = s"""WITH pairs AS (
      |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |edges AS (
      |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
      |$ctes
      |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
      |  node div 2 AS key, pr
      |FROM pr10""".stripMargin
    spark.sql(sql
        .replace(" AS MATERIALIZED (", " AS (")
        .replace(" // ", " div "))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  }

  /** The pre-r22 oracle form, the chain's anchor (the pattern of
    * TriangleOracleChainSpec's naiveOracle): every CTE inlined, the
    * edge list joined twice per iteration. Unaffordable for DuckDB
    * replay past the sf0.1 tier, but obviously the textbook recurrence. */
  private def naiveIterCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.node,
         |    CAST((15 * ($Scale // nn.n)) // 100
         |      + (85 * COALESCE(inc.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes nd CROSS JOIN n nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.pr // dg.deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN pr${i - 1} p ON p.node = e.src
         |    JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) inc ON inc.node = nd.node)""".stripMargin
    }
    s"""deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT node, $Scale // nn.n AS pr FROM nodes CROSS JOIN n nn),
       |${steps.mkString(",\n")}""".stripMargin
  }

  private def chain(): Unit = {
    val naive = run(naiveIterCtes(10))
    val shipped = run(graft.graph.PageRank.oracleIterCtes(10))
    assert(naive.nonEmpty, "chain fixture produced no ranks")
    assert(shipped == naive,
      s"aggregated-recurrence oracle drifted from the naive recurrence:\n" +
        s"only-shipped: ${(shipped -- naive).take(5)}\n" +
        s"only-naive: ${(naive -- shipped).take(5)}")
  }

  test("restructured == naive on the sf0.001 purchase graph") {
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .createOrReplaceTempView("orders")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
    chain()
  }

  test("restructured == naive on a hub + ring pathology") {
    // customer 0 buys from every supplier (a rank hub with out-degree
    // 40 — the shape where a wrong contribs join would mis-divide);
    // customers 1..120 each buy from 2 suppliers in a ring overlap, so
    // supplier degrees vary 1..40 and truncating division actually
    // discards mass at many distinct degrees
    val orders = (0L to 120L).map(c => (c, c)).toDF("o_orderkey", "o_custkey")
    val hub = (1L to 40L).map(s => (0L, s))
    val ring = (1L to 120L).flatMap(c =>
      Seq((c, (c * 3) % 40 + 1), (c, (c * 5) % 40 + 1)))
    (hub ++ ring).toDF("l_orderkey", "l_suppkey")
      .createOrReplaceTempView("lineitem")
    orders.createOrReplaceTempView("orders")
    chain()
  }
}
