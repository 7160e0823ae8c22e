package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Integer-exact PageRank — iterative link analysis as a sequence of
 * relational steps, in the engine's house exactness style: all rank
 * mass is carried as scaled BIGINTs and every per-step operation is
 * integer arithmetic (`div`, `*`, order-free `SUM`), so the result
 * after any fixed number of iterations is bit-identical on any
 * engine, any partitioning, any fold order — which is what lets a
 * DuckDB oracle gate it cell-exact (float PageRank cannot be gated
 * that way: its per-iteration sums are fold-order-dependent).
 *
 * Scale shape: the edge list joins per iteration on `src` and the
 * contribution aggregate shuffles on `dst` — the canonical Pregel
 * message pattern expressed as join+groupBy, which is exactly how
 * GraphX/GraphFrames lower it. The degree-annotated edge list is
 * computed ONCE, pre-partitioned by `src`, and persisted, so each of
 * the `iters` rounds reuses the cached partitioning and pays one
 * co-partitioned join plus one aggregate exchange; the rank frame is
 * localCheckpoint'ed every few rounds to keep the lineage (and the
 * optimizer's work) constant per iteration instead of growing with
 * the iteration count — the standard iterative-DataFrame discipline.
 *
 * Dangling nodes cannot occur by construction here (callers pass
 * bidirectional edge lists), so no dangling-mass redistribution term
 * is needed; `requireBidirectional` documents the contract.
 */
object PageRank {

  /** Rank mass scale: ranks are integers in units of 1e-12. */
  val Scale: Long = 1000000000000L

  /**
   * Run `iters` rounds of damped (85/100) PageRank over a directed
   * `edges` frame with BIGINT `src`/`dst` columns. Every node must
   * have at least one outgoing edge (pass bidirectional edges).
   * Returns (node, pr) with pr in [[Scale]] units.
   */
  def run(edges: DataFrame, iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    // persist the caller's edge subtree (r21, guide §2.4): the degree
    // aggregate, the degree-annotation join and the node extraction
    // below are three separate plan positions — unpersisted, each
    // re-evaluated the edge lineage (q43's orders⋈lineitem DISTINCT
    // pair join, ~1/3 of the query's warm wall per evaluation)
    val e = edges.persist()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = e.join(deg, "src")
      .repartition(col("src")).persist()
    val nodes = e.select(col("src").as("node")).distinct().persist()
    val n = nodes.count() // one metadata-sized scalar, not a data loop
    val init = Scale / n
    val base = (15L * init) / 100L
    var pr = nodes.select(col("node"), lit(init).as("pr"))
    for (i <- 1 to iters) {
      val incoming = withDeg
        .join(pr, col("src") === col("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
      pr = nodes
        .join(incoming, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("85 * coalesce(inc, 0L) div 100")).as("pr"))
      // constant-depth lineage: without this the plan for round i
      // embeds rounds 1..i-1 and analysis time grows superlinearly
      if (i % 3 == 0) pr = pr.localCheckpoint()
    }
    // materialize the final ranks before dropping the caches: the
    // returned frame otherwise carries the last 1-2 un-checkpointed
    // rounds' lineage, whose withDeg scan the consumer's action would
    // re-derive from the (by then unpersisted) edge subtree
    val out = if (iters % 3 == 0) pr else pr.localCheckpoint(true)
    e.unpersist()
    withDeg.unpersist()
    nodes.unpersist()
    out
  }

  /** The 10 unrolled iteration CTEs of the SAME integer recurrence in
    * portable SQL — the oracle side. `edgesCte` must define `edges
    * (src, dst)`; the caller wraps this in its own WITH chain (and
    * should declare `edges` AS MATERIALIZED — see below). DuckDB `//`
    * and Spark `div` agree (truncating integer division; all
    * quantities here are positive).
    *
    * r22 restructure (the q45/q47 MATERIALIZED playbook, VERDICT_r20
    * #2 / VERDICT_r21 #4): the previous form let DuckDB inline every
    * CTE, so each of the 10 iterations re-evaluated the full edge
    * lineage and joined the edge list TWICE (once against the previous
    * ranks, once against `deg`) — measured out-spilling the box past
    * 77 GB at the 100× tier's 117M directed edges. Now (a) `deg`,
    * `nodes` and every `pr$i` are MATERIALIZED (each |V|-sized except
    * deg; pipeline-breaks keep memory at edges + a few |V| frames),
    * and (b) the per-node contribution `pr // deg` is computed on the
    * |V|-row rank×degree join FIRST, so each iteration pays exactly
    * ONE edge-list-sized hash join + one group-by — the aggregated-
    * recurrence form. Same recurrence, same integer math, row-exact
    * equivalence with the old form checked at sf0.01/sf0.1 before the
    * swap. */
  def oracleIterCtes(iters: Int = 10): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST((15 * ($Scale // nn.n)) // 100
         |      + (85 * COALESCE(inc.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes nd CROSS JOIN n nn
         |  LEFT JOIN (
         |    -- DuckDB widens SUM(BIGINT) to HUGEINT; the mass fits
         |    -- BIGINT by construction (total ≤ Scale), so cast back
         |    SELECT e.dst AS node, CAST(SUM(c.contrib) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN (SELECT p.node, p.pr // dg.deg AS contrib
         |          FROM pr${i - 1} p JOIN deg dg ON dg.src = p.node) c
         |      ON c.node = e.src
         |    GROUP BY e.dst) inc ON inc.node = nd.node)""".stripMargin
    }
    s"""deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS MATERIALIZED (SELECT node, $Scale // nn.n AS pr FROM nodes CROSS JOIN n nn),
       |${steps.mkString(",\n")}""".stripMargin
  }
}
