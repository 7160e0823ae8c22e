package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed triangle counting via the degree-ordered edge-iterator
 * scheme — the clique-census primitive behind cohesion and community
 * analytics.
 *
 * Every undirected edge is oriented from its (degree, id)-smaller
 * endpoint to the larger; each edge `u→v` then finds its triangles as
 * the intersection of the two out-neighborhoods, `outN(u) ∩ outN(v)`.
 * The orientation is the whole scale story: it bounds every out-degree
 * by O(√m), so the total intersection work is O(m^1.5) worst case
 * instead of Σdeg² on the raw graph, and hub nodes become edge
 * TARGETS (high in-degree), never adjacency-array owners. On a
 * power-law graph at 100 TB that is the difference between a plan
 * that finishes and one that funnels a hub's deg² wedges through a
 * single task.
 *
 * Each triangle {a, b, c} has a unique least node under the acyclic
 * total order — exactly one oriented edge enumerates it, so the count
 * needs no dedup and equals the count under any other consistent
 * orientation — q45's oracle proves that equivalence against the
 * naive a<b<c orientation cell-exact.
 */
object Triangles {

  // count memo for the broadcast-adjacency gate (same treatment as the
  // Hamming engine's auto-banding count): counts are deterministic per
  // canonicalized plan, so repeat runs over one graph pay the counting
  // job once, not once per run
  private val metaCache = new graft.util.PlanCache(maxEntries = 4)

  /** Edge count up to which the adjacency frame is broadcast: 8M
    * edges ≈ 64 MB of array payload (see [[triangleEnds]]). */
  private val BcastAdjMaxEdges = 8000000L

  /** Per-node triangle participation over an undirected edge list.
    * `edges` must carry one row per undirected edge as `(a, b)` with
    * `a < b` (canonical form — no duplicates, no self-loops). Returns
    * `(node, n_tri)` for nodes in ≥1 triangle. `persist` is applied to
    * the oriented edge frame, which the adjacency build and both probe
    * legs scan — pass a lifecycle-managed persist (a PlanCache) when
    * the edge subtree is expensive to recompute. */
  def perNodeCounts(edges: DataFrame,
                    persist: DataFrame => DataFrame = identity): DataFrame =
    perNodeCounts(edges, persist, BcastAdjMaxEdges)

  /** [[perNodeCounts]] with the adjacency broadcast cap as an argument,
    * so a spec can force either join strategy. */
  private[graph] def perNodeCounts(edges: DataFrame,
                                   persist: DataFrame => DataFrame,
                                   bcastAdjMaxEdges: Long): DataFrame = {
    // persist the EDGE subtree itself, not just the oriented frame
    // (r21, guide §2.4): the degree aggregate and the orientation join
    // both consume it, and when the subtree is expensive (q45's
    // co-purchase graph is a distinct-of-self-join aggregate) each
    // extra plan position re-runs it. The explode below also replaces
    // the old select(a)-union-select(b), which planted the subtree
    // TWICE inside the degree job alone — edges went from 3
    // evaluations per run to 1 evaluation + cached scans.
    val base = persist(edges)
    val deg = base.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // degree frame is |V|-sized — broadcast both annotation joins so
    // the edge list is never shuffled to learn its endpoint degrees
    val oriented = persist(base
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst")))
    val tri = triangleEnds(oriented, bcastAdjMaxEdges)
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** The oriented triangle enumeration: `(u, v, w)` triples with
    * `u→v`, `u→w` and `v→w` all present. `oriented` should be
    * persisted by the caller when the input subtree is expensive — it
    * feeds the adjacency build, both probe legs, and the gate count
    * below (which materializes the persist).
    *
    * Algorithm (r22, guide §2.2/§3): edge-iterator over adjacency
    * arrays instead of the wedge self-join. The out-neighborhoods are
    * collected once (`collect_list` per src — one O(m)-row exchange),
    * then every oriented edge `u→v` looks up both endpoint arrays and
    * `array_intersect(outN(u), outN(v))` emits exactly the closing
    * nodes w. Each triangle has a unique least node u under the
    * acyclic degree order, so `(u, v)` is the one edge that finds it —
    * no dedup, same rows as any wedge formulation. What this buys at
    * scale: the wedge frame — O(m^1.5) ROWS materialized and exchanged
    * by the previous shape — never exists; the only payload that moves
    * is the O(m)-long adjacency arrays, and the intersection work is
    * the same Σ outdeg² the wedge join paid, without per-wedge tuple
    * and exchange overhead. Degree orientation still bounds every
    * array by O(√m), so no collect_list bucket and no single
    * intersection can blow up through a hub. `array_intersect` is a
    * codegen built-in (hash-set probe), not a closure (guide §4).
    * Measured at sf0.1 (m = 1.196M, 1.88M triangles): full q45 cold
    * interleaved A/B vs the r22 wedge+Bloom shape — wedge 4.8–5.0 s
    * steady vs adjacency 3.4–4.3 s (~1.3×); the r21 wedge+SHJ shape it
    * replaces transitively measured 2.4–2.8 s for the closing phase
    * alone. The Bloom pre-filter (and its non-codegen probe UDF) is
    * superseded: with no wedge exchange left there is nothing for it
    * to prune.
    *
    * Join strategy: the adjacency frame is one row per wedge SOURCE
    * (≤ |V|) carrying ~8·m bytes of array payload in total. Up to
    * `bcastAdjMaxEdges` ([[BcastAdjMaxEdges]] in production: 8M
    * edges ≈ 64 MB) it is broadcast — both probe legs then stream the edge
    * list with NO exchange at all, immune to in-degree skew. Above the
    * cap the legs fall back to SHUFFLE_HASH with the adjacency side as
    * build (8·m/P bytes per task — same shuffle-partition
    * prerequisite as the dedup engines' hints: scale partitions with
    * input size). Inner equi-joins — strategy changes the plan, never
    * the rows; a dst with no out-edges closes nothing and drops out of
    * either plan identically. */
  private def triangleEnds(oriented: DataFrame,
                           bcastAdjMaxEdges: Long): DataFrame = {
    val adjRaw = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
    val m = metaCache.memoizedCount(oriented)
    val adj =
      if (m <= bcastAdjMaxEdges) broadcast(adjRaw)
      else adjRaw.hint("shuffle_hash")
    oriented
      .join(adj.select(col("src").as("u2"), col("nbrs").as("nu")),
        col("src") === col("u2"))
      .join(adj.select(col("src").as("v2"), col("nbrs").as("nv")),
        col("dst") === col("v2"))
      .select(col("src").as("u"), col("dst").as("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
  }
}
