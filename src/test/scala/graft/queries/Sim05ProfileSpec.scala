package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.similarity.Similarity

/**
 * The r4→r6 sim05 bench question (0.74 s → 1.02 s at sf0.1, the
 * steepest sf0.01→sf0.1 scaling ratio of the headline set), settled
 * the same way Sim01ProfileSpec settled sim01's: pin the intended
 * plan, split fixed overhead from data-bound work by measurement, and
 * verify the round-6 LRU caches are HITTING across repeated queries
 * (the one mechanism round 6 actually touched).
 *
 * What the measurements establish: sim05 runs 5 jobs per invocation
 * (probe assignment, layout assignment, scored join + per-pair max,
 * top-k window, count) against 2,000×64 doubles at sf0.1 —
 * stage-count-bound like sim01, with ~0.1–0.2 s/stage of scheduler
 * overhead dominating the arithmetic. The quantizer fit and the
 * persisted projection are paid ONCE per corpus (the counters below
 * prove cache hits across reps), so a bench median-of-3 never
 * includes them; the residual spread at a fixed scale is the same
 * 0.4–0.7 s overhead-jitter band Sim01ProfileSpec documents.
 */
class Sim05ProfileSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sim05 plan: broadcast-only joins, no vector shuffle, cached projection") {
    graft.util.PlanCache.releaseAll()
    val df = Registry.byName("sim05_ivf_ann").run(spark, dir)
    df.count() // materialize so AQE finalizes the executed plan
    val p = df.queryExecution.executedPlan.toString
    // the intended IVF shape: candidate cells stream past a BROADCAST
    // of the probed queries (nProbe × 10 rows); the centroid
    // assignment is a broadcast of 16 centroid rows; nothing ever
    // sort-merge-joins and the full vector set never shuffles
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vectors must never shuffle for a join:\n$p")
    // the projection feeding assignment must come from the persisted
    // cache, not a re-scan of the parquet per consumer
    assert(p.contains("InMemoryTableScan"),
      s"candidate projection must be served from the persisted cache:\n$p")
    // fully window-free: assignment is the map-only nearest_cells
    // expression and the final top-k is the bounded-heap aggregate —
    // no rank-window sort anywhere in the IVF path
    assert(p.contains("ObjectHashAggregate"),
      s"expected the bounded-heap top-k aggregate:\n$p")
    assert(!p.contains("Window"), s"the IVF path must be window-free:\n$p")
  }

  test("sim05 memoization: projection persisted once, quantizer fit once, across reps") {
    graft.util.PlanCache.releaseAll()
    val q = Registry.byName("sim05_ivf_ann")
    val builds0 = Similarity.projectionBuilds.get
    val fits0 = Similarity.quantizerFits.get
    q.run(spark, dir).count()
    val buildsAfter1 = Similarity.projectionBuilds.get - builds0
    val fitsAfter1 = Similarity.quantizerFits.get - fits0
    assert(buildsAfter1 == 1, s"first run must persist exactly one projection, got $buildsAfter1")
    assert(fitsAfter1 == 1, s"first run must fit exactly one quantizer, got $fitsAfter1")
    // a bench rep re-invokes the query from scratch — the canonicalized
    // plan key must HIT, or every rep pays a persist + k-means fit
    // (which is exactly the failure mode that would explain a +38%
    // median: it would put the fit inside samples 2 and 3 too)
    q.run(spark, dir).count()
    q.run(spark, dir).count()
    assert(Similarity.projectionBuilds.get - builds0 == 1,
      "projection re-persisted on a repeated identical query: cache key misses across reps")
    assert(Similarity.quantizerFits.get - fits0 == 1,
      "quantizer re-fit on a repeated identical query: cache key misses across reps")
    assert(Similarity.cachedProjectionCount >= 1)
  }

  test("sim05 spread at a fixed scale is overhead jitter, not data work") {
    val q = Registry.byName("sim05_ivf_ann")
    q.run(spark, dir).count() // warm codegen + caches
    val ts = Seq.fill(5) {
      val t0 = System.nanoTime()
      q.run(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    info(f"sim05 sf0.001 samples: ${ts.map(t => f"$t%.3f").mkString(", ")}")
    // 500 vectors, 16 cells, 10 queries → the arithmetic is ~1 ms; the
    // measured time is 5 jobs of fixed scheduling overhead. Median
    // under 2 s pins that the overhead hasn't grown structurally.
    val sorted = ts.sorted
    assert(sorted(2) < 2.0, s"sim05 overhead grew structurally: $ts")
  }
}
