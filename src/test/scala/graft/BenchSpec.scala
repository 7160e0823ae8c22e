package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{GraftQuery, Registry}
import graft.util.PlanCache

/** Bench's one sampler: interleaved rounds, a failed sample recorded as
  * NaN (never as a fast run), and with `releaseBetween` a flushed plan
  * cache at the start of every sample. */
class BenchSpec extends AnyFunSuite with SparkSpec {

  test("sampler: interleaved rounds in order, failures NaN, caches flushed per sample") {
    val probe = new PlanCache(maxEntries = 4)
    // (query, frames cached in `probe` when its sample started)
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    // a real query that notes the cache, leaves one frame behind, and
    // sleeps 1 s in round 1 only, so its samples show their round
    def traced(name: String): GraftQuery = {
      val q = Registry.byName(name)
      q.copy(run = { (s, dir) =>
        if (!log.exists(_._1 == name)) Thread.sleep(1000)
        log += name -> probe.size
        probe.persisted(q.run(s, dir))
      })
    }
    val boom = GraftQuery("bench_spec_boom", { (_, _) =>
      log += "bench_spec_boom" -> probe.size
      throw new IllegalStateException("planted failure")
    }, oracle = None)
    val qs = Seq(traced("q01_pricing_summary"), traced("q15_latest_events"), boom)
    val names = qs.map(_.name)
    val out =
      try Bench.sample(spark, qs, "/root/testdata/sf0.001", rounds = 2,
        releaseBetween = true)
      finally probe.clear()

    assert(log.map(_._1) == names ++ names,
      "every query takes one sample per round, round after round")
    assert(log.forall(_._2 == 0), s"a sample started with cached frames: $log")
    assert(out.keySet == names.toSet)
    assert(out.values.forall(_.size == 2))
    for (n <- names.take(2)) {
      val Seq(r1, r2) = out(n).map(_._1)
      assert(r1 >= 1.0 && r2 < r1, s"$n samples out of round order: $r1, $r2")
    }
    val failed = out("bench_spec_boom").map(_._1)
    assert(failed.forall(_.isNaN))
    assert(Bench.jsec(Seq("bench_spec_boom" -> Bench.medianOf(failed))) ==
      """{"bench_spec_boom":-1.0000}""")
  }
}
