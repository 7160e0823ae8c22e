package graft

import graft.queries.Registry
import graft.util.PlanCache

/** Local iteration helper: time each named query once (count-forced,
  * no result materialization) on the given fixture dir. Useful when
  * sizing a new bench tier — one sample per name, none of the
  * interleaved-sampling machinery. Not part of the driver contract.
  *
  * `--release` between names runs [[PlanCache.releaseAll]], so the
  * next sample starts with no cached frame or memo. That alone does
  * not make it cold: the first query in a JVM also pays JVM and Spark
  * warm-up (tx06 at the 10× tier: 15.7 s as the first query, 5.6 s
  * after `--release`, 5.95 s as the first sample after an unrelated
  * warm-up query). For a cold number, run an unrelated query first,
  * then `--release`, then the query.
  *
  * Usage: runMain graft.BenchOne <fixtureDir> <query|--release> ...
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = LocalSpark.session()
    names.foreach {
      case "--release" =>
        PlanCache.releaseAll()
        println("[benchone] --release                    (operator caches flushed)")
      case n =>
        val q = Registry.byName.getOrElse(n, sys.error(s"unknown query: $n"))
        val t0 = System.nanoTime()
        val rows = q.run(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[benchone] $n%-28s $sec%8.2f s  rows=$rows")
    }
    spark.stop()
  }
}
