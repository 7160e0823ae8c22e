package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Registry
import graft.util.PlanCache

/** Local iteration helper: time each named query once (count-forced,
  * no result materialization) on the given fixture dir. Useful when
  * sizing a new bench tier — one cold sample per query, none of the
  * interleaved-sampling machinery. Not part of the driver contract.
  *
  * Usage: runMain graft.BenchOne <fixtureDir> <query> [query ...]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
