package graft

import graft.queries.Registry

/** Optimization-round helper: dump `.explain("formatted")` for the
  * named queries (default: the whole headline set) to one text file
  * per query, so plan claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans) are checkable
  * without running Spark. Not part of the driver contract.
  *
  * Usage: runMain graft.Plans <fixtureDir> <outDir> [query ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = args.drop(2).toSeq
    val spark = LocalSpark.session()
    java.nio.file.Files.createDirectories(outDir)
    val qs =
      if (names.nonEmpty) names.flatMap(Registry.byName.get)
      else Registry.all.filter(_.headline)
    qs.foreach { q =>
      try {
        val plan = q.run(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${q.name}.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plans] ${q.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] ${q.name} failed: $e")
      }
    }
    spark.stop()
  }
}
