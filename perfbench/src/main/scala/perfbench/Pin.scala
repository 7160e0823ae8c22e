package perfbench

import graft.SparkEntry
import graft.queries.{OracleContext, Registry}

/** Input for pin_counts.py: for each `headline_warm` query, one line
  * `name<TAB>spark row count<TAB>oracle SQL as a JSON string, or null`,
  * after a first line holding the fixture identity. */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(fixtures, runDir, out) = args
    val dir = s"$fixtures/sf0.1"
    val spark = Main.session(runDir)
    OracleContext.current = Some((spark, dir))
    val oracles = SparkEntry.oracleSqlFor(QueryWorkloads.Headline.toSet)
    val lines = Expected.fixtureIdentity(dir) +: QueryWorkloads.Headline.map { name =>
      val n = Registry.byName(name).run(spark, dir).count()
      s"$name\t$n\t${oracles.get(name).map(Json.str).getOrElse("null")}"
    }
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
