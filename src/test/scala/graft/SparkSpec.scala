package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (per-suite sessions
  * would pay SparkContext startup repeatedly). */
object SparkSpec {
  lazy val session: SparkSession = LocalSpark.session()
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
}
