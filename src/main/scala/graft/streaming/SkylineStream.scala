package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/**
 * st29: streaming skyline maintenance — q52's Pareto frontier kept
 * current as orders arrive.
 *
 * The load-bearing algebra: a skyline is a read-time view over the
 * per-customer spend aggregate, and that aggregate (exact decimal sum
 * scaled to integer cents) is fold-order-free — so the stream
 * maintains ONLY the per-customer spend state in complete mode
 * (bounded by customers, not order volume; micro-batch arrival order
 * provably cannot change it), and the frontier is the SAME
 * `customerSkyline` view q52 runs, over the drained state joined to
 * the static dim. Skylines also fold directly —
 * skyline(A ∪ B) = skyline(skyline(A) ∪ B) — but folding frontier
 * state would carry per-nation lists through the state store for no
 * gain here; the spend counters are the smaller, simpler state and
 * the report stays shared verbatim with the batch operator. q52's
 * oracle carries verbatim.
 */
object SkylineStream {

  def skylineReplay(spark: SparkSession, dir: String): DataFrame = {
    val spend = StreamRun.drain("graft_stream_skyline",
      graft.queries.AdvancedQueries.custSpendCents(
        spark.readStream.schema(Tables.orders(spark, dir).schema)
          .parquet(EventStream.streamableDir(s"$dir/orders.parquet"))
          .select(col("o_custkey"), col("o_totalprice"))), "complete")
    graft.queries.AdvancedQueries.customerSkyline(
      Tables.customer(spark, dir), spend)
  }
}
