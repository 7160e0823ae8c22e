package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Scratch

/** Pins [[TransitionStream]]'s exactness claims: pairs follow EVENT
  * time (not arrival order), emission waits for watermark passage, the
  * anchor bridges batch splits, and ts ties break on event_id. */
class TransitionStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("transition pairs follow event time across out-of-order batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val name = "graft_trans_test"
    spark.catalog.dropTempView(name)
    val stream = ms.toDS().toDF("user_id", "ts", "event_id", "event_type")
    val q = TransitionStream.transitionsWithState(stream)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      // batch 1 arrives OUT of event-time order (purchase before click)
      ms.addData(Seq(
        (1L, t("2024-01-01 10:00:00"), 1L, "view"),
        (1L, t("2024-01-01 10:10:00"), 3L, "purchase")))
      q.processAllAvailable()
      // batch 2 back-fills the interior click (within the 2 h delay)
      ms.addData(Seq(
        (1L, t("2024-01-01 10:05:00"), 2L, "click"),
        (1L, t("2024-01-01 10:40:00"), 4L, "view")))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0,
        "no pair may emit before the watermark passes its later event")
      // sentinel pushes the watermark far past every buffered event
      ms.addData(Seq((99L, t("2024-01-03 00:00:00"), 99L, "view")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).filter(col("user_id") === 1L)
      .orderBy("to_us")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // event-time order view→click→purchase→view, despite arrival order
    assert(got == Seq(
      ("view", "click"), ("click", "purchase"), ("purchase", "view")))
  }

  test("anchor bridges finalized batches; ts ties break on event_id") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val name = "graft_trans_anchor_test"
    spark.catalog.dropTempView(name)
    val stream = ms.toDS().toDF("user_id", "ts", "event_id", "event_type")
    val q = TransitionStream.transitionsWithState(stream)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      // same ts, ids force (a, b) order; sentinel finalizes them
      ms.addData(Seq(
        (1L, t("2024-01-01 09:00:00"), 2L, "b"),
        (1L, t("2024-01-01 09:00:00"), 1L, "a")))
      ms.addData(Seq((98L, t("2024-01-02 00:00:00"), 98L, "view")))
      q.processAllAvailable()
      // a LATER event for user 1: its pair must anchor on the already-
      // finalized "b" from the previous watermark epoch
      ms.addData(Seq((1L, t("2024-01-02 01:00:00"), 5L, "c")))
      ms.addData(Seq((99L, t("2024-01-05 00:00:00"), 99L, "view")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).filter(col("user_id") === 1L)
      .orderBy("to_us")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("a", "b"), ("b", "c")))
  }

  test("crash replay from checkpoint: pairs re-emit at-least-once, anchor state survives") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("graft-trans-crash-") { base =>
      val out = s"$base/out"
      val checkpoint = s"$base/chk"
      val ms = MemoryStream[(Long, Timestamp, Long, String)]
      @volatile var injected = false
      // torn state: the batch that EMITS finalized pairs writes its
      // output, then dies before the offset/state commit — recovery must
      // replay it from the checkpointed state store, so emitted pairs
      // appear at-least-once and the DISTINCT pair set must still equal
      // the event-time semantics; the per-user ANCHOR must come back
      // from the state store, not from the torn batch
      def start() = TransitionStream
        .transitionsWithState(
          ms.toDS().toDF("user_id", "ts", "event_id", "event_type"))
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[TransitionStream.TransPair],
           _: Long) =>
            val rows = batch.persist()
            rows.write.mode("append").parquet(out)
            val n = rows.count()
            rows.unpersist()
            if (n > 0 && !injected) {
              injected = true
              throw new RuntimeException(
                "injected crash after write, before offset commit")
            }
        }.start()

      val q1 = start()
      // user 1's first two events buffer (watermark has not passed them)
      ms.addData(Seq(
        (1L, t("2024-01-01 10:00:00"), 1L, "view"),
        (1L, t("2024-01-01 10:10:00"), 2L, "click")))
      q1.processAllAvailable()
      // the sentinel advances the watermark past both: the batch that
      // emits (view → click) is the one that crashes
      ms.addData(Seq((99L, t("2024-01-02 00:00:00"), 98L, "view")))
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      assert(q1.exception.isDefined, "expected the injected crash to kill the query")
      assert(injected)

      val q2 = start() // restart: the uncommitted emitting batch replays
      try {
        q2.processAllAvailable()
        // a LATER user-1 event: its pair must anchor on the "click" that
        // was finalized by the CRASHED batch — i.e. on state recovered
        // from the checkpoint, not recomputed from the torn output
        ms.addData(Seq((1L, t("2024-01-02 10:00:00"), 3L, "purchase")))
        ms.addData(Seq((99L, t("2024-01-05 00:00:00"), 99L, "view")))
        q2.processAllAvailable()
      } finally q2.stop()

      val emitted = spark.read.parquet(out).filter(col("user_id") === 1L)
        .collect().map(r => (r.getAs[String]("from_type"),
          r.getAs[String]("to_type"), r.getAs[Long]("to_us"))).toSeq
      // at-least-once: the crashed batch's pair really was written twice
      // (once before the crash, once on replay)…
      assert(emitted.size > emitted.distinct.size,
        "replayed batch should re-emit the crashed batch's pairs")
      // …but the distinct set converges to the event-time pair chain,
      // with the post-crash pair anchored on the recovered state
      assert(emitted.distinct.sortBy(_._3).map(p => (p._1, p._2)) ==
        Seq(("view", "click"), ("click", "purchase")))
    }
  }
}
