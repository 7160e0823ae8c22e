package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * st30: streaming maintenance of q54's first-order transition matrix.
 *
 * The hard part of counting "what event follows what" on a stream is
 * ORDER under out-of-order arrival: a pair (e_i → e_j) is only correct
 * once no event can still land between them. The state function below
 * makes that exact, not heuristic: pending events buffer per user until
 * the watermark passes them; because the watermark drops anything
 * older, the finalized prefix of a user's (ts, event_id)-sorted
 * timeline can never grow a new interior event, so each adjacent pair
 * emits exactly once, on watermark passage of its LATER event. The
 * last finalized event stays in state as the anchor for the next pair.
 *
 * Scale shape: per-user state is the O(watermark-delay) pending buffer
 * plus ONE anchor row — the same bound the built-in stateful operators
 * carry — and only (from, to) pair rows leave the operator; the
 * downstream count is q54's |types|²-row aggregate. The batch oracle is
 * q54's LEAD chain restricted to the finalized region (pairs whose
 * later event precedes the cutoff), so stream ≡ batch is gated on the
 * same rows.
 */
object TransitionStream {

  final case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
                              event_id: Long, event_type: String)

  /** One buffered event: microsecond timestamp + the unique event_id
    * tie-break + its type — all the pair emission needs. */
  final case class Pend(us: Long, event_id: Long, event_type: String)

  /** `anchor` is the most recent FINALIZED event (the "from" of the
    * next emitted pair); `pending` holds events the watermark has not
    * yet passed. */
  final case class TransState(anchor: Option[Pend], pending: Seq[Pend])

  final case class TransPair(user_id: Long, from_type: String,
                             to_type: String, to_us: Long)

  private def microsOf(ts: java.sql.Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L

  /** Per-group transition: merge incoming with the buffer, finalize the
    * sorted prefix behind the watermark, emit its adjacent pairs
    * (anchored on the previous finalized event), keep the rest. The
    * finalized prefix is exact because the watermark operator has
    * already dropped anything that could precede it. */
  private def transFunc(userId: Long, rows: Iterator[TransEvent],
                        state: GroupState[TransState]): Iterator[TransPair] = {
    val prev = state.getOption.getOrElse(TransState(None, Seq.empty))
    val incoming = rows.map(e => Pend(microsOf(e.ts), e.event_id, e.event_type))
    val all = (prev.pending ++ incoming).sortBy(p => (p.us, p.event_id))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    // sorted ascending, so the done set is a PREFIX: every pair among
    // done events (and the stored anchor) is final
    val (done, still) = all.partition(_.us < wmUs)
    val chain = prev.anchor.toSeq ++ done
    val pairs = chain.sliding(2).collect { case Seq(a, b) =>
      TransPair(userId, a.event_type, b.event_type, b.us)
    }.toList
    // the anchor persists for the user's lifetime (it is the "from" of
    // a pair whose "to" may arrive arbitrarily later) — O(1) per user,
    // the stream twin of q54's per-user LEAD partition
    state.update(TransState(chain.lastOption.orElse(prev.anchor), still))
    if (still.nonEmpty) {
      // wake when the watermark passes the earliest pending event so
      // its pair emits without waiting for the group's next arrival
      val wakeMs = still.map(_.us / 1000L + 1L).min
      state.setTimeoutTimestamp(math.max(wakeMs, state.getCurrentWatermarkMs() + 1L))
    }
    pairs.iterator
  }

  /** The stateful pair emitter over a streaming (or batch) frame of
    * (user_id, ts, event_id, event_type). Append mode: each transition
    * emits exactly once, on watermark passage. */
  def transitionsWithState(events: DataFrame, delay: String = "2 hours")
      : org.apache.spark.sql.Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", delay)
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(transFunc)
  }

  /**
   * st30 replay: drain the pair stream, restrict to the FINALIZED
   * region (a finite replay's watermark freezes at
   * maxTs − delay, so like st06/st16 the gate keeps pairs whose later
   * event is at least delay + an hour of batch-boundary margin behind
   * the corpus max), then fold q54's matrix over the emitted pairs.
   */
  def transitionReplay(spark: SparkSession, dir: String): DataFrame = {
    val pairs = StreamRun.drain("graft_stream_transitions",
      transitionsWithState(EventStream.readEvents(spark, s"$dir/events.parquet")),
      "append")
    val maxUs = graft.sources.Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutoff = maxUs - (2L * 3600 + 3600) * 1000000L
    val counts = pairs
      .filter(col("to_us") <= cutoff)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p",
      col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
  }
}
