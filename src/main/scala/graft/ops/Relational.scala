package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Reusable relational operators that the reference pipeline needs but
 * Spark does not ship as single calls. All are pure
 * `DataFrame => DataFrame` combinators built from Catalyst-optimizable
 * primitives — no RDDs, no driver-side loops — so they keep whole-stage
 * codegen and scale with partitioning.
 *
 * Reference semantics covered (citations into /root/reference):
 *  - keyed MERGE upsert (`dags/minio_to_snowflake.py:66-75`)
 *  - last-writer-wins incremental document merge (`dags/get_stock.py:88-97`)
 *  - FLATTEN of a JSON map column (`dbt_finance/models/staging/stg_alphavantage.sql:19-20`)
 */
object Relational {

  /** Persisted range-partitioned frames behind [[runningTotal]] /
    * [[groupedRunningTotal]]. The persist is load-bearing for
    * correctness, not just cost: per-row `spark_partition_id` must be
    * identical in the offsets pass and the cumsum pass, and
    * `repartitionByRange`'s boundary sampling is only guaranteed
    * consistent when the frame is computed once. A bare `.persist()`
    * here leaked one MEMORY_AND_DISK frame per invocation for the
    * session's lifetime (observed: a benched prefix-sum query degraded
    * every query timed after it); the LRU cache gives these frames the
    * same bounded lifecycle as the dedup/similarity projections. */
  private val rangedCache = new graft.util.PlanCache(maxEntries = 4)

  /**
   * Keep exactly one row per key group: the first row under `order`
   * (ties broken by the order columns supplied — callers must make the
   * ordering total to stay deterministic).
   *
   * This is the engine's MERGE primitive: `upsert` below reduces to it.
   * Cost at scale: one hash shuffle on `keys` + a per-partition sort —
   * no global sort, no driver involvement. For heavily skewed keys,
   * pre-aggregation via AQE skew-split applies because it's a plain
   * window over a hash partitioning.
   */
  def dedupeKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * MERGE-style upsert of `source` into `target` on `keys`: a matched
   * key takes the source row wholesale (whole-row replace, like the
   * reference's `WHEN MATCHED THEN UPDATE` of the entire document);
   * unmatched source rows are inserted; unmatched target rows survive.
   *
   * Implemented as union + keep-newest, so it is set-oriented (one
   * shuffle for any number of upserted keys) rather than the
   * reference's row-at-a-time MERGE loop.
   */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val tagged = target.withColumn("__src", lit(0))
      .unionByName(source.withColumn("__src", lit(1)))
    dedupeKeepFirst(tagged, keys, Seq(col("__src").desc)).drop("__src")
  }

  /**
   * Per-key LATEST change of a CDC feed, in feed shape (key, seq, op,
   * payload…): one hash aggregate keeping, per key, the row maximal
   * under the TOTAL `(seq, op, payload)` struct ordering — seq decides,
   * equal seqs (the at-least-once mutated-redelivery case) break on op
   * then payload content, never on partition-fold order, so any
   * partitioning and any engine agree on the pick.
   *
   * This is THE latest-change tie-break, shared by the batch
   * [[applyChangeFeed]] and the streaming CDC state
   * ([[graft.streaming.ChangeFeedStream]] runs this very call as a
   * streaming aggregation) — one definition, so stream ≡ batch on
   * duplicates by construction. Works unchanged on a streaming frame:
   * `max_by` is a declarative aggregate whose merge is associative and
   * commutative, so micro-batch boundaries cannot change the result.
   */
  def latestChanges(changes: DataFrame, key: String,
                    seq: String = "seq", op: String = "op"): DataFrame = {
    val others = changes.columns.filterNot(c => c == key || c == seq || c == op).toSeq
    def ordered = struct(col(seq) +: col(op) +: others.map(col): _*)
    changes.groupBy(col(key))
      .agg(max_by(ordered, ordered).as("__c"))
      .select(col(key) +: (Seq(seq, op) ++ others).map(f => col(s"__c.$f").as(f)): _*)
  }

  /**
   * Apply a CDC change feed (op ∈ I/U/D, ordered per key by `seq`) to a
   * base table: for each key the LATEST change wins — U replaces the
   * payload wholesale, D removes the row, I inserts a key the base does
   * not have; keys without changes pass through untouched. This is the
   * lakehouse change-data-capture merge (Debezium-style feeds) with
   * delete support, which plain [[upsert]] lacks.
   *
   * Scale shape: only the FEED ever shuffles (one hash aggregate to
   * keep the per-key latest change). The base-vs-feed join strategy is
   * ADAPTIVE by default (r16): the join carries no hint, so AQE
   * upgrades it to a broadcast at runtime whenever the aggregated
   * feed's measured size is small — the CDC premise of a feed orders
   * of magnitude smaller than the base, in which case a 100 TB base is
   * never re-partitioned to absorb a day of changes — and keeps the
   * shuffle join when it is not. The former always-broadcast default
   * was the r16 lesson: the 100x-decade fixture's feed (2/3 of a 15M-
   * row base by construction) died in the broadcast build, exactly the
   * backfill/migration regime the old doc warned callers about but the
   * operator could not protect itself from. Pass `broadcastChanges =
   * true` only to FORCE the static broadcast plan when the caller
   * guarantees a delta-sized feed and wants the guarantee in the plan,
   * not the runtime. Inserts are authoritative by op contract (an I key
   * is absent from the base — the feed producer's invariant), so no
   * base-side anti-join exists to drag the base through an exchange.
   *
   * `changes` must carry `op`/`seq` plus exactly the base's columns,
   * and the base must not itself use the `op`/`seq` names (or the
   * reserved `__k`/`__c`) — the change content travels as a struct of
   * the base's columns, so a collision would make `getField` ambiguous;
   * asserted up front. Per-key `seq` values should be unique (CDC logs
   * are; at-least-once redeliveries must be byte-identical duplicates);
   * ties are still resolved TOTALLY via [[latestChanges]], so the pick
   * is deterministic on any engine rather than partition-fold order.
   *
   * The latest-change frame feeds two branches (the survivors join and
   * the inserts union); their common shuffle canonicalizes identically,
   * so Spark's ReuseExchange plans ONE feed scan + partial aggregate —
   * pinned by PlanShapeSpec, not left to luck.
   */
  def applyChangeFeed(base: DataFrame, changes: DataFrame, key: String,
                      seq: String = "seq", op: String = "op",
                      broadcastChanges: Boolean = false): DataFrame = {
    val payload = base.columns.filter(_ != key).toSeq
    val reserved = Seq(seq, op, "__k", "__c").filter(base.columns.contains)
    require(reserved.isEmpty,
      s"applyChangeFeed: base columns collide with reserved names $reserved " +
        s"— rename them before applying the feed")
    val latest = latestChanges(changes, key, seq, op)
      .select(col(key).as("__k"), col(op).as("__op"),
        struct(payload.map(col): _*).as("__c"))
    val latestSide = if (broadcastChanges) broadcast(latest) else latest
    val joined = base.join(latestSide, col(key) === col("__k"), "left")
    val survivors = joined
      .filter(col("__op").isNull || col("__op") === "U")
      .select(col(key) +: payload.map(c =>
        when(col("__c").isNull, col(c))
          .otherwise(col("__c").getField(c)).as(c)): _*)
    val inserts = latest.filter(col("__op") === "I")
      .select(col("__k").as(key) +: payload.map(c => col("__c").getField(c).as(c)): _*)
    survivors.unionByName(inserts)
  }

  /**
   * FLATTEN a map column into (key, value) rows — inner semantics: an
   * empty/NULL map yields no rows, matching Snowflake FLATTEN's default
   * `OUTER => FALSE`.
   */
  def flattenMap(df: DataFrame, mapCol: Column, keyName: String, valueName: String,
                 keep: Seq[Column]): DataFrame =
    df.select(keep :+ explode(mapCol).as(Seq(keyName, valueName)): _*)

  /**
   * As-of join: for each left row, attach the right row with the
   * greatest order value ≤ the left row's order value, per key
   * (inclusive match — the standard financial "latest tick at or
   * before" semantics).
   *
   * Spark lacks the operator; rather than a custom SparkPlan, it
   * composes optimally from built-ins: tag and union both sides, one
   * hash shuffle + per-partition sort on (key, order), then
   * last(ignoreNulls) carries each right value forward into subsequent
   * left rows. Cost is the same single Exchange+Sort a native as-of
   * merge join would need; no broadcast, no range explosion, and skew
   * handling falls out of AQE because it's a plain window shape.
   *
   * With a `tolerance` — the feature-store read contract — a match
   * more than `tolerance` behind in the order dimension is DISCARDED
   * (values null) instead of served stale; left rows are always
   * preserved. The matched right-side order value rides the same
   * window fill as one extra column and freshness is a map-side `when`
   * over it, so the bound adds ZERO exchanges. The order columns must
   * then be numeric (the bound is `rightOrder >= leftOrder -
   * tolerance`, inclusive). Without a tolerance neither the extra
   * column nor the `when` is planned.
   *
   * (key, order) pairs must be unique on the right side for
   * deterministic results (ties take the later row in sort order).
   * A right value column must not share a name with a left column —
   * the union would merge the two and the fill would hand each left
   * row its own value — and neither side may carry the reserved
   * `__ord`/`__side`/`__rord` names; both are asserted up front.
   */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftOrder: String, rightOrder: String,
               rightValues: Seq[String],
               tolerance: Option[Long] = None): DataFrame = {
    val reserved = Seq("__ord", "__side", "__rord")
      .filter(c => left.columns.contains(c) || right.columns.contains(c))
    require(reserved.isEmpty,
      s"asOfJoin: input columns collide with reserved names $reserved " +
        s"— rename them before joining")
    val shadowed = rightValues.filter(left.columns.contains)
    require(shadowed.isEmpty,
      s"asOfJoin: right value columns $shadowed collide with left columns " +
        s"— rename them before joining")
    val rord = tolerance.map(_ => "__rord").toSeq
    val l = left.withColumn("__ord", col(leftOrder)).withColumn("__side", lit(1))
    val r = right.select(
      keys.map(col) ++ Seq(col(rightOrder).as("__ord"), lit(0).as("__side")) ++
        rord.map(col(rightOrder).as(_)) ++ rightValues.map(col): _*)
    val combined = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before left rows at equal __ord → inclusive match
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ord"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = (rord ++ rightValues).foldLeft(combined) { (df, v) =>
      df.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    }
    val bounded = tolerance.fold(filled) { tol =>
      val fresh = col("__rord").isNotNull &&
        col("__rord") >= col("__ord") - lit(tol)
      rightValues.foldLeft(filled) { (df, v) =>
        df.withColumn(v, when(fresh, col(v)))
      }
    }
    bounded.filter(col("__side") === 1).drop(Seq("__ord", "__side") ++ rord: _*)
  }

  /**
   * Type-2 history build (SCD2) from a change log: collapse each key's
   * consecutive repeats of `state` and effective-date the survivors as
   * `[valid_from, valid_to)` intervals (`valid_to` NULL = current row).
   * Both window passes declare the SAME `(key; ts, tie)` spec and the
   * filter between them preserves partitioning and ordering, so the
   * whole operator costs ONE exchange + ONE sort of the change log —
   * never two (pinned in PlanShapeSpec). `tie` must be unique per
   * `(key, ts)` for the history to be deterministic.
   */
  def scd2(df: DataFrame, key: String, state: String,
           ts: String, tie: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts, tie)
    df.withColumn("__prev", lag(col(state), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(state))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .select(col(key), col(state), col(ts).as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /**
   * Interval coalescing (gaps-and-islands MERGE): collapse each key's
   * overlapping-or-touching closed intervals [start, end] into maximal
   * disjoint islands — the stitching primitive behind availability
   * windows, coverage spans, and retention-hold ranges. q37's
   * sweep-line COUNTS concurrent intervals; this MERGES them, which
   * no existing operator expresses (sessionize merges by a fixed gap
   * on points, not by interval extents).
   *
   * The textbook linear identity: order each key's intervals by
   * (start, end); an interval starts a NEW island iff its start lies
   * strictly past the running max end of all earlier intervals; the
   * island id is the running count of such starts, and island extents
   * are a (key, island) aggregate.
   *
   * DUPLICATE intervals collapse FIRST (one (key, start, end) count
   * aggregate), for two reasons. Correctness portability: on distinct
   * intervals the (start, end) sort is a TOTAL order, so the running
   * max and the island cumsum can never disagree about tie order —
   * an engine that sorts the two window passes independently (DuckDB
   * materializing the CTEs separately; any engine with an unstable
   * parallel sort) produces a per-row (max_prev_end, indicator)
   * pairing that is only well-defined when there are no ties, and a
   * replicated fixture (the 100x blow-up repeats order rows) broke
   * exactly there. Scale: a corpus with heavy duplication (retries,
   * replays, CDC re-emits) pays the per-key sort on DISTINCT
   * intervals only — the duplicate mass rides the pre-aggregate's
   * map-side combine and re-enters as a count.
   *
   * Scale shape: STILL one key-grain exchange (the plan-shape spec
   * pins it) — the explicit key repartition runs first, and every
   * later requirement is satisfied by it: the (key, start, end) dedup
   * aggregate needs only co-location of equal triples (key ⊂ its
   * grouping keys), both windows cluster on key, and the (key,
   * island) aggregate likewise. The dedup therefore costs no new
   * shuffle; it shrinks the per-key SORT input to distinct intervals,
   * which is where duplicate mass hurt. No self-join — the naive
   * formulation is the quadratic interval-overlap join this operator
   * exists to avoid.
   */
  def mergeIntervals(df: DataFrame, key: String, start: String,
                     end: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(start, end)
    df.repartition(col(key))
      .groupBy(col(key), col(start), col(end))
      .agg(count(lit(1)).as("__dup"))
      .withColumn("__max_prev_end",
        max(col(end)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new_island",
        (col("__max_prev_end").isNull ||
          col(start) > col("__max_prev_end")).cast("long"))
      .withColumn("island", sum(col("__new_island"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(key), col("island"))
      .agg(min(col(start)).as("island_start"),
        max(col(end)).as("island_end"),
        sum(col("__dup")).as("n_merged"))
  }

  /**
   * Skew-resistant equi-join: the (skewed) left side is spread across
   * `salt` sub-keys deterministically; the right side is replicated
   * `salt` times. Semantically identical to a plain inner equi-join —
   * the point is that one hot key becomes `salt` shuffle partitions
   * instead of one straggler. Use when a key's row count ≫ the rest
   * and AQE's skew split isn't available (e.g. non-AQE sinks).
   */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, key: String,
                     salt: Int = 8): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salt)))
    val saltedRight = right.withColumn("__salt",
      explode(array((0 until salt).map(s => lit(s.toLong)): _*)))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }

  /**
   * Top-k rows per group under a total order. One shuffle on the group
   * keys; the rank filter is evaluated streaming inside the sorted
   * partition, so memory is O(partition), not O(k·groups) on the
   * driver.
   */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
                   rankName: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= k)
  }

  /**
   * Range (band) join: attach to each probe row every `ranges` row
   * whose [lo, hi) interval contains the probe's `valueCol` — an
   * interval-containment lookup (value → irregular band/tier/bucket).
   *
   * Spark plans a bare non-equi join as BroadcastNestedLoopJoin when
   * one side broadcasts and CartesianProduct when neither does —
   * O(rows × ranges), an outage at scale. Decomposing each range into
   * the fixed-width cells it overlaps turns the theta join into an
   * EQUI join: the probe side computes its single cell map-side, the
   * range side replicates once per overlapped cell (cost =
   * width/cellWidth per range, bounded for bounded bands), both sides
   * hash-join on the cell, and the exact [lo, hi) predicate prunes
   * the cell collisions afterwards. Both sides may be arbitrarily
   * large — the join shuffles on cell like any equi-join.
   *
   * Degenerate ranges (lo ≥ hi: empty by the half-open contract) are
   * dropped up front — they match nothing, and Spark's `sequence`
   * would otherwise run DESCENDING and replicate them to every cell
   * between the reversed endpoints.
   *
   * Column names must be disjoint across the two frames (standard for
   * a dim attach); `__cell` is reserved.
   */
  def rangeJoin(rows: DataFrame, valueCol: String, ranges: DataFrame,
                loCol: String, hiCol: String, cellWidth: Double): DataFrame = {
    require(cellWidth > 0, "cellWidth must be positive")
    val probe = rows.withColumn("__cell",
      floor(col(valueCol) / cellWidth).cast("long"))
    val spans = ranges.filter(col(loCol) < col(hiCol))
      .withColumn("__cell", explode(sequence(
        floor(col(loCol) / cellWidth).cast("long"),
        // hi is exclusive: a range ending exactly on a cell boundary
        // must not claim the next cell — ceil(hi/w) − 1, not floor
        (ceil(col(hiCol) / cellWidth) - 1).cast("long"))))
    probe.join(spans, Seq("__cell"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__cell")
  }

  /**
   * Snapshot diff: classify every key across two versions of a table
   * as added / removed / changed / unchanged — the change-data view a
   * lake derives between loads (what table formats surface as a
   * change feed, computed here from plain stores). One full-outer
   * hash join on the keys; the non-key payload compares as a single
   * null-safe struct equality, so wide tables diff without N
   * per-column comparisons and NULL payloads compare correctly.
   * Requires both frames to share the schema; output carries the
   * keys, both payload structs (`__va`/`__vb`), and `change`.
   */
  def snapshotDiff(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    require(a.columns.sorted.sameElements(b.columns.sorted),
      "snapshot schemas must match")
    val nonKey = a.columns.filterNot(keys.contains).toSeq
    val pa = a.select((keys.map(col) :+ struct(nonKey.map(col): _*).as("__va")): _*)
    val pb = b.select((keys.map(col) :+ struct(nonKey.map(col): _*).as("__vb")): _*)
    pa.join(pb, keys, "full_outer")
      .withColumn("change",
        when(col("__va").isNull, lit("added"))
          .when(col("__vb").isNull, lit("removed"))
          .when(col("__va") <=> col("__vb"), lit("unchanged"))
          .otherwise(lit("changed")))
  }

  /**
   * Top-k per group when groups are FEW and huge — the straggler-safe
   * variant of [[topKPerGroup]]. A window partitioned by a handful of
   * group keys funnels each whole group through one task; here every
   * input partition first keeps its own local top-k per group (the
   * window is keyed by (partition id, group), so the shuffle spreads
   * uniformly across partition ids — no hot key), and only the
   * surviving ≤ partitions × k rows per group meet in the final
   * per-group window. The global top-k per group is always a subset
   * of the union of per-partition top-ks, so this is exact, and ranks
   * are recomputed in the final pass. The ordering must be total
   * (add a key tiebreak) for deterministic results.
   */
  def topKPerGroupScalable(df: DataFrame, keys: Seq[String], order: Seq[Column],
                           k: Int, rankName: String = "rn"): DataFrame = {
    val partial = topKPerGroup(
        df.withColumn("__pid", spark_partition_id()),
        "__pid" +: keys, order, k, rankName = "__prerank")
      .drop("__prerank", "__pid")
    topKPerGroup(partial, keys, order, k, rankName)
  }

  /**
   * Distributed running total (prefix sum) of an integral column under
   * a TOTAL ordering — the scale-correct replacement for a global
   * unpartitioned window, which funnels every row through one task.
   *
   * Three-step classic: range-repartition on the order (rows land in
   * order-contiguous partitions), cumsum WITHIN each partition via an
   * ordinary partitioned window, then add each partition's starting
   * offset — computed from the P per-partition totals, the only data
   * that ever converges (P rows, broadcast back). The result is
   * partitioning-independent: the prefix sum is defined by the total
   * order alone, so range-boundary sampling can't affect values.
   *
   * The ordering must be total (add a key tiebreak) — with ties the
   * within-partition ROWS frame would be nondeterministic.
   */
  def runningTotal(df: DataFrame, order: Seq[Column], value: Column,
                   outName: String): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // consumed twice (offsets + per-row cumsum): persist the ranged
    // frame once; callers pass narrow metadata projections, so the
    // cache holds (order keys, value), not full rows of a wide table
    val ranged = rangedCache.persisted(df.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val offsets = ranged.groupBy(col("__pid"))
      .agg(sum(value).cast("long").as("__psum"))
      .withColumn("__offset",
        coalesce(sum(col("__psum")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val within = ranged.withColumn("__cum_in",
      sum(value).over(Window.partitionBy(col("__pid"))
        .orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    within.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outName, col("__offset") + col("__cum_in"))
      .drop("__pid", "__cum_in", "__offset")
  }

  /**
   * Per-group running total (prefix sum) under a per-group TOTAL
   * ordering — `SUM(value) OVER (PARTITION BY groups ORDER BY order
   * ROWS UNBOUNDED PRECEDING)`, but scale-correct when a single group
   * holds an unbounded share of the rows.
   *
   * A plain `Window.partitionBy(groups)` funnels each whole group
   * through ONE task — with a handful of languages over a 100 TB
   * corpus that is a straggler by construction. Instead the range
   * exchange spans (groups ++ order), so one group may occupy MANY
   * order-contiguous partitions; the per-(partition, group) subtotals
   * — at most P + G - 1 rows, the only data that converges — are
   * prefix-summed per group and broadcast back as offsets, exactly the
   * [[runningTotal]] recipe with the group key carried through.
   *
   * The ordering must be total within each group (add a key tiebreak).
   */
  def groupedRunningTotal(df: DataFrame, groups: Seq[String], order: Seq[Column],
                          value: Column, outName: String): DataFrame =
    groupedRunningTotals(df, groups, order, Seq(value -> outName))

  /**
   * [[groupedRunningTotal]] for SEVERAL value columns under ONE
   * ordering: all prefix sums share the single range exchange, the one
   * subtotals frame (now P + G - 1 rows × k sums), and one window pass
   * — where k separate calls would pay k exchanges. Needed whenever a
   * downstream expression combines two cumulatives of the same ordered
   * frame (e.g. the two cohort CDFs a KS statistic compares).
   */
  def groupedRunningTotals(df: DataFrame, groups: Seq[String], order: Seq[Column],
                           values: Seq[(Column, String)]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val groupCols = groups.map(col)
    val ranged = rangedCache.persisted(
      df.repartitionByRange(parts, groupCols ++ order: _*)
        .withColumn("__pid", spark_partition_id()))
    val offsetWindow = Window.partitionBy(groupCols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid") +: groupCols: _*)
      .agg(values.map { case (v, n) => sum(v).cast("long").as(s"__psum_$n") }.head,
        values.tail.map { case (v, n) => sum(v).cast("long").as(s"__psum_$n") }: _*)
      .select(col("__pid") +: groupCols ++: values.map { case (_, n) =>
        coalesce(sum(col(s"__psum_$n")).over(offsetWindow), lit(0L))
          .as(s"__offset_$n") }: _*)
    val cumWindow = Window.partitionBy(col("__pid") +: groupCols: _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = values.foldLeft(ranged) { case (acc, (v, n)) =>
      acc.withColumn(s"__cum_in_$n", sum(v).over(cumWindow).cast("long"))
    }
    values.foldLeft(within.join(broadcast(offsets), "__pid" +: groups)) {
      case (acc, (_, n)) =>
        acc.withColumn(n, col(s"__offset_$n") + col(s"__cum_in_$n"))
          .drop(s"__offset_$n", s"__cum_in_$n")
    }.drop("__pid")
  }

  /**
   * Per-group 2-D skyline (Pareto frontier, both dimensions maximized):
   * keeps every row not dominated within its group, where `q` dominates
   * `p` iff `q.x >= p.x && q.y >= p.y` with at least one strict. Rows
   * tied on BOTH dimensions dominate nothing and survive together —
   * the exact `NOT EXISTS` dominance semantics.
   *
   * Shape: the quadratic pairwise formulation is replaced by the
   * classic sort-scan identity — a point is dominated iff the best `y`
   * among strictly-greater `x` values reaches its own `y`, or a point
   * sharing its `x` strictly beats its `y`. Both bounds come from ONE
   * aggregate to distinct `(group, x)` (map-side combine, so the full
   * input never feeds the sort) and ONE window over that reduced frame
   * (each row there is a distinct `x`, so `rowsBetween(-∞, -1)` under
   * `x DESC` is exactly "all strictly greater x"); survivors are
   * recovered with a co-partitioned join back on `(group, x)`. No
   * cross join, no per-group single-task window over raw rows, no
   * driver collect — the only wide frame ever sorted is the distinct-x
   * reduction.
   *
   * `x` and `y` must be exactly-comparable (integer/decimal) columns;
   * callers scale money to cents first (see [[graft.ops.Exact]]).
   */
  def skylinePerGroup(pts: DataFrame, group: String, x: String,
      y: String): DataFrame = {
    val best = pts.groupBy(col(group), col(x)).agg(max(col(y)).as("__ymax"))
    val w = Window.partitionBy(col(group)).orderBy(col(x).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = best.withColumn("__pref", max(col("__ymax")).over(w))
    pts.join(bounds, Seq(group, x))
      .filter(!(coalesce(col("__pref") >= col(y), lit(false)) ||
        col("__ymax") > col(y)))
      .drop("__ymax", "__pref")
  }
}
