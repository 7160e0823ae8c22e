package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Plan-shape assertions: the scale properties the engine claims
  * (pushdown, broadcast, exchange-free bucketed joins) hold in the
  * actual physical plans, not just in scaladoc. */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).run(spark, dir).queryExecution.executedPlan.toString

  // a store-backed io query's plan and store path, planned before the
  // registry's snapshot while its scratch store still exists
  private def storePlan(build: (org.apache.spark.sql.SparkSession, String, String) =>
      org.apache.spark.sql.DataFrame): (String, String) =
    graft.util.Scratch.withDir("graft-plan-") { store =>
      (build(spark, dir, store).queryExecution.executedPlan.toString, store)
    }

  test("q01: shipdate predicate and column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment")) // never read
  }

  test("q03: dimension side is broadcast, no shuffle join") {
    val p = plan("q03_order_enrich")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim18/sim21: stage 2's full-width read is shortlist-pruned (broadcast), never a corpus shuffle") {
    // the funnel contract: the corpus is re-read at full width ONLY for
    // shortlisted ids — the queries×shortlist frame broadcasts INTO the
    // candidate scan. A SortMergeJoin anywhere means the full-width
    // corpus shuffled for ranks stage 1 already excluded.
    for (name <- Seq("sim18_prefix_rerank", "sim21_prefix_lsh")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: shortlist must broadcast into the full-width read:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name: corpus-side shuffle crept into the rerank:\n$p")
    }
  }

  test("sim19: MIPS admission and scoring broadcast — vectors never shuffle") {
    // multi-table admission shuffles only narrow (id, tab, bucket) rows
    // (via the query-side broadcast) and the admitted-pair set
    // broadcasts back into the corpus scan; M² is a 1-row broadcast,
    // not a collect. Any SortMergeJoin means vectors hit an exchange.
    val p = plan("sim19_mips_lsh")
    assert(p.contains("BroadcastHashJoin"),
      s"admitted pairs must broadcast into the scoring scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"M² must ride a 1-row broadcast crossJoin:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vector-side shuffle crept into the MIPS path:\n$p")
  }

  test("bucketed join plans without any exchange") {
    val joined = StorageQueries.bucketedJoin(spark, dir)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange"), s"expected exchange-free co-located join:\n$p")
    assert(p.contains("SelectedBucketsCount"))
  }

  test("q20: salted join shuffles on (key, salt) and spreads a hot key evenly") {
    import org.apache.spark.sql.functions._
    // the join exchange must carry the salt column — that IS the skew fix:
    // one hot key hashes to `salt` different partitions instead of one
    val p = plan("q20_salted_join")
    assert(p.contains("__salt"), s"expected the salt in the join exchange:\n$p")

    // empirical no-straggler check: 90% of rows share one key; after the
    // salted shuffle the largest partition must hold a bounded share
    val n = 10000L
    val skewed = spark.range(n)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"))
    def maxShare(parts: Seq[org.apache.spark.sql.Column]): Double =
      skewed.repartition(8, parts: _*)
        .mapPartitions(it => Iterator(it.size))(org.apache.spark.sql.Encoders.scalaInt)
        .collect().max.toDouble / n
    val plainMax = maxShare(Seq(col("k")))
    val saltedMax = maxShare(Seq(col("k"),
      pmod(xxhash64(col("k"), monotonically_increasing_id()), lit(8)).as("__salt")))
    assert(plainMax >= 0.9, s"fixture not skewed enough: $plainMax")
    assert(saltedMax <= 0.3, s"salting left a straggler partition: $saltedMax")
    // When to prefer which: AQE's skew-join (on by default in the bench
    // session) splits oversized SMJ partitions at runtime with no code
    // change — reach for it first. Static salting still wins when a
    // single key is so hot that even a split partition exceeds executor
    // memory, when the skewed side feeds an aggregation rather than a
    // join, or in streaming plans where AQE is disabled.
  }

  test("tx12: the vocabulary (df) side of the TF-IDF join is broadcast") {
    // the tf side is corpus-sized; the df side is vocabulary-sized — if
    // this join ever degrades to SortMergeJoin the whole corpus shuffles
    val p = plan("tx12_tfidf_terms")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast df join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$p")
  }

  test("runningTotal: range exchange + pid-keyed window, no global sort of the data") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(col("id"), (col("id") % 7 + 1).as("v"))
    val out = graft.ops.Relational.runningTotal(
      df, Seq(col("v"), col("id")), col("v"), "cum")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"),
      s"expected the order to become a range exchange:\n$p")
    assert(p.contains("__pid"),
      s"expected the per-row cumsum window keyed by partition id:\n$p")
  }

  test("tx17: eval-gram and hit joins broadcast — the training corpus never shuffles") {
    // the eval n-gram set is benchmark-sized and the per-doc hit table
    // is contamination-sized: if either join degrades to SortMergeJoin
    // the WHOLE corpus shuffles for a hygiene check that should be
    // map-side
    val p = plan("tx17_decontam")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$p")
  }

  test("tx18: mixture fill range-partitions (lang, quality) — no one-task-per-language window") {
    // SUM OVER (PARTITION BY lang) funnels each language through one
    // task; the grouped prefix sum must show a range exchange spanning
    // lang AND the quality order, with the cumsum window keyed by
    // (partition id, lang)
    val p = plan("tx18_mixture_fill")
    assert(p.contains("rangepartitioning(lang"),
      s"expected a range exchange on (lang, quality, id):\n$p")
    assert(p.contains("quality_score"), s"order must be in the exchange:\n$p")
    assert(p.contains("__pid"),
      s"expected the per-row cumsum window keyed by partition id:\n$p")
  }

  test("tx22: incremental probe — the corpus never shuffles, both probe joins broadcast") {
    // the delta's band keys and the verified-candidate frame both
    // broadcast; a SortMergeJoin here means the whole corpus shuffled
    // for a sub-1% delta probe
    val p = plan("tx22_incremental_neardup")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$p")
  }

  test("io03: the IVF store scan is dynamically partition-pruned to the probed cells") {
    // the ANN probe must NOT read the whole vector store: the probe
    // side broadcasts and DPP restricts the scan to the probed cells'
    // partition directories — the on-disk realization of IVF
    val (p, _) = storePlan(StorageQueries.io03)
    assert(p.contains("dynamicpruningexpression(cell"),
      s"expected dynamic partition pruning on the cell column:\n$p")
    assert(p.contains("BroadcastHashJoin [cell"),
      s"expected the probe side broadcast, joined on cell:\n$p")
  }

  test("io04: the quantized IVF store keeps io03's DPP probe on 4× smaller data") {
    // same pruning contract as io03 — the int8 codes change what each
    // partition STORES, not how the probe prunes; if DPP ever breaks
    // here the probe reads the whole quantized corpus
    val (p, _) = storePlan(StorageQueries.io04)
    assert(p.contains("dynamicpruningexpression(cell"),
      s"expected dynamic partition pruning on the cell column:\n$p")
    assert(p.contains("BroadcastHashJoin [cell"),
      s"expected the probe side broadcast, joined on cell:\n$p")
  }

  test("tx06: bucket cap is a broadcast anti-join, never a window sort of the corpus") {
    val p = plan("tx06_near_dup_pairs")
    // the r7 shape: bucket sizes via hash aggregate, oversized keys
    // removed with a broadcast LeftAnti — a count().over(window) here
    // would sort every banded row just to annotate a size
    assert(p.contains("LeftAnti"), s"expected broadcast anti-join cap:\n$p")
    assert(!p.contains("Window"), s"no window over the banded corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"banded self-join must hash, not sort:\n$p")
    // shingle/signature projection served from the PlanCache persist
    assert(p.contains("InMemoryTableScan"), s"expected cached projection:\n$p")
  }

  test("sim05: cell assignment is map-only (no crossJoin, no assignment window)") {
    val p = plan("sim05_ivf_ann")
    // the r7 NearestCells expression replaced the 16-row centroid
    // crossJoin + __cr row_number window; the only window left is the
    // final top-k rank
    assert(p.contains("nearest_cells"), s"expected the native assignment expression:\n$p")
    assert(!p.contains("__cr"), s"assignment window must be gone:\n$p")
    assert(!p.contains("CartesianProduct"), s"no centroid crossJoin:\n$p")
  }

  test("q17: hinted dims broadcast, fact join shuffles once, distinct agg reuses it") {
    def count(p: String, tok: String): Int = tok.r.findAllIn(p).length
    // 100 TB shape — customer no longer fits a broadcast (threshold off):
    // the EXPLICIT hints must keep nation+region broadcast while
    // orders⋈customer degrades to exactly one shuffle join, and the
    // countDistinct partial agg must REUSE the join's c_custkey
    // partitioning (ClusteredDistribution subset) instead of adding a
    // fourth exchange — 3 hash exchanges total: orders side, customer
    // side, final r_name agg
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, -1)
      val p = plan("q17_region_revenue")
      assert(count(p, "BroadcastHashJoin") == 2, s"hinted dims must stay broadcast:\n$p")
      assert(count(p, "SortMergeJoin") == 1, s"exactly one shuffle join:\n$p")
      assert(count(p, "Exchange hashpartitioning") == 3,
        s"distinct partial agg must reuse the join partitioning:\n$p")
      // partial+final split around the distinct: 4 HashAggregate levels
      // (partial per (r_name, custkey), merge, partial_count(distinct), final)
      assert(count(p, "HashAggregate") == 4, s"expected 4-level distinct agg:\n$p")
      assert(p.contains("partial_count(distinct"), s"map-side distinct partial missing:\n$p")
    } finally spark.conf.set(conf, saved)
    // bench scale — customer fits the default 10 MB threshold: a silent
    // threshold miss here would double q17's cost invisibly
    val p2 = plan("q17_region_revenue")
    assert(count(p2, "BroadcastHashJoin") == 3, s"customer must auto-broadcast at sf:\n$p2")
    assert(!p2.contains("SortMergeJoin"), s"no shuffle join at bench scale:\n$p2")
  }

  test("tx43: repetition counts combine map-side; no window, no raw-text shuffle") {
    val p = plan("tx43_char_repetition")
    // the exploded (doc_id, gram) stream must pre-aggregate before the
    // wire — doc-scoped keys, partial counts, map-side combine
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
    // the deterministic mode pick is a min(struct) aggregate, never a
    // per-doc row_number window (one-task-per-doc at the extreme)
    assert(!p.contains("Window"), s"no window may appear:\n$p")
    // the document text itself must not be a shuffle output column —
    // only grams and counts cross the wire
    assert(!raw"Exchange hashpartitioning[^\n]*\btext\b".r
      .findFirstIn(p).isDefined, s"raw text must not shuffle:\n$p")
  }

  test("tx27: gram counts combine map-side; top-k never sorts the gram table globally") {
    val p = plan("tx27_ngram_stats")
    // the explode multiplies the corpus ~250×; what crosses the wire
    // must be the partial counts over the vocab²-bounded key space
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
    // per-size top-10 via the scalable grouped top-k (per-partition
    // pre-rank), not one task per gram size over everything
    assert(p.contains("__pid"), s"expected the partition-local pre-rank:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("mm09: payloads never reach an exchange — only (id, hash) rows shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    // AQE wraps the plan and hides exchanges until stages materialize;
    // the static shape is what this pin is about
    val conf = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(conf)
    val exec =
      try {
        spark.conf.set(conf, "false")
        Registry.byName("mm09_image_phash_dedup").run(spark, dir)
          .queryExecution.executedPlan
      } finally spark.conf.set(conf, saved)
    // billions-of-images viability rests on the decode boundary
    // stripping the plan to 16 bytes/row before any shuffle; a binary
    // column in any exchange means the images themselves are moving
    val shuffled = exec.collect { case e: ShuffleExchangeExec => e }
    assert(shuffled.nonEmpty)
    shuffled.foreach { e =>
      assert(!e.output.exists(_.dataType == BinaryType),
        s"binary column crosses a shuffle: ${e.output}")
    }
  }

  test("dq04: both cohort counts come from one scan of events") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val conf = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(conf)
    val exec =
      try {
        spark.conf.set(conf, "false")
        Registry.byName("dq04_cohort_drift").run(spark, dir)
          .queryExecution.executedPlan
      } finally spark.conf.set(conf, saved)
    // the totals side must re-aggregate the persisted counts frame,
    // not re-scan the table: zero direct file scans in the query plan
    // (the one real scan lives inside the cached counts relation,
    // which both sides serve from), two cache reads
    assert(exec.collect { case s: FileSourceScanExec => s }.isEmpty,
      s"events re-scanned outside the persisted counts:\n$exec")
    assert(exec.collect { case s: InMemoryTableScanExec => s }.size == 2,
      s"expected both sides served from the persisted counts:\n$exec")
  }

  test("io11: runtime bloom filter prunes the fact scan; absent when disabled") {
    // the 100 TB semi-join reduction: when a join's build side is
    // selectively filtered, Spark can inject a bloom-filter
    // might_contain predicate on the probe side's scan, dropping most
    // fact rows BEFORE the shuffle. Off at the tiny test scale by the
    // application-side threshold (10 GB) — io11 lights it up by
    // lowering that threshold on an isolated newSession instead of
    // faking table sizes. The A/B control (bloom = false removes the
    // filter) keeps the pin from passing vacuously on a plan string
    // that mentions might_contain for some unrelated reason.
    val on = StorageQueries.bloomJoin(spark, dir, bloom = true)
      .queryExecution.executedPlan.toString
    assert(on.contains("might_contain"),
      s"expected the bloom reduction on the fact side:\n$on")
    val off = StorageQueries.bloomJoin(spark, dir, bloom = false)
      .queryExecution.executedPlan.toString
    assert(!off.contains("might_contain"),
      "A/B control: bloom off must remove the filter")
  }

  test("q51: the staleness bound costs zero exchanges over the plain as-of") {
    // asOfJoinWithin's claim: the matched right-order value rides the
    // SAME window fill as the value columns, and freshness is a
    // map-side when() — so the bounded plan must show exactly as many
    // exchanges and sorts as q19's unbounded as-of on the same inputs.
    def counts(name: String): (Int, Int) = {
      val p = plan(name)
      ("Exchange hashpartitioning".r.findAllIn(p).size,
        raw"\bSort \[".r.findAllIn(p).size)
    }
    assert(counts("q51_asof_tolerance") == counts("q19_asof_join"),
      "the tolerance bound must not add an exchange or a sort")
  }

  test("q36: one exchange and one sort serve both SCD2 window passes") {
    // the lag() change detector and the lead() interval closer declare
    // the same (user_id; tus, event_id) window spec, and the filter
    // between them preserves partitioning and ordering — so the whole
    // history build must cost ONE shuffle + ONE sort of the change
    // log. A second exchange/sort here would double the operator's
    // 100 TB cost for nothing.
    val p = plan("q36_scd2_history")
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val nSort = raw"\bSort \[".r.findAllIn(p).size
    assert(nEx == 1, s"expected exactly one exchange:\n$p")
    assert(nSort == 1, s"expected exactly one sort:\n$p")
  }

  test("q34: the funnel chain re-keys nothing — every hash exchange is on user_id") {
    // 100 TB shape (broadcasts off): the three stage aggregates and the
    // four stage joins must all hash-partition on the SAME user_id key,
    // so AQE/exchange-reuse can co-locate the whole chain; the only
    // non-user exchange allowed is the final single-row summary
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, -1)
      val p = plan("q34_funnel")
      val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(keys.nonEmpty, s"expected shuffle joins with broadcasts off:\n$p")
      keys.foreach(k =>
        assert(k.contains("user_id"), s"non-user_id hash exchange [$k] in:\n$p"))
      assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
    } finally spark.conf.set(conf, saved)
  }

  test("q35: retention counts the week-grain frame, never a distinct expand") {
    val p = plan("q35_retention")
    // the (user, week) dedup is a plain two-level hash aggregate; a
    // COUNT(DISTINCT user_id) formulation would show Expand / a
    // count(distinct …) aggregate — the shape that re-shuffles raw
    // events per matrix cell at 100 TB
    assert(!p.contains("Expand"), s"distinct-then-count must not expand:\n$p")
    assert(!p.toLowerCase.contains("count(distinct"),
      s"no count-distinct aggregate:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q37: the sweep line rides one range exchange — no unpartitioned window") {
    // the global cumulative concurrency must be the distributed prefix
    // sum (range exchange + __pid-keyed window), never a
    // SinglePartition window over the delta frame — the one-task shape
    // that serializes the whole timeline at 100 TB
    val p = plan("q37_peak_concurrency")
    assert(p.contains("rangepartitioning(t"),
      s"expected the sweep ordered by a range exchange on t:\n$p")
    assert(p.contains("__pid"),
      s"expected the per-row cumsum window keyed by partition id:\n$p")
    // the only single-partition stage allowed is runningTotal's
    // per-partition OFFSETS frame (one row per shuffle partition —
    // metadata-sized); the row-scale delta frame must never funnel
    // through one window task, which the __psum marker distinguishes
    assert(!p.contains("windowspecdefinition(t"),
      s"no unpartitioned window over the delta frame itself:\n$p")
  }

  test("q38: quantile bucketing broadcasts 9 boundaries — no NTILE global sort") {
    val p = plan("q38_quantile_buckets")
    // the CDF is the distributed prefix sum over per-value counts;
    // users then compare against broadcast boundary values — NTILE's
    // plan (global sort + one window task over every user) must not
    // appear
    assert(p.contains("rangepartitioning(cents"),
      s"expected the CDF's range exchange on cents:\n$p")
    assert(p.contains("__pid"),
      s"expected the per-row cumsum window keyed by partition id:\n$p")
    assert(!p.toLowerCase.contains("ntile"), s"no NTILE window:\n$p")
    assert(p.contains("Broadcast"),
      s"expected the boundary row to broadcast:\n$p")
  }

  test("dq10: the quarantine router is map-only — zero exchanges") {
    // the validation is a pure projection; any Exchange here would be
    // a regression that turns a wire-speed ingest filter into a
    // shuffle of the full fact table
    val p = plan("dq10_quarantine")
    assert(!p.contains("Exchange"), s"expected a map-only routing plan:\n$p")
  }

  test("sim09: the label filter rides the broadcast join — results all same-label") {
    val p = plan("sim09_filtered_ann")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries must broadcast against the candidate scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"candidate side must not shuffle:\n$p")
    // behavioral: every returned pair shares the query's label
    import org.apache.spark.sql.functions.col
    val labels = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val rows = Registry.byName("sim09_filtered_ann").run(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("query_id")) == labels(r.getAs[Long]("cand_id")))
    }
  }

  test("dq11: the fitted stats broadcast back — the fact table never sort-merge-joins") {
    val p = plan("dq11_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast model join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle crept in:\n$p")
  }

  test("q41: the whole attribution chain rides ONE per-user exchange and sort") {
    // the gap cut, the session marker, and the running first-type all
    // share the (user_id; tus, event_id) window spec — a second
    // (user_id, sid)-partitioned window for the session's entry type
    // would re-shuffle and re-sort the fact table for nothing
    val p = plan("q41_attribution")
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val nSort = raw"\bSort \[".r.findAllIn(p).size
    assert(nEx == 2, s"expected the window exchange + the 5-row report exchange:\n$p")
    assert(nSort == 1, s"expected exactly one sort of the fact rows:\n$p")
  }

  test("mm15: every trimmed variant pairs with exactly its base; payloads never shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    graft.util.PlanCache.releaseAll()
    val conf = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(conf)
    val (rows, exec) =
      try {
        spark.conf.set(conf, "false")
        val df = Registry.byName("mm15_video_near_dup").run(spark, dir)
        (df.collect(), df.queryExecution.executedPlan)
      } finally spark.conf.set(conf, saved)
    // the GIF bytes must be stripped to (id, hash) rows at the decode
    // boundary — a binary column in any exchange means videos shuffle
    exec.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.output.exists(_.dataType == BinaryType),
        s"binary column crosses a shuffle: ${e.output}")
    }
    // semantics: the near-dup set is exactly {variant -> its base}
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(id => id % 6 == 5)
      .map(id => (id, id + graft.multimodal.Multimodal.TrimVariantOffset)).toSet
    assert(pairs == expected,
      s"missing=${expected -- pairs} spurious=${pairs -- expected}")
    graft.util.PlanCache.releaseAll()
  }

  test("io14: the refresh merges stored partials — history is never re-aggregated from raw events") {
    val (p, store) = storePlan(StorageQueries.incrementalBars)
    // the store scan must surface the PARTIAL schema (the arg-min/max
    // carrier columns) — reading back plain bars would mean the merge
    // recomputes open/close from raw history
    assert(p.contains("open_eid") && p.contains("close_eid"),
      s"expected partial-aggregate store columns in the refresh plan:\n$p")
    assert(p.contains(store), s"expected the partial store scan:\n$p")
    // raw events appear ONLY under the delta filter and the 1-row cutoff
    // probe — a third scan means the merge quietly re-read history
    val rawScans = "events.parquet".r.findAllIn(p).size
    assert(rawScans == 2, s"expected delta + cutoff scans only, got $rawScans:\n$p")
  }

  test("io24: the join-view refresh overlays the stored view map-side — historical facts are never rescanned") {
    val (p, store) = storePlan(StorageQueries.deltaJoinView)
    assert(p.contains(store), s"expected the materialized-view scan:\n$p")
    // the dim overlay must ride a broadcast left join on the view scan;
    // a sort-merge join would mean the 100 TB view shuffles on every
    // nightly dim update
    assert(!p.contains("SortMergeJoin"),
      s"view-side shuffle join crept into the refresh:\n$p")
    // historical facts appear ONLY as the delta filter and the 1-row
    // cutoff probe — a third orders scan means the refresh quietly
    // recomputed history from raw facts
    val factScans = "orders.parquet".r.findAllIn(p).size
    assert(factScans == 2, s"expected delta + cutoff scans only, got $factScans:\n$p")
  }

  test("io15: AQE upgrades the delta-sized change join to a broadcast at runtime") {
    // r16: the operator no longer FORCES the broadcast (a 100x-decade
    // feed died in the broadcast build — the backfill regime), so the
    // small-feed guarantee moved from the static plan to AQE: execute,
    // then assert the FINALIZED plan broadcast the aggregated feed and
    // never shuffled the base
    val df = Registry.byName("io15_cdc_apply").run(spark, dir)
    df.count() // AQE finalizes join strategies at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastQueryStage"),
      s"AQE did not upgrade the delta-sized change join to broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"base-side shuffle survived AQE:\n$p")
  }

  test("applyChangeFeed: the feed's aggregation exchange is planned once and reused") {
    import org.apache.spark.sql.functions._
    // the latest-change frame feeds two branches (survivors join +
    // inserts union); their shuffles canonicalize identically, so the
    // feed must be scanned and partially aggregated ONCE — the second
    // branch reads a ReusedExchange, not a second scan
    val base = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    val changes = spark.range(10).selectExpr(
      "id AS k", "CASE WHEN id % 2 = 0 THEN 'U' ELSE 'I' END AS op",
      "1L AS seq", "id AS v")
    val out = graft.ops.Relational.applyChangeFeed(base, changes, "k")
    out.count() // AQE finalizes the plan (reuse is decided at runtime)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || "Exchange hashpartitioning\\(k".r
      .findAllIn(p).size <= 1, s"feed aggregated twice:\n$p")
  }

  test("tx34: the PII scrub is map-only — zero exchanges") {
    // plant/count/mask are per-row regexp expressions; any Exchange
    // would turn a wire-speed ingest mask into a corpus shuffle
    val p = plan("tx34_pii_redaction")
    assert(!p.contains("Exchange"), s"expected a map-only scrub plan:\n$p")
  }

  test("tx35: one corpus shuffle (the segment counts) beyond the gated scan spread") {
    val p = plan("tx35_segment_dedup")
    // exactly one NON-spread hash exchange: the narrow (seg) count
    // aggregate. The boilerplate set and doc-count ride broadcasts;
    // the rebuild is map-side array algebra. The doc_id-keyed
    // exchanges are the r22 gated spread of a sub-parallel fixture
    // scan (Spread.toCores) — identity at production scale, where the
    // input's own splits exceed the core count and text never
    // shuffles. (SinglePartition exchanges — the 1-row doc-count and
    // the boilerplate collect_set finalization — are metadata-sized)
    val keys = ("Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)) ++
      "Exchange rangepartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1))).toSeq
    val (spread, data) = keys.partition(_.contains("doc_id"))
    assert(data.size == 1 && data.head.contains("seg"),
      s"expected ONE seg-count shuffle in segment dedup, got $keys:\n$p")
    assert(spread.size <= 3, // one per scan consumer pre-AQE-reuse
      s"unexpected extra doc_id exchanges $spread:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"expected the boilerplate set to broadcast:\n$p")
  }

  test("io17: the inverted-index probe is statically pruned to the terms' buckets") {
    // a 3-term search must NOT scan the whole posting store: literal
    // terms mean plan-time bucket values, so the scan's
    // PartitionFilters restrict the file listing to ≤ 3 of 64 bucket
    // directories — static pruning, stronger than io03's runtime DPP
    val (p, _) = storePlan(StorageQueries.io17)
    val pf = "PartitionFilters: \\[[^\\]]*tb[^\\]]*(IN |EqualTo|= )[^\\]]*\\]".r
    assert(pf.findFirstIn(p).isDefined,
      s"expected a static bucket predicate in PartitionFilters:\n$p")
    assert(p.contains("PushedFilters: [In(term") || p.contains("In(term, "),
      s"expected the term IN-list pushed to the posting scan:\n$p")
  }

  test("io18: both delete sidecars broadcast — the base never shuffles to die") {
    val p = plan("io18_merge_on_read_deletes")
    // two anti-joins, both broadcast: position deletes and equality
    // deletes are delta-sized sidecars; a SortMergeJoin here would
    // mean the 100 TB base gets shuffled to learn its dead rows
    // the position sidecar hash-joins on (file, pos); the single-row
    // equality sidecar may constant-fold into a broadcast nested-loop
    // anti — both are broadcast builds, neither moves the base
    val anti = "Broadcast(HashJoin|NestedLoopJoin) .*LeftAnti".r.findAllIn(p).size
    assert(anti == 2, s"expected 2 broadcast anti-joins, got $anti:\n$p")
    assert(!p.contains("SortMergeJoin"), s"base must not shuffle for deletes:\n$p")
  }

  test("q46: the sweep rides a range exchange; the fact scans once") {
    val p = plan("q46_rolling_distinct")
    // the distributed prefix sum must range-repartition the day-grain
    // deltas — a global unpartitioned window over them would be the
    // single-task shape the operator exists to avoid
    assert(p.contains("rangepartitioning"), s"expected a range exchange:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join in the sweep:\n$p")
  }

  test("sim13: the label attach broadcasts the top-k frame — the corpus never shuffles") {
    val p = plan("sim13_knn_label")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized label table must not shuffle for a queries x k attach:\n$p")
  }

  test("tx39: the unigram vocabulary broadcasts twice; no sort-merge join") {
    val p = plan("tx39_collocations")
    val b = "BroadcastHashJoin".r.findAllIn(p).size
    assert(b >= 2, s"expected the vocab broadcast into both bigram ends:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("mm18: payloads never reach an exchange — only frame-hash rows shuffle") {
    val p = plan("mm18_scene_cuts")
    val exchanges = p.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("payload")),
      s"binary payloads must not shuffle:\n${exchanges.mkString("\n")}")
  }

  test("dq16: candidate set broadcasts back — the token stream never sort-merge-joins") {
    val p = plan("dq16_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"the MG candidate semi-join must broadcast the tiny candidate set:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a token-grain SMJ would shuffle the stream MG exists to keep local:\n$p")
  }

  test("dq17: per-type totals broadcast into the counts — no sort-merge join") {
    val p = plan("dq17_binned_tvd")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim15: the query set rides a broadcast nested-loop — no shuffled cartesian") {
    val p = plan("sim15_radius_search")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the non-equi self-pair must broadcast the 10-query side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would move the corpus for a broadcastable probe:\n$p")
  }

  test("q54: one row-scale exchange (user_id); the matrix stages are type-keyed") {
    // the transition matrix's 100 TB cost claim: the ONLY data-sized
    // shuffle is the user partition feeding the LEAD window — every
    // other exchange carries |types|²-row aggregates
    val p = plan("q54_markov_transitions")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.count(_.contains("user_id")) == 1,
      s"expected exactly one user_id exchange:\n$p")
    keys.filterNot(_.contains("user_id")).foreach(k =>
      assert(k.contains("type"), s"non-type matrix exchange [$k] in:\n$p"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("tx45: downstream of the persisted count frame, keys stay vocabulary-grain") {
    // the drift screen's claim: the corpus pays ONE (source, word)
    // aggregate — visible as the persisted frame every consumer reads
    // back — and every exchange key after it is source/word-grain;
    // the source-totals and corpus-total frames ride as broadcasts
    val p = plan("tx45_source_drift")
    assert(p.contains("InMemoryTableScan"),
      s"expected the persisted (source, word) count frame:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocabulary joins must broadcast or stay local:\n$p")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    keys.foreach(k => assert(k.contains("source") || k.contains("word"),
      s"non-vocabulary exchange [$k] in:\n$p"))
  }

  test("dq23: register exchanges stay bucket-grain; merge and spine ride broadcasts") {
    // the portable-HLL cost claim: the sketch pipeline's only
    // row-scale work is the map-side md5 scan — every hash exchange
    // carries register-grain (day/bucket) rows, except the exact
    // countDistinct, which is the documented verification scaffolding
    // (event_id-keyed); the spine joins and the 1-row summary/exact
    // frames all broadcast
    val p = plan("dq23_hll_sketch")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    keys.foreach(k => assert(
      k.contains("bucket") || k.contains("day") || k.contains("event_id"),
      s"non-register-grain exchange [$k] in:\n$p"))
    assert(!p.contains("SortMergeJoin"),
      s"spine/merge joins must broadcast:\n$p")
    assert(p.contains("partial_max"),
      s"register max must combine map-side before the exchange:\n$p")
  }

  test("q55: each bitemporal snapshot costs exactly one key-grain exchange") {
    // the bitemporal read's claim: per snapshot, ONE hash exchange on
    // the version key feeds the row_number window; the version union
    // and the snapshot union are map-side
    val p = plan("q55_bitemporal")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.size == 2 && keys.forall(_.contains("k#")),
      s"expected two key-grain window exchanges, got $keys in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dq24: counter exchanges stay cell-grain; probe and merge ride broadcasts") {
    // the CMS cost claim: the 4x row explode is map-side, counter
    // exchanges carry (day, r, c)-grain cells, the user-grain
    // exchanges belong to the exact/probe verification scaffolding,
    // and the probe lookup broadcasts the 256-cell matrix
    val p = plan("dq24_cms_sketch")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    keys.foreach(k => assert(
      Seq("r#", "c#", "day", "user_id").exists(k.contains),
      s"non-cell-grain exchange [$k] in:\n$p"))
    assert(!p.contains("SortMergeJoin"),
      s"probe/merge joins must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"probe pick must be a distributed top-k, not a global sort:\n$p")
  }

  test("q56: interval merge is ONE exchange — windows share the sort, the island agg reuses the key partitioning") {
    // the coalescing identity's whole point vs the quadratic overlap
    // self-join: one custkey exchange feeds both windows through a
    // single sort, and the (custkey, island) aggregate is satisfied
    // by the existing key clustering — no second shuffle, no join
    val p = plan("q56_interval_merge")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.size == 1 && keys.head.contains("custkey"),
      s"expected exactly one custkey exchange, got $keys in:\n$p")
    assert("Sort \\[".r.findAllMatchIn(p).size == 1,
      s"both windows must share one sort:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the linear identity:\n$p")
  }

  test("dq25: signatures ride distributed top-k; set algebra broadcasts") {
    // the bottom-k cost claim: the only data-sized work is the
    // user-grain cohort aggregate; each signature pick is a
    // TakeOrdered top-k (never a global sort), and every set
    // operation happens on 32-row broadcast frames
    val p = plan("dq25_kmv_setops")
    assert(p.contains("TakeOrderedAndProject"),
      s"signature picks must be distributed top-k:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"signature set algebra must broadcast:\n$p")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    keys.foreach(k => assert(k.contains("user_id") || k.contains("v#"),
      s"non-user-grain exchange [$k] in:\n$p"))
  }

  test("dq26: grouped bottom-k signature build; quantile algebra broadcasts") {
    // the quantile-sketch cost claim: the raw rows shuffle ONCE, into
    // the straggler-free (__pid, shard) grouped bottom-k; every
    // signature pick is a TakeOrdered top-k (never a global sort of
    // the fact); the rank probe is one broadcast of a 3-row estimate
    // frame, never a shuffled cartesian
    val p = plan("dq26_qsketch")
    assert(p.contains("TakeOrderedAndProject"),
      s"signature picks must be distributed top-k:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the rank probe must broadcast, not shuffle-cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast probe/pick joins:\n$p")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // fact-sized exchanges are only the grouped bottom-k's (__pid,
    // shard) pass and its shard-grain rerank; everything else is
    // signature-sized (the 256-row merge-identity join and the 3-row
    // quantile agg)
    keys.foreach(k => assert(
      k.contains("shard") || k.contains("i#") || k.contains("q#"),
      s"unexpected exchange grain [$k] in:\n$p"))
  }

  test("tx51: AQE upgrades the LM-table joins to broadcasts at runtime") {
    // r17: the operator no longer FORCES the c2/c1 broadcasts (bigram
    // type counts grow ~linearly with corpus size, so a static hint is
    // the applyChangeFeed OOM mode waiting for a 100-TB vocabulary).
    // The small-vocabulary guarantee moved from the static plan to
    // AQE: execute, then assert the FINALIZED plan broadcast the LM
    // tables and never shuffle-joined the corpus-sized gram frame.
    val df = Registry.byName("tx51_lm_score").run(spark, dir)
    df.count() // AQE finalizes join strategies at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastQueryStage"),
      s"AQE did not upgrade the LM joins to broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized shuffle join crept into the scoring path:\n$p")
  }

  test("tx47: one vocabulary-grain exchange; the curve stages are slice-grain") {
    // Heaps-curve cost claim: the corpus-sized work is the map-side
    // shingle explode; the only data-sized exchange is gram-keyed with
    // a map-side partial MIN, and everything after is ten rows
    val p = plan("tx47_vocab_growth")
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.count(_.contains("gram")) == 1,
      s"expected exactly one gram exchange:\n$p")
    keys.filterNot(_.contains("gram")).foreach(k =>
      assert(k.contains("slice"), s"non-slice curve exchange [$k] in:\n$p"))
    assert(p.contains("partial_min"),
      s"first-slice must combine map-side before the gram exchange:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("every registry query name is unique and oracle column aliases are sane") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    // every oracle must be non-empty SQL mentioning a known table
    val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "events", "documents", "embeddings")
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).foreach { case (n, sql) =>
      assert(tables.exists(sql.contains), s"$n oracle references no known table")
    }
  }
}
