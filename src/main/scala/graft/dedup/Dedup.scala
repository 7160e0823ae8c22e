package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextAnalysis

/**
 * Document deduplication for web-scale corpora: exact (hash-groupBy),
 * MinHash+LSH banding (near-dup candidate generation sub-quadratically),
 * n-gram Jaccard verification, and SimHash.
 *
 * Scale design: every stage is expressed as native array/hash
 * expressions plus hash shuffles keyed on short values (16-byte
 * fingerprints, 8-byte band hashes) — full document text never shuffles
 * except once to fetch shingle sets for candidate verification. The
 * all-pairs comparison is avoided entirely: LSH banding restricts the
 * join to same-bucket documents, so cost is O(Σ bucket²) with bucket
 * sizes controlled by the band width.
 */
object Dedup {

  /** Memoized persisted projections behind [[nearDupPairsWithStats]],
    * [[allPairsJaccard]] and [[hammingNearDups]] — same lifecycle
    * treatment as the similarity-side projection cache: LRU-bounded,
    * unpersist-on-evict, [[graft.util.PlanCache.releaseAll]] as the
    * explicit flush. The cache key is the canonicalized plan of the
    * PROJECTED frame, so differing (shingleWidth, k) parameters key
    * distinct entries. */
  private val baseCache = new graft.util.PlanCache(maxEntries = 8)

  private[graft] def cachedBaseCount: Int = baseCache.size

  /** Size-gated SHUFFLE_HASH (r22, guide §3.1): r21's unconditional
    * hint on the banded self-joins bound at EVERY scale and displaced
    * the broadcast join AQE picks when the banded frame is small —
    * driver-measured at sf0.1: mm09 −22%, tx06 −9% by min. The banded
    * row count is known exactly at plan-construction time (rows per
    * fingerprint × fingerprint count), so hint only when the frame's
    * UnsafeRow estimate clears the session's broadcast threshold:
    * below it the join side is returned unhinted and AQE stays free
    * to broadcast; above it the hint still kills the two banded-frame
    * sorts the corpus100 decade measured (~28M-row sorts dominating
    * the pair search). Join strategy changes the plan, never the pair
    * set. Per-task build cost stays (rows/P): callers scaling past
    * local mode must scale shuffle partitions with input size so the
    * build side stays bounded (SMJ spills gracefully; SHJ does not). */
  private def hintedAboveBroadcast(side: DataFrame, bandedRows: Long): DataFrame = {
    val conf = side.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val threshold =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
      catch { case _: Throwable => 10485760L }
    // (id, band, chunk) UnsafeRow: 8-byte null bitset + 3 × 8-byte slots
    val bandedBytes = bandedRows * 32L
    if (threshold <= 0 || bandedBytes > threshold) side.hint("shuffle_hash")
    else side
  }

  /** Exact dedup: group documents by content fingerprint, keep the
    * lowest id as the canonical representative. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))

  /** The ONE (id, shingleSet, signature) projection behind both
    * [[nearDupPairsWithStats]] and [[cappedBuckets]], persisted through
    * the plan cache. A single construction site is load-bearing, not
    * style: the cache keys on the canonicalized plan, so two textually
    * drifted copies of this projection would silently key SEPARATE
    * cache entries — and a cap audit built on the drifted copy would
    * measure different banding than the pair run it claims to audit,
    * with no error anywhere. */
  private def signatureBase(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, shingleWidth: Int): DataFrame =
    baseCache.persisted(docs
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleWidth).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minHashSignature(col("sh"), k)))

  /** Token n-gram shingles (w-word windows) as an array column —
    * native expression, one pass over the token array. */
  def shingles(text: Column, w: Int = 3): Column =
    graft.expressions.HashExpressions.tokenShingles(
      TextAnalysis.tokens(text), w, distinct = false)

  /** Distinct shingle set (Jaccard works on sets). */
  def shingleSet(text: Column, w: Int = 3): Column =
    graft.expressions.HashExpressions.tokenShingles(
      TextAnalysis.tokens(text), w, distinct = true)

  /**
   * MinHash signature: for each of `k` hash functions from the two-hash
   * mixing family, the minimum over the shingle set. A native Catalyst
   * expression ([[graft.expressions.HashExpressions.MinHashSignature]])
   * — one tight loop per row; the equivalent higher-order-function
   * formulation was ~20× slower from per-element lambda interpretation.
   */
  def minHashSignature(shingleSet: Column, k: Int = 16): Column =
    graft.expressions.HashExpressions.minhashSignature(shingleSet, k)

  /**
   * LSH band keys: the signature split into `bands` contiguous rows of
   * `rowsPerBand`, each band hashed to one 64-bit key. Two documents
   * collide in a band iff that band's minhashes all agree, so the
   * candidate-pair probability is 1-(1-j^r)^b — a sharp threshold
   * around (1/b)^(1/r).
   */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("band_hash"))
    }: _*)

  /** Exact Jaccard similarity of two shingle-set arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /**
   * Near-duplicate pairs via MinHash LSH + exact Jaccard verification.
   *
   * Plan shape, chosen for the 100 TB case where candidates are rare
   * relative to the corpus:
   *
   *  1. (id, shingleSet, signature) — map-only, persisted once so the
   *     three consumers below don't recompute the shingling;
   *  2. band explode + self-join on (band, band_hash) over NARROW rows
   *     (8-byte ids and hashes only — shingle sets never enter this
   *     shuffle, which is the all-pairs-shaped part of the plan);
   *  3. buckets larger than `maxBucket` are dropped: a pathological
   *     bucket (boilerplate/empty-ish docs) is quadratic in pair count
   *     while its members are mutual near-dups anyway — the cap bounds
   *     worst-case cost;
   *  4. distinct candidate pairs then fetch both shingle sets from the
   *     persisted base and verify exact Jaccard — heavy arrays shuffle
   *     only for candidates, not for every bucket row.
   *
   * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ minJaccard.
   */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double = 0.7, k: Int = 16,
                   bands: Int = 4, shingleWidth: Int = 3,
                   maxBucket: Int = 1000): DataFrame =
    nearDupPairsWithStats(docs, idCol, textCol, minJaccard, k, bands,
      shingleWidth, maxBucket)._1

  /**
   * [[nearDupPairs]] plus its cap witness: a one-row frame
   * (n_buckets, capped_buckets, dropped_rows) quantifying what step 3's
   * `maxBucket` cut actually discarded. A recall claim is only honest
   * alongside this row — "recall 1.000 with 0 capped buckets" is a
   * measurement; "recall 1.000" alone could be hiding arbitrarily many
   * pairs dropped inside pathological buckets. The stats frame reuses
   * the same persisted (id, shingles, signature) base, so producing the
   * witness adds one narrow aggregate, not a second shingling pass.
   */
  def nearDupPairsWithStats(docs: DataFrame, idCol: String, textCol: String,
                            minJaccard: Double = 0.7, k: Int = 16,
                            bands: Int = 4, shingleWidth: Int = 3,
                            maxBucket: Int = 1000): (DataFrame, DataFrame) = {
    val rowsPerBand = k / bands
    val base = signatureBase(docs, idCol, textCol, k, shingleWidth)

    val banded = base
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_hash").as("band_hash"))

    // Bucket sizes via hash aggregate, NOT count().over(Window...): the
    // window formulation exchanges AND SORTS every banded row just to
    // annotate a size — at corpus scale that sort is the most expensive
    // step of the whole plan. The aggregate needs the same single
    // exchange and no sort, and oversized keys (pathological
    // boilerplate buckets) are rare by construction, so removing them
    // is a broadcast anti-join — no second shuffle of the banded rows.
    val bucketSizes = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bsz"))
    val oversized = bucketSizes
      .filter(col("bsz") > maxBucket)
      .select(col("band"), col("band_hash"))
    val capped = banded.join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")

    // Size-gated SHUFFLE_HASH (r21 hint, r22 gate — guide §3.1): same
    // reasoning as the Hamming engine's self-join below — sort-merge
    // SORTS the banded frame on both sides; hashing one side per
    // partition streams the other unsorted, and the build side is
    // (bands·n)/P rows per task. The gate needs the corpus cardinality,
    // which makes this builder EAGER like hammingNearDupsAuto: one
    // memoized count over the persisted signature base (which the pair
    // join materializes anyway) decides hint-vs-AQE-broadcast.
    val candidates = capped.as("a")
      .join(hintedAboveBroadcast(capped.as("b"),
          baseCache.memoizedCount(base) * bands), Seq("band", "band_hash"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    val pairs = candidates
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

    val stats = bucketSizes
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("capped_buckets"),
        sum(when(col("bsz") > maxBucket, col("bsz")).otherwise(0L)).as("dropped_rows"))

    (pairs, stats)
  }

  /**
   * The bucket-grain half of [[nearDupPairsWithStats]]'s cap witness:
   * the (band, band_hash, bsz) rows the `maxBucket` cut actually
   * dropped. The aggregate witness says HOW MUCH was dropped;
   * production triage needs WHICH buckets — e.g. to check that a known
   * pathological cluster (boilerplate, empty-ish docs) is what got
   * capped, rather than an organic bucket silently crossing the cap
   * and hiding real near-dup pairs. Output is small by construction
   * (oversized buckets are rare — the same argument that makes the
   * anti-join in the pair path a broadcast), and the projection behind
   * it is the same plan-cached (id, shingles, signature) base the pair
   * run persisted, so the audit adds one narrow aggregate, not a
   * second shingling pass.
   */
  def cappedBuckets(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, bands: Int = 4, shingleWidth: Int = 3,
                    maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = k / bands
    val base = signatureBase(docs, idCol, textCol, k, shingleWidth)
    base
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.band_hash").as("band_hash"))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
  }

  /**
   * Incremental near-duplicate probe: check a (small) newly-arrived
   * `delta` against the (huge) existing `corpus` WITHOUT re-clustering
   * the world — the steady-state shape of a production dedup pipeline,
   * where a daily crawl is ≪ 1% of the corpus it lands in.
   *
   * Scale contract: the corpus NEVER shuffles. The delta's banded LSH
   * keys broadcast, so corpus band rows are probed map-side; the
   * surviving (delta, corpus) candidates — rare by construction — join
   * back to the delta's shingle sets broadcast, and that tiny frame
   * broadcasts once more into the corpus shingle scan for exact
   * Jaccard verification. Total cost: two map-side passes over corpus
   * projections + driver-size work on the delta.
   *
   * Same (k, bands, shingleWidth) parameters as [[nearDupPairs]], so
   * an incremental probe finds exactly the pairs a full re-run would
   * (restricted to delta × corpus).
   */
  def incrementalNearDups(corpus: DataFrame, delta: DataFrame,
                          idCol: String, textCol: String,
                          minJaccard: Double = 0.7, k: Int = 16,
                          bands: Int = 4, shingleWidth: Int = 3): DataFrame = {
    val rowsPerBand = k / bands
    def bandedOf(base: DataFrame): DataFrame = base
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_hash").as("band_hash"))
    val corpusBase = signatureBase(corpus, idCol, textCol, k, shingleWidth)
    val deltaBase = signatureBase(delta, idCol, textCol, k, shingleWidth)
    val candidates = bandedOf(corpusBase).as("c")
      .join(broadcast(bandedOf(deltaBase).as("d")), Seq("band", "band_hash"))
      .select(col("d.id").as("delta_id"), col("c.id").as("corpus_id"))
      .distinct()
    val candWithDelta = candidates
      .join(deltaBase.select(col("id").as("delta_id"), col("sh").as("sh_d")),
        Seq("delta_id"))
    corpusBase.select(col("id").as("corpus_id"), col("sh").as("sh_c"))
      .join(broadcast(candWithDelta), Seq("corpus_id"))
      .select(col("delta_id"), col("corpus_id"),
        jaccard(col("sh_d"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /**
   * Exact near-duplicate ground truth: ALL pairs with n-gram Jaccard ≥
   * `minJaccard` — the exactness anchor for the LSH path (the same
   * role sim04 plays for sim06 on embeddings). Its purpose is to make
   * LSH recall a MEASURED number (|nearDupPairs| / |this|) instead of
   * an S-curve formula.
   *
   * NOT the naive O(n²) comparison: the inverted-index plan. Shingles
   * explode to (id, shingle) rows; an equi-self-join on the shingle
   * followed by a pair count yields |A∩B| directly (sets are distinct),
   * and |A∪B| = |A|+|B|−|A∩B|. Every join is a hash shuffle on narrow
   * rows — no nested-loop pair enumeration, no shingle arrays through
   * the shuffle — and pairs sharing zero shingles (J = 0) never
   * materialize at all. Cost is Σ_shingle df², driven by document
   * FREQUENCY, not corpus size: near-unique shingles cost ~nothing,
   * and the residual risk is boilerplate shingles with huge df — the
   * same pathology the LSH path caps with `maxBucket`; for a ground
   * truth we keep exactness and eat that cost (it is the measurement
   * tool, not the production dedup path).
   */
  def allPairsJaccard(docs: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double = 0.7, shingleWidth: Int = 3): DataFrame = {
    val sh = baseCache.persisted(docs
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleWidth).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("l", size(col("sh"))))
    val tokens = sh.select(col("id"), explode(col("sh")).as("s"))
    val shared = tokens.as("a").join(tokens.as("b"), Seq("s"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("li"))
    shared
      .join(sh.select(col("id").as("id_a"), col("l").as("la")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("l").as("lb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("li").cast(DoubleType) /
          (col("la") + col("lb") - col("li")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /**
   * Shingle-CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold —
   * the quote/inclusion detector Jaccard structurally misses (a short
   * document fully embedded in a long one has high containment but
   * low Jaccard, because the union is dominated by the long side).
   * The standard second axis of corpus dedup (Broder's containment,
   * CC-dedup quote filters).
   *
   * Scale shape: the intersection counts come from the inverted-index
   * self-join on shingles, with a DOCUMENT-FREQUENCY CAP — shingles
   * appearing in more than `dfCap` documents are dropped from the
   * intersection as non-discriminative (boilerplate n-grams would
   * otherwise pair every document with every other: the cap bounds
   * the join fanout at C(dfCap, 2) pairs per shingle, which is what
   * keeps the plan alive on a 100 TB corpus; tx06's bucket cap, to
   * the same end). The df aggregate and the pair join shuffle the
   * SAME (shingle) exchange — canonicalized identically, planned
   * once. The cap is part of the operator's declared semantics
   * (capped intersection over full-set denominators), so an
   * independent engine applying the same cap reproduces every cell.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       minContainment: Double = 0.8, shingleWidth: Int = 3,
                       dfCap: Int = 20): DataFrame = {
    val sh = baseCache.persisted(docs
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleWidth).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("l", size(col("sh"))))
    val tokens = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfc = tokens.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val capped = tokens.join(dfc, Seq("s")).filter(col("__df") <= dfCap)
      .select(col("id"), col("s"))
    val shared = capped.as("a").join(capped.as("b"), Seq("s"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("li"))
    shared
      .join(sh.select(col("id").as("id_a"), col("l").as("la")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("l").as("lb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("li").cast(DoubleType) /
          least(col("la"), col("lb")).cast(DoubleType)).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /**
   * 64-bit SimHash from the token multiset: each token votes ±1 on each
   * bit position of its xxhash64; the sign of the per-bit sum is the
   * fingerprint bit. Near-duplicates have small Hamming distance.
   * Native expression — one hash and one 64-bit vote loop per token.
   */
  /**
   * Connected components over an undirected pair graph — the step that
   * turns near-duplicate PAIRS into duplicate CLUSTERS so a pipeline
   * can keep exactly one canonical document per cluster (transitive
   * closure matters: A~B, B~C must collapse to one keeper even when
   * A~C was never emitted as a pair).
   *
   * Min-label propagation with pointer-jumping, Pregel-shaped: every
   * node starts labeled with its own id; each round every node takes
   * the minimum label among itself and its neighbors, then compresses
   * by following its label to that node's label (hash-to-min style).
   * Each round is one distributed join + aggregation on (node, label)
   * pairs plus one narrow label self-join — the graph is
   * edge-partitioned and nothing ever converges to the driver except
   * the single `changed` count per round (the same control-flow shape
   * GraphX/Pregel uses). The compression step makes rounds
   * O(log diameter), not O(diameter): near-dup clusters are usually
   * chains/cliques of copies (3-4 rounds), but a pathological 64-deep
   * chain converges in ~7 rounds instead of 64 — at 100 TB, shuffle
   * rounds are the cost, so the decay matters. `maxIter` is a safety
   * valve, and lineage is cut per round (localCheckpoint) so plans
   * don't grow with iterations.
   *
   * Returns (id, cluster, is_canonical): `cluster` = min id reachable,
   * canonical = the minimum-id member.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took to converge — the scale diagnostic (each round is one join +
    * agg + compression self-join over the narrow label frame). */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String,
                                    bCol: String,
                                    maxIter: Int = 20): (DataFrame, Int) = {
    // Both edge orientations from ONE pass over the pair source (r21,
    // guide §2.4): the union-of-selects formulation plants the pair
    // lineage TWICE in the edges plan, so materializing the persist
    // ran the (often expensive) pair discovery twice — measured at the
    // corpus100 decade on tx20's exact-Jaccard source: 105.5 s for the
    // union shape vs 44.3 s for this explode-double, identical edge
    // sets. inline() emits (src,dst) and (dst,src) per pair row in a
    // single Generate; distinct() then dedups exactly as union did.
    val edges = pairs.select(inline(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    // convergence witness (r22, guide §2.4): labels only ever DECREASE
    // (every step is a least(...)), so the label sum strictly decreases
    // iff any label changed — one single-row DECIMAL aggregate per
    // round replaces the former two-|V|-frame join + filter + count
    // (one exchange and one join fewer per round; DECIMAL(38,0) so
    // billions of 64-bit ids cannot overflow the sum). Same fixpoint,
    // same round count, bit-identical labels.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("cluster").cast(DecimalType(38, 0)))).head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node's best neighbor label this round
      val nbr = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("nbr_min"))
      // checkpoint BEFORE the pointer-jump self-join (r21): its two
      // sides are different projections of this frame, whose exchanges
      // the planner cannot reuse (they partition on different columns)
      // — unmaterialized, the edges⋈labels join + aggregation above ran
      // twice per round
      val stepped = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"))
        .localCheckpoint(true)
      // pointer-jumping (path compression): follow each node's label to
      // THAT node's label and take the min — every cluster value is
      // itself a node id (labels are minima over ids), so the self-join
      // is total. Neighbor-min alone moves a label one hop per round,
      // making a diameter-D chain cost D shuffle rounds (the 100 TB
      // pathology: a 64-deep dup chain = 64 shuffles); with compression
      // the reach roughly doubles per round — O(log D) rounds, the
      // hash-to-min bound. One extra equi-join of the narrow
      // (id, cluster) frame per round buys exponential round decay.
      val jumped = stepped.join(
        stepped.select(col("id").as("cluster"), col("cluster").as("parent")),
        Seq("cluster"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("parent"), col("cluster")))
            .as("cluster"))
        .localCheckpoint(true)
      val sumNow = labelSum(jumped)
      labels = jumped
      converged = sumNow.compareTo(prevSum) == 0
      prevSum = sumNow
      i += 1
    }
    edges.unpersist()
    (labels.select(col("id"), col("cluster"),
      (col("id") === col("cluster")).as("is_canonical")), i)
  }

  def simHash64(text: Column): Column =
    graft.expressions.HashExpressions.simhash64(TextAnalysis.tokens(text))

  /**
   * SimHash near-duplicate pairs via bit-band LSH: the 64-bit
   * fingerprint splits into `bands` contiguous chunks; a pair whose
   * Hamming distance is d < bands must agree exactly on at least one
   * band (pigeonhole), so banding finds ALL pairs with d < bands and
   * the Hamming filter then applies the real threshold. Same
   * narrow-join shape as MinHash LSH: only (id, band, chunk) rows
   * shuffle; fingerprints re-join per candidate.
   */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bands: Int = 8): DataFrame =
    hammingNearDups(
      docs.select(col(idCol).as("id"), simHash64(col(textCol)).as("sh")),
      maxHamming, bands)

  /** [[simHashNearDups]] with the banding depth picked from the corpus
    * size ([[hammingNearDupsAuto]]) — the production entry point. */
  def simHashNearDupsAuto(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    hammingNearDupsAuto(
      docs.select(col(idCol).as("id"), simHash64(col(textCol)).as("sh")),
      maxHamming)

  /** Chunk widths for a 64-bit fingerprint split into `bands`
    * contiguous chunks: the first 64 mod bands chunks get one extra
    * bit, so bands need not divide 64. Exposed for the spec, which
    * pins Σ widths = 64 and the exhaustiveness math per (bands, r). */
  private[graft] def bandWidths(bands: Int): Seq[Int] = {
    val base = 64 / bands
    val rem = 64 % bands
    (0 until bands).map(b => if (b < rem) base + 1 else base)
  }

  /** The grouped-band group size: the pigeonhole limit
    * r = bands − maxHamming, backed off (r decrements) only while the
    * group COUNT C(bands, r) exceeds `maxGroups` — every decrement
    * trades collision-floor bits for fewer banded rows, so the cap is
    * the linear-cost guard, not a recall knob (any r ≤ slack is
    * exhaustive). r = 1 is always feasible (C(bands, 1) = bands ≤ 64). */
  private[graft] def groupSize(maxHamming: Int, bands: Int,
                               maxGroups: Int): Int = {
    val slack = bands - maxHamming
    (slack to 1 by -1).find(r => comb(bands, r) <= maxGroups).getOrElse(1)
  }

  private def comb(n: Int, k: Int): Long = {
    var c = 1L
    for (i <- 1 to k) {
      c = c * (n - k + i) / i
      if (c > (1L << 30)) return Long.MaxValue
    }
    c
  }

  /** Band count chosen FROM THE FINGERPRINT COUNT — the scale knob
    * behind [[hammingNearDupsAuto]]. Cost model, per candidate band
    * count b (with its pigeonhole group size r):
    *
    *   cost(b) = C(b, r)·n  +  β · Σ_groups n²/2^(keybits+1)
    *
    * — the linear term is banded rows, the quadratic term is the
    * expected random same-key candidate pairs, and β ≈ 4 is the
    * measured candidate-row : banded-row cost ratio (r19, mm09's hash
    * frame at the 10× tier: ~1 µs per banded row through the
    * explode+exchange, ~4.3 µs per candidate through the
    * distinct+re-join+verify). Picks the argmin, ties to the smaller
    * b. For maxHamming = 6 / maxGroups = 256 the resulting ladder:
    * b = 8 (grouped pairs, 2¹⁶ keys) below ~66k fingerprints, b = 9
    * (triples, ≥ 2²¹) to ~2M, b = 10 (quadruples, ≥ 2²⁴) beyond —
    * each step trades ~3× banded rows for ~10× fewer collisions, so
    * the scheme that is fastest at a tier is also the one whose
    * NEXT-decade ratio stays linear. */
  private[graft] def autoBands(maxHamming: Int, n: Long,
                               maxGroups: Int = 256): Int = {
    // mirrors hammingNearDups' own bounds: at maxHamming >= 64 the
    // candidate band range (maxHamming+1 to 64) is empty and minBy
    // would throw an opaque UnsupportedOperationException
    require(maxHamming >= 0 && maxHamming < 64,
      "pigeonhole banding needs 0 <= maxHamming < 64")
    val beta = 4.0
    ((maxHamming + 1) to math.min(maxHamming + 8, 64)).minBy { b =>
      val r = groupSize(maxHamming, b, maxGroups)
      val widths = bandWidths(b)
      val quad = (0 until b).combinations(r).map(g =>
        n.toDouble * n.toDouble / math.pow(2.0, g.map(widths).sum + 1)).sum
      comb(b, r) * n.toDouble + beta * quad
    }
  }

  /** [[hammingNearDups]] with the band count picked from the data by
    * [[autoBands]]: one count() over the persisted fingerprint base
    * (which the pair join would materialize anyway) buys the banding
    * depth that is BOTH fastest at the current scale and linear into
    * the next decade. The pair set is banding-independent, so the
    * adaptivity can never move a result — only the plan.
    *
    * NOTE: unlike the other plan builders in this object, this method
    * is EAGER — sizing the index from the data requires an action at
    * plan-construction time. The count is memoized per canonicalized
    * source plan ([[graft.util.PlanCache.memoizedCount]]), so repeated
    * auto calls over the same source pay the counting job once. */
  def hammingNearDupsAuto(rawBase: DataFrame, maxHamming: Int,
                          maxGroups: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      "pigeonhole banding needs 0 <= maxHamming < 64")
    val base = baseCache.persisted(rawBase)
    val n = baseCache.memoizedCount(base)
    hammingNearDups(base, maxHamming,
      autoBands(maxHamming, n, maxGroups),
      maxGroups, fingerprintCount = Some(n))
  }

  /**
   * The bit-band LSH pair search over ANY precomputed 64-bit
   * fingerprint frame `(id, sh)` — the engine behind
   * [[simHashNearDups]] (text) and the image aHash dedup (mm09): the
   * pigeonhole exhaustiveness argument and the narrow
   * (id, band, chunk) shuffle shape don't care where the 64 bits came
   * from.
   *
   * Join keys are GROUPED bands (the multi-index Hamming refinement):
   * a pair at distance d ≤ maxHamming corrupts at most `maxHamming`
   * bands, leaving at least `slack = bands − maxHamming` intact — so
   * for ANY group size r ≤ slack, the pair agrees exactly on at least
   * one r-subset of bands, and joining on all C(bands, r) grouped keys
   * is exhaustive. Bigger r is strictly better for the quadratic term:
   * the random-collision floor is Σ_groups n²/2^(keybits+1), and
   * keybits grows with every band added to the group, so the floor
   * shrinks ~2^width per step while the linear cost (n·C(bands, r)
   * banded rows) stays bounded by the `maxGroups` cap. This class of
   * floor is what ships super-linear decades: single bands saturate at
   * ~10⁴ fingerprints (r13 measured 99× candidate growth per 10× data
   * on mm09's frame), grouped PAIRS (r = 2, 2¹⁶ keys, the r13 fix)
   * saturate a decade later — r18's bench measured mm09 at 16.4× wall
   * per 10× data at the corpus100 decade (~330k fingerprints), the
   * predicted n²·C(b,2)/2¹⁶ shape. This version therefore takes r to
   * the pigeonhole limit, r = slack (capped so C(bands, r) ≤
   * `maxGroups`): at maxHamming 6, bands 10 buys r = 4 with ≥ 24-bit
   * keys — a ~90× lower collision floor than (6, 8) pairs — while
   * (7, 8) degrades to the only exhaustive scheme left, singles. The
   * production callers (mm09, tx09) don't pick `bands` by hand: they
   * ride [[hammingNearDupsAuto]], whose cost model deepens the index
   * as the fingerprint count grows (pairs → triples → quadruples).
   *
   * `bands` need not divide 64: the fingerprint splits into uneven
   * contiguous chunks (the first 64 mod bands chunks one bit wider),
   * which is what unlocks bands = 10 for maxHamming = 6 — with 8
   * bands the slack is 2 and the keys stop at 2¹⁶ forever. Results
   * are banding-independent (exhaustive candidates + exact Hamming
   * verify), so tier hashes cannot move when (bands, r) is retuned.
   */
  def hammingNearDups(rawBase: DataFrame, maxHamming: Int, bands: Int,
                      maxGroups: Int = 256,
                      fingerprintCount: Option[Long] = None): DataFrame = {
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    require(bands >= 1 && bands <= 64, "bands must chunk a 64-bit fingerprint")
    // The (id, sh) projection feeds FOUR plan positions (both sides of
    // the banding self-join plus the two fingerprint re-joins). When the
    // fingerprint is expensive to compute — mm09 derives it from a full
    // image decode — an unpersisted base re-runs that work per position,
    // so persist the narrow two-column frame once through the shared
    // LRU cache. ~16 bytes/row: negligible next to what it saves.
    val base = baseCache.persisted(rawBase)
    val widths = bandWidths(bands)
    val offsets = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    def chunk(b: Int): Column =
      shiftright(col("sh"), offsets(b)).bitwiseAND(lit(mask(widths(b))))
    val r = groupSize(maxHamming, bands, maxGroups)
    val groups: Seq[Seq[Int]] = (0 until bands).combinations(r).toSeq
    // pack a group's chunks contiguously: total ≤ 64 bits by
    // construction (a group never exceeds the whole fingerprint)
    def packedKey(g: Seq[Int]): Column =
      g.foldLeft((lit(0L): Column, 0)) { case ((acc, off), b) =>
        (acc.bitwiseOR(shiftleft(chunk(b), off)), off + widths(b))
      }._1
    // one explode per ≤24-group batch, unioned: a SINGLE array literal
    // of all C(bands, r) packed keys blows past Janino's method-size
    // limit (mm09's 210-key array failed whole-stage compilation and
    // fell back to interpreted eval — correct, but measured ~1.8×
    // slower at the 10× tier). r21 lowered the batch 48 → 24: Janino's
    // 64KB ceiling is not the binding one — HotSpot refuses to JIT any
    // method past ~8000 bytecodes, so the 48-key Generate method ran
    // compiled-but-never-JITted (measured 2.6 s vs 0.45 s for the same
    // 28M-row explode at the corpus100 shape). Each branch reads the
    // same persisted base.
    val banded = groups.zipWithIndex.grouped(24).map { batch =>
      base.select(col("id"),
        posexplode(array(batch.map { case (g, _) => packedKey(g) }: _*))
          .as(Seq("pos", "chunk")))
        .select(col("id"), (col("pos") + lit(batch.head._2)).as("band"),
          col("chunk"))
    }.reduce(_ unionByName _)

    // Size-gated SHUFFLE_HASH on the self-join (r21 hint, r22 gate —
    // guide §3.1): the banded frame is C(bands, r)·n rows — the
    // planner's default sort-merge SORTED it on both sides (measured at
    // the corpus100 decade: two ~28M-row sorts dominated the whole pair
    // search). Hashing one side per partition instead streams the other
    // unsorted; the build side is (C·n)/P rows per task — linear in n
    // and divided by the partition count, so the choice survives scale.
    // When the caller knows n (the Auto path counts it anyway), the
    // hint applies only above broadcast scale so small inputs keep
    // AQE's broadcast join; unknown n keeps the scale-safe hint. Hint
    // only HERE: the two fingerprint re-joins below stay eligible for
    // broadcast. Inner equi-join — strategy changes the plan, never the
    // pair set.
    val bandedB = fingerprintCount match {
      case Some(n) => hintedAboveBroadcast(banded.as("b"), n * groups.size)
      case None => banded.as("b").hint("shuffle_hash")
    }
    val candidates = banded.as("a")
      .join(bandedB, Seq("band", "chunk"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    candidates
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.HashExpressions.hamming64(col("sh_a"), col("sh_b"))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
