package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * The baseline is brute-force cosine top-k: broadcast the (small) query
 * set, one scan over the candidates, per-row O(q·d) arithmetic inside
 * codegen (zip_with + sequential aggregate fold — deterministic
 * summation order), then a per-query top-k window. No shuffle of the
 * candidate vectors at all; only the (query, candidate, score) triples
 * — 24 bytes each — shuffle for the final rank. At 100 TB of vectors
 * this is scan-bound, which is the best possible shape for exact kNN.
 *
 * The scale path is random-hyperplane LSH: a signature/bucket per
 * vector (map-only), candidates restricted to same-bucket pairs, so
 * the search cost drops from O(N·Q) to O(Σ bucket_q) at a recall cost
 * controlled by the number of signature bits.
 */
object Similarity {

  /** Element-wise float→double promotion (all scoring in double). */
  def toDoubleVec(v: Column): Column = transform(v, _.cast(DoubleType))

  /** Dot product — native expression, sequential summation order
    * (deterministic bits; see [[graft.expressions.HashExpressions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.HashExpressions.dotProduct(a, b)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /**
   * Exact brute-force cosine top-k of `queries` against `candidates`
   * (both (id, array<float>) shaped). Scores are rounded to `scale`
   * decimals before ranking so the ordering is reproducible across
   * engines/partitionings; ties break on candidate id.
   */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                     scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
    val scored = cand.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")), scale)
          .as("cosine"))
    rankTopK(scored, k)
  }

  /**
   * Two-stage prefix-dimension retrieval (the Matryoshka / funnel
   * pattern): stage 1 scores every candidate with only the FIRST
   * `prefixDim` dimensions — at 100 TB this is the cheap pass: a
   * dim/prefixDim reduction in vector IO and FLOPs, and the truncated
   * frame quantizes/buckets like any full vector — keeping a
   * `shortlist` per query via the same bounded map-side heap as the
   * exact search; stage 2 reranks ONLY the shortlist (queries ×
   * shortlist rows, metadata-sized) with the exact full-dimension
   * cosine, so the corpus is never touched at full width for ranks
   * the prefix already excluded. Output carries the full-dim score,
   * the final rank, and the stage-1 rank (`pre_rank`), so the
   * shortlist's recall cost audits directly against the sim01 exact
   * anchor. Both stages round to `scale` decimals before ranking with
   * cand_id tie-breaks — engine-reproducible like every ranking here.
   */
  def prefixRerankTopK(candidates: DataFrame, queries: DataFrame,
                       prefixDim: Int, shortlist: Int, k: Int,
                       scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("pvec", slice(col("cvec"), 1, prefixDim))
      .withColumn("pnorm", l2Norm(col("pvec")))
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qpvec", slice(col("qvec"), 1, prefixDim))
      .withColumn("qpnorm", l2Norm(col("qpvec")))
    val stage1 = cand.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qpvec"), col("pvec"), col("qpnorm"), col("pnorm")),
          scale).as("cosine"))
    val short = rankTopK(stage1, shortlist)
      .select(col("query_id"), col("cand_id"), col("rank").as("pre_rank"))
    rerankShortlist(candidates, queries, short, k, scale)
  }

  /** Stage 2 of the funnel searches: exact full-dimension cosine over a
    * `(query_id, cand_id, pre_rank)` shortlist. The shortlist is
    * queries×shortlist rows — IT broadcasts into the candidate table,
    * so the full-width read touches only shortlisted ids and the
    * corpus is never re-scanned at full width for ranks stage 1
    * already excluded. Shared by the exact-stage-1 funnel
    * ([[prefixRerankTopK]]) and the bucketed one
    * ([[prefixRerankLshTopK]]), so both rerank bit-identically. */
  private def rerankShortlist(candidates: DataFrame, queries: DataFrame,
                              short: DataFrame, k: Int,
                              scale: Int): DataFrame = {
    val rerank = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
      .join(broadcast(short), Seq("cand_id"))
      .join(broadcast(queries
        .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
        .withColumn("qnorm", l2Norm(col("qvec")))), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("pre_rank"),
        round(cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")),
          scale).as("cosine"))
    // both sides are queries×k / queries×shortlist rows — the pre_rank
    // attach is a metadata-sized broadcast, never a shuffled join
    rankTopK(rerank.select(col("query_id"), col("cand_id"), col("cosine")), k)
      .join(broadcast(rerank.select(col("query_id"), col("cand_id"),
        col("pre_rank"))), Seq("query_id", "cand_id"))
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rank"),
        col("pre_rank"))
  }

  /** The `tables` independent seeded signature columns of a
    * multi-table LSH index (seed 42+t for table t — disjoint plane
    * families, the OR-amplification every production LSH deployment
    * runs: one table's bucket boundary slicing between two near
    * vectors is recovered by any OTHER table bucketing them together,
    * so recall is 1 − Π(1 − pᵇ) instead of a single pᵇ). */
  private def multiSignatures(vec: Column, dim: Int, bits: Int,
                              tables: Int): Column =
    // one fused native expression, NOT array(hyperplaneSignature(t)…):
    // the expression-tree form inlines tables×bits dot loops into the
    // consuming Generate's codegen, whose method crosses the JVM JIT
    // size ceiling at 12 tables and drops the stage to interpreted
    // bytecode (r21, measured 35 s → 0.3 s at corpus100; guide §4).
    // Bit-identity with the per-table column is spec-pinned.
    graft.expressions.HashExpressions.hyperplaneSignatures(
      vec, dim, bits, (0 until tables).map(t => 42L + t))

  /**
   * Multi-table LSH admission: the DISTINCT (query_id, cand_id) pairs
   * sharing at least one table's bucket. `cand`/`q` carry
   * (cand_id|query_id, hash-input vector). The scale-critical shape:
   * only NARROW (id, table, bucket) rows ever shuffle — vectors stay
   * in the scan; the query side's signatures broadcast; and the
   * admitted pair set (per-query bucket-bounded when `bits` is sized
   * to the corpus) is what flows back — tx22's verified-candidate
   * broadcast discipline applied to vector search.
   */
  private def lshAdmit(cand: DataFrame, q: DataFrame, dim: Int, bits: Int,
                       tables: Int): DataFrame = {
    val cSig = cand.select(col("cand_id"),
        posexplode(multiSignatures(col("hvec"), dim, bits, tables))
          .as(Seq("tab", "bucket")))
    val qSig = q.select(col("query_id"),
        posexplode(multiSignatures(col("hvec"), dim, bits, tables))
          .as(Seq("tab", "bucket")))
    cSig.join(broadcast(qSig), Seq("tab", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id")).distinct()
  }

  /**
   * The BUCKETED funnel: [[prefixRerankTopK]] with stage 1 restricted
   * to multi-table prefix-LSH mates — the composition that takes the
   * Matryoshka retrieval to 100 TB. Stage-1 signatures hash the PREFIX
   * vector (prefixDim dims, `tables` independent `bits`-plane families
   * — the truncated frame quantizes/buckets like any vector), so the
   * corpus-wide pass is both prefix-width (the funnel saving) AND
   * sub-quadratic (the LSH saving): per query, only bucket-mates are
   * prefix-scored at all, and only narrow signature rows shuffle.
   * Stage 2 is the SAME exact full-width rerank as the anchor funnel
   * ([[rerankShortlist]] — the shortlist broadcasts into the
   * full-width read), so the two variants differ only in stage-1
   * admission and their top-k overlap (sim22) measures exactly the
   * bucketing's recall cost.
   */
  def prefixRerankLshTopK(candidates: DataFrame, queries: DataFrame,
                          prefixDim: Int, shortlist: Int, k: Int,
                          bits: Int, tables: Int,
                          scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("pvec", slice(col("cvec"), 1, prefixDim))
      .withColumn("pnorm", l2Norm(col("pvec")))
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qpvec", slice(col("qvec"), 1, prefixDim))
      .withColumn("qpnorm", l2Norm(col("qpvec")))
    val admitted = lshAdmit(
      cand.select(col("cand_id"), col("pvec").as("hvec")),
      q.select(col("query_id"), col("qpvec").as("hvec")),
      prefixDim, bits, tables)
    val stage1 = cand.join(broadcast(admitted), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qpvec"), col("pvec"), col("qpnorm"), col("pnorm")),
          scale).as("cosine"))
    val short = rankTopK(stage1, shortlist)
      .select(col("query_id"), col("cand_id"), col("rank").as("pre_rank"))
    rerankShortlist(candidates, queries, short, k, scale)
  }

  /**
   * The BUCKETED MIPS path: [[dotTopK]]'s raw-dot ranking through the
   * multi-table LSH machinery via the standard norm-augmentation
   * reduction (Bachrach et al., "Speeding up the Xbox recommender"):
   * append `sqrt(M² − ‖x‖²)` to every candidate (M = the corpus max
   * norm) and `0` to every query, and the augmented cosine becomes
   * `dot(q, x) / (‖q‖ · M)` — monotone in the raw dot product — so
   * hyperplane buckets over the augmented vectors group by
   * inner-product affinity and the bucketed cosine machinery carries
   * MIPS unchanged. Admission is bucket-restricted ([[lshAdmit]],
   * OR over `tables` plane families); SCORING is the exact `dim`-dim
   * dot (the augmented coordinate cancels against the query's 0), so
   * results are a subset of [[dotTopK]]'s exact ranking and the top-k
   * overlap (sim20) measures pure bucket recall.
   *
   * Scale shape: ‖x‖² is one map-side expression; M² is a 1-row
   * aggregate broadcast back into the scan (never a driver collect);
   * signatures shuffle as narrow (id, table, bucket) rows; scoring is
   * map-only on the admitted-pair broadcast; only (query, cand, dot)
   * triples reach the bounded-heap top-k. Determinism: ‖x‖² is the
   * sequential-fold dot (bit-reproducible), MAX is order-free, sqrt
   * is one IEEE op, and each signature fold is the same ±1 chain as
   * sim02 — so an independent engine re-derives the exact buckets
   * from the rendered plane literals (sim19's oracle does).
   */
  def mipsLshTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
                  bits: Int, tables: Int, scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("cn2", dot(col("cvec"), col("cvec")))
    val m2 = cand.agg(max(col("cn2")).as("m2"))
    val aug = cand.crossJoin(broadcast(m2))
      .withColumn("avec",
        concat(col("cvec"), array(sqrt(col("m2") - col("cn2")))))
    // the query's augmented coordinate is 0: its plane terms are ±0.0,
    // which cannot change any signature bit (x ± 0.0 = x, and the two
    // zeros both fail the > 0 test) — so the query hashes its RAW
    // vector against the first `dim` components of the same planes
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
    val admitted = lshAdmit(
      aug.select(col("cand_id"), col("avec").as("hvec")),
      q.select(col("query_id"),
        concat(col("qvec"), array(lit(0.0))).as("hvec")),
      dim + 1, bits, tables)
    val scored = cand.join(broadcast(admitted), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("qvec"), col("cvec")), scale).as("dot"))
    scored.groupBy(col("query_id"))
      .agg(TopKAggregator.topK(k)(col("dot"), col("cand_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair._2").as("cand_id"),
        col("pair._1").as("dot"), (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Maximum-inner-product top-k (MIPS): rank candidates by the RAW dot
   * product, not cosine — the scoring a recommender/reward model uses,
   * where magnitude is signal (a high-norm item IS more relevant) and
   * cosine's normalization would erase it. Same broadcast +
   * codegen'd-dot + bounded-heap plan as [[bruteForceTopK]], minus the
   * norm columns. For the bucketed scale path, MIPS reduces to cosine
   * search by the standard norm-augmentation (append
   * sqrt(M² − ‖x‖²) to each candidate, 0 to queries, M = max norm) —
   * the ordering is preserved, so the IVF/LSH variants here extend
   * unchanged; this operator is their exactness anchor.
   */
  def dotTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
    val scored = cand.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("qvec"), col("cvec")), scale).as("dot"))
    scored.groupBy(col("query_id"))
      .agg(TopKAggregator.topK(k)(col("dot"), col("cand_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair._2").as("cand_id"),
        col("pair._1").as("dot"), (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Cosine RADIUS search: every candidate within cosine ≥ `minCosine`
   * of each query — the "find all sufficiently similar" shape (near-
   * duplicate sweeps, contamination screens) where top-k's fixed
   * cutoff is the wrong contract because the match count per query is
   * unknown a priori. Same broadcast + codegen'd-dot plan as
   * [[bruteForceTopK]], but the threshold replaces the per-query
   * heap: the predicate evaluates map-side on the broadcast join's
   * output, so NOTHING shuffles — matches stream straight out of the
   * scan, and the corpus is read exactly once regardless of how many
   * queries ride in the broadcast. Scores round to `scale` decimals
   * before the threshold so the boundary is reproducible across
   * engines/partitionings (the bruteForceTopK convention).
   */
  def radiusSearch(candidates: DataFrame, queries: DataFrame,
                   minCosine: Double, scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
    cand.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")), scale)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /**
   * Recall@k of an approximate top-k result against exact ground
   * truth — the index-quality report every production ANN deployment
   * tracks (probe counts and cell counts are tuned against exactly
   * this number). Both inputs are (query_id, cand_id[, ...]) top-k
   * frames; output is per-query (n_hit, recall).
   *
   * Scale shape: the inputs are top-k frames — |queries| × k rows,
   * orders of magnitude smaller than the corpus that produced them —
   * so the equality join broadcasts the approximate side and the
   * per-query count is a trivially small aggregate. The expensive
   * side (the exact truth) is whatever anchor produced it; this
   * operator adds no corpus-sized work of its own.
   */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = approx.select(col("query_id"), col("cand_id"), lit(1L).as("__hit"))
    truth.select("query_id", "cand_id")
      .join(broadcast(hits), Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit") / k.toDouble).as("recall"))
  }

  /**
   * Metadata-filtered exact ANN: cosine top-k restricted to candidates
   * agreeing with the query on `matchCol` — the filtered-search shape
   * (tenant / category / label predicates) every production vector
   * store needs. Same broadcast + bounded-heap plan as
   * [[bruteForceTopK]]; the equality rides the broadcast join
   * condition, so non-matching candidates are discarded map-side
   * BEFORE any scoring work, and the per-query heap only ever sees
   * eligible rows. Both frames carry (id, vec, matchCol).
   */
  def filteredTopK(candidates: DataFrame, queries: DataFrame,
                   matchCol: String, k: Int, scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), col(matchCol).as("__cm"),
        toDoubleVec(col("vec")).as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
    val q = queries
      .select(col("id").as("query_id"), col(matchCol).as("__qm"),
        toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
    val scored = cand.join(broadcast(q),
        col("cand_id") =!= col("query_id") && col("__cm") === col("__qm"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")), scale)
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** Per-query top-k via the bounded-heap aggregator: partial top-k
    * happens map-side, so only k rows per partition per query reach the
    * shuffle — the scale-correct shape for ANN (a rank window would
    * shuffle every scored pair). Ordering matches topKPerGroup:
    * (cosine desc, cand_id asc), rank 1-based. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKAggregator.topK(k)(col("cosine"), col("cand_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair._2").as("cand_id"),
        col("pair._1").as("cosine"), (col("pos") + 1).cast("int").as("rank"))

  /**
   * Deterministic random-hyperplane signatures: `bits` hyperplanes with
   * ±1 components derived from a fixed-seed generator, compiled into the
   * plan as literal arrays. sig bit i = [dot(v, h_i) > 0].
   */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    val bitExprs = hyperplanes(dim, bits, seed).zipWithIndex.map { case (h, i) =>
      val hl = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(h.map(lit)): _*)
      when(dot(vec, hl) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitExprs.reduce(_ bitwiseOR _)
  }

  /** The seeded ±1 plane family behind [[hyperplaneSignature]] —
    * exposed so an independent engine (the DuckDB oracle) can compute
    * the identical signatures from the same literals. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Array[Double]] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      graft.expressions.HashExpressions.planeFamily(dim, bits, seed))

  /**
   * Embedding-cosine near-duplicate pairs. Exact mode: all pairs with
   * id_a < id_b and rounded cosine ≥ threshold — O(n²) scoring, right
   * up to ~10⁵ vectors per partition-side. Bucketed mode (`bits` > 0):
   * pairs restricted to a shared LSH bucket first — the sub-quadratic
   * scale path, with recall governed by the bit count.
   */
  def nearDupPairs(vectors: DataFrame, threshold: Double, dim: Int,
                   bits: Int = 0, scale: Int = 4): DataFrame = {
    def side(n: String) = {
      val s = vectors.select(col("id").as(s"id_$n"), toDoubleVec(col("vec")).as(s"vec_$n"))
        .withColumn(s"norm_$n", l2Norm(col(s"vec_$n")))
      if (bits > 0) s.withColumn("bucket", hyperplaneSignature(col(s"vec_$n"), dim, bits))
      else s
    }
    val joined =
      if (bits > 0) side("a").join(side("b"), Seq("bucket"))
      else side("a").crossJoin(side("b"))
    joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("vec_a"), col("vec_b"), col("norm_a"), col("norm_b")), scale)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * IVF (inverted-file) approximate top-k: a k-means coarse quantizer
   * (seeded, deterministic) partitions candidates into `nCells` cells;
   * each query probes only its `nProbe` nearest cells. The classic
   * trade: cost drops from O(N) to O(N·nProbe/nCells) per query,
   * recall grows with nProbe. Cells are materialized as a plain
   * (cell, id, vec) table, so at scale the probe is a partition-pruned
   * scan — the same layout trick as io01, applied to vector search.
   */
  /** The shared candidate projection behind [[ivfTopK]] and
    * [[fitCentroids]] — persisted so the quantizer training sample and
    * the cell assignment scan it once, memoized per canonicalized
    * candidates plan so repeated queries reuse one persisted frame
    * instead of re-registering. */
  private def candProjection(candidates: DataFrame): DataFrame =
    cache.persistedFor(candidates) {
      projectionBuilds.incrementAndGet()
      candidates
        .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
        .withColumn("cnorm", l2Norm(col("cvec")))
    }

  /** Cap on memoized persisted projections: a multi-corpus sweep holds
    * at most this many frames; beyond it the least-recently-used is
    * unpersisted and rebuilt on next touch (deterministic projection ⇒
    * eviction never changes results, only cost). */
  val MaxCachedProjections = 8

  // the candidate projections plus the fitted quantizers and codebooks
  // (driver-side memo, nCells × dim doubles per entry)
  private val cache = new graft.util.PlanCache(MaxCachedProjections)

  private[graft] def cachedProjectionCount: Int = cache.size

  // forensic counters (profile specs): how many times the projection
  // was actually BUILT (persisted) and the quantizer actually FIT —
  // cache hits don't increment, so a memoization miss across repeated
  // identical queries shows up as a count > 1
  private[graft] val projectionBuilds = new java.util.concurrent.atomic.AtomicInteger
  private[graft] val quantizerFits = new java.util.concurrent.atomic.AtomicInteger

  /**
   * The IVF coarse quantizer: seeded k-means over a seeded ≤4096-row
   * sample of the candidate projection. A coarse quantizer only needs
   * rough cells from a sample, not a converged clustering of the full
   * set — recall comes from nProbe; the bounded sample keeps training
   * O(sample), independent of corpus size.
   *
   * Fully deterministic for a fixed input (seeded sample, seeded
   * k-means||, fixed iteration count, stable partitioning from the
   * scan), which is what lets an independent engine (the DuckDB
   * oracle) verify the whole IVF path: the fitted centroids render as
   * SQL literals and cell assignment/probing/scoring become plain SQL
   * — the same trick as the sim02 hyperplanes, applied to FITTED
   * parameters.
   */
  def fitCentroids(candidates: DataFrame, nCells: Int = 16,
                   seed: Long = 42L): Seq[Array[Double]] = {
    // A quantizer is a train-once artifact: every probe against the
    // same corpus reuses it. Memoize on the CANONICALIZED candidate
    // plan (structural equality — same source + projection → same key),
    // so repeated queries — and the oracle generator re-deriving the
    // centroids — skip the k-means fit instead of re-training per
    // invocation. Deterministic fit ⇒ memoization is purely a cost
    // optimization.
    cache.memo(candidates, "centroids", nCells, seed) {
      quantizerFits.incrementAndGet()
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val train = candProjection(candidates)
        .select(array_to_vector(col("cvec")).as("features"))
        .sample(withReplacement = false, 0.5, seed)
        .limit(4096)
      val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
        .setFeaturesCol("features").fit(train)
      model.clusterCenters.map(_.toArray).toSeq
    }
  }

  /** The IVF STORAGE layout: every candidate with its nearest-cell
    * assignment, `(cand_id, cvec, cnorm, cell)` — written
    * `partitionBy("cell")` this becomes the on-disk inverted file,
    * where an ANN probe of nProbe cells is a partition-pruned scan
    * (io03 materializes it; PlanShapeSpec pins the pruning). */
  def ivfLayout(candidates: DataFrame, nCells: Int = 16,
                seed: Long = 42L): DataFrame =
    nearestCells(candidates, col("cvec"), 1, "cand_id", nCells, seed)(
      candProjection(candidates))

  /** The probe side: each query with its `nProbe` nearest cells of the
    * CANDIDATE corpus's quantizer (same memoized fit as [[ivfLayout]]). */
  def ivfProbe(candidates: DataFrame, queries: DataFrame, nCells: Int = 16,
               nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
    nearestCells(candidates, col("qvec"), nProbe, "query_id", nCells, seed)(q)
  }

  /** Score a probed layout: per-cell candidate×query cosine, max over
    * the cells a pair meets in, bounded top-k per query. Shared by
    * [[ivfTopK]] and the storage-backed probe (io03) so both compute
    * bit-identical results. Top-k ranks via the bounded-heap aggregate
    * ([[rankTopK]]) — map-side partial heaps, no rank-window sort;
    * same (cosine desc, cand_id) ordering, so ranks are identical. */
  def scoreProbed(celledCand: DataFrame, probedQ: DataFrame, k: Int,
                  scale: Int = 4): DataFrame = {
    val scored = celledCand.join(broadcast(probedQ), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")), scale)
          .as("cosine"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(max(col("cosine")).as("cosine")) // a pair may meet in several probed cells
    rankTopK(scored, k)
  }

  /** Nearest `n` quantizer cells (euclidean, like the k-means model)
    * for each row's `vecCol`, as extra `cell` rows.
    *
    * MAP-ONLY: one native expression evaluates every centroid in a
    * tight loop per row ([[graft.expressions.VectorExpressions
    * .NearestCells]]) — no crossJoin against a centroid table, no
    * window rank, no exchange, no sort. The earlier declarative
    * formulation (16-row broadcast crossJoin + row_number window) paid
    * an exchange + sort of the 16×-exploded rows per assignment, twice
    * per IVF query; at corpus scale that re-shuffles the vectors for
    * what is a pure per-row function of the fitted quantizer. Distance
    * fold order and (dist, cell) tie-break are bit-compatible with the
    * old plan and with the rendered oracle SQL. */
  private def nearestCells(candidates: DataFrame, vecCol: Column, n: Int,
                           keyCol: String, nCells: Int,
                           seed: Long): DataFrame => DataFrame = df => {
    val centroids = fitCentroids(candidates, nCells, seed)
    df.withColumn("cell",
      explode(graft.expressions.VectorExpressions.nearestCells(vecCol, centroids, n)))
  }

  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, scale: Int = 4,
              seed: Long = 42L): DataFrame =
    scoreProbed(
      ivfLayout(candidates, nCells, seed),
      ivfProbe(candidates, queries, nCells, nProbe, seed),
      k, scale)

  /** The QUANTIZED IVF storage layout — io03's cell-partitioned
    * inverted file holding [[quantizeInt8]]'s codes instead of float64
    * vectors: `(cand_id, q, n2, cell)`, ~4× smaller on disk and
    * integer-exact to score. Cell assignment runs in FLOAT space with
    * the same quantizer as [[ivfLayout]] (the codes are a storage
    * format, not an index key), so a store written `partitionBy("cell")`
    * prunes identically to the unquantized one. `n2 = Σ q_i²` is
    * precomputed (exact: integer sums ≪ 2^53) so the probe never
    * rescans the codes for norms. */
  def quantizedIvfLayout(candidates: DataFrame, nCells: Int = 16,
                         seed: Long = 42L): DataFrame = {
    val qArr = quantizeInt8(col("vec")).getField("q")
    val proj = candidates.select(
        col("id").as("cand_id"),
        toDoubleVec(col("vec")).as("cvec"),
        qArr.as("q"))
      .withColumn("n2", dot(transform(col("q"), _.cast(DoubleType)),
        transform(col("q"), _.cast(DoubleType))))
    nearestCells(candidates, col("cvec"), 1, "cand_id", nCells, seed)(proj)
      .drop("cvec")
  }

  /** The probe side of the quantized store: each query with its
    * `nProbe` nearest cells (float-space, same memoized quantizer as
    * the layout) plus its OWN int8 codes `qq` and squared norm `qn2` —
    * scoring then never touches the float vectors at all. */
  def quantizedIvfProbe(candidates: DataFrame, queries: DataFrame,
                        nCells: Int = 16, nProbe: Int = 4,
                        seed: Long = 42L): DataFrame = {
    val q = queries.select(
        col("id").as("query_id"),
        toDoubleVec(col("vec")).as("qvec"),
        transform(quantizeInt8(col("vec")).getField("q"),
          _.cast(DoubleType)).as("qq"))
      .withColumn("qn2", dot(col("qq"), col("qq")))
    nearestCells(candidates, col("qvec"), nProbe, "query_id", nCells, seed)(q)
      .drop("qvec")
  }

  /** Score a probed QUANTIZED layout: sim08's scale-cancelling integer
    * cosine (`dotq / √(Σqa²·Σqb²)` — every partial ≪ 2^53, so the sum
    * is exact in any order) over io03's partition-pruned probe join.
    * Same output schema as [[scoreProbed]]. */
  def scoreProbedQuantized(celledCand: DataFrame, probedQ: DataFrame, k: Int,
                           scale: Int = 4): DataFrame = {
    val scored = celledCand.join(broadcast(probedQ), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("qq"), transform(col("q"), _.cast(DoubleType))) /
          sqrt(col("qn2") * col("n2")), scale).as("cosine"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(max(col("cosine")).as("cosine")) // pair may meet in several probed cells
    rankTopK(scored, k)
  }

  /**
   * Symmetric int8 scalar quantization of an embedding column — the
   * standard storage trick for web-scale vector corpora (4× smaller
   * than float32, and integer dot products). Per-vector max-abs
   * scaling: `scale = max|x| / 127`, `q_i = floor(x_i/scale + 0.5)`
   * (explicit floor(+0.5) instead of ROUND — identical doubles round
   * identically on any IEEE engine, where decimal ROUND rules differ).
   * A zero vector quantizes to zeros with scale 0. Reconstruction
   * error is bounded by scale/2 per element (spec-asserted on data).
   */
  def quantizeInt8(vec: Column): Column = {
    val dv = toDoubleVec(vec)
    val maxAbs = array_max(transform(dv, x => abs(x)))
    val scale = maxAbs / lit(127.0)
    struct(
      scale.as("scale"),
      transform(dv, x =>
        when(scale === 0.0, lit(0))
          .otherwise(floor(x / scale + lit(0.5)).cast("int"))).as("q"))
  }

  /** Dequantize back to double: x̂_i = q_i · scale. */
  def dequantize(quantized: Column): Column =
    transform(quantized.getField("q"),
      q => q.cast(DoubleType) * quantized.getField("scale"))

  /**
   * Product-quantization codebooks: the vector space splits into
   * `subspaces` contiguous blocks of `dim / subspaces` dims, and each
   * block gets its own seeded k-means codebook of `nCodes` entries
   * (Jégou et al., "Product Quantization for Nearest Neighbor
   * Search"). A PQ code is then `subspaces` small integers — 4 bytes
   * per vector here vs 256 for float32×64, two orders of magnitude
   * less IO than the raw corpus at 100 TB — scored by table lookup
   * (ADC), never by touching the vectors.
   *
   * Deterministic exactly like [[fitCentroids]] (seeded bounded
   * sample, seeded k-means, fixed iterations), so the fitted
   * codebooks render as SQL literals and the WHOLE PQ path — per-
   * subspace assignment, ADC lookup scoring, top-k — is verifiable by
   * an independent engine (sim12's oracle).
   */
  def fitPqCodebooks(candidates: DataFrame, dim: Int, subspaces: Int = 4,
                     nCodes: Int = 16, seed: Long = 42L): Seq[Seq[Array[Double]]] = {
    require(dim % subspaces == 0, "dim must split evenly into subspaces")
    cache.memo(candidates, "pq", dim, subspaces, nCodes, seed) {
      quantizerFits.incrementAndGet()
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val subDim = dim / subspaces
      val proj = candProjection(candidates)
      (0 until subspaces).map { m =>
        val train = proj
          .select(array_to_vector(
            slice(col("cvec"), m * subDim + 1, subDim)).as("features"))
          .sample(withReplacement = false, 0.5, seed)
          .limit(4096)
        new KMeans().setK(nCodes).setSeed(seed + m).setMaxIter(5)
          .setFeaturesCol("features").fit(train)
          .clusterCenters.map(_.toArray).toSeq
      }
    }
  }

  /** The PQ-encoded corpus: `(cand_id, codes, rn2)` — `codes(m)` is
    * the nearest codebook entry of subspace `m` (euclidean, (dist,
    * code) tie-break — the same map-only [[graft.expressions
    * .VectorExpressions.NearestCells]] the IVF assignment uses), and
    * `rn2` the squared norm of the RECONSTRUCTED vector, folded from
    * per-entry literals at encode time so scoring never recomputes
    * it. This frame is what ships: 4 ints + 1 double per vector. */
  def pqLayout(candidates: DataFrame, dim: Int, subspaces: Int = 4,
               nCodes: Int = 16, seed: Long = 42L): DataFrame = {
    val cbs = fitPqCodebooks(candidates, dim, subspaces, nCodes, seed)
    val subDim = dim / subspaces
    val codeCols = (0 until subspaces).map { m =>
      graft.expressions.VectorExpressions.nearestCells(
        slice(col("cvec"), m * subDim + 1, subDim), cbs(m), 1).getItem(0)
    }
    val encoded = candProjection(candidates)
      .select(col("cand_id"), array(codeCols: _*).as("codes"))
    val rn2 = (0 until subspaces).foldLeft(lit(0.0)) { (acc, m) =>
      val n2s = cbs(m).map(c => c.foldLeft(0.0)((a, w) => a + w * w))
      acc + element_at(
        array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          n2s.toArray.map(lit)): _*),
        col("codes").getItem(m) + 1)
    }
    encoded.withColumn("rn2", rn2)
  }

  /**
   * ADC (asymmetric distance computation) top-k over the PQ codes:
   * each query precomputes one `subspaces × nCodes` lookup table of
   * sub-dot-products against the codebooks, and every candidate
   * scores with `subspaces` array lookups — no vector arithmetic per
   * pair at all. Approximate cosine = ADC dot / (‖q‖ · ‖x̂‖) with the
   * reconstruction norm from the layout. The scan is exhaustive over
   * CODES (the PQ trade: tiny per-candidate cost, full recall of the
   * quantized metric); compose with the IVF layout when even the code
   * scan must prune. Float discipline: every fold (lut dots, the
   * 4-term ADC sum, rn2) is a fixed-order left fold from 0.0, so an
   * independent engine reproduces the doubles bit-for-bit.
   */
  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
             subspaces: Int = 4, nCodes: Int = 16, scale: Int = 4,
             seed: Long = 42L): DataFrame = {
    val cbs = fitPqCodebooks(candidates, dim, subspaces, nCodes, seed)
    val subDim = dim / subspaces
    val cand = pqLayout(candidates, dim, subspaces, nCodes, seed)
    val luts = array((0 until subspaces).map { m =>
      array(cbs(m).map { c =>
        dot(slice(col("qvec"), m * subDim + 1, subDim),
          array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
            c.map(lit)): _*))
      }: _*)
    }: _*)
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
      .withColumn("luts", luts)
      .drop("qvec")
    val adc = (0 until subspaces).foldLeft(lit(0.0)) { (acc, m) =>
      acc + element_at(element_at(col("luts"), m + 1),
        col("codes").getItem(m) + 1)
    }
    val scored = cand.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(adc / (col("qnorm") * sqrt(col("rn2"))), scale).as("cosine"))
    rankTopK(scored, k)
  }

  /**
   * LSH-bucketed approximate top-k: queries join candidates only within
   * their signature bucket. Returns the same schema as bruteForceTopK;
   * recall < 1 by construction (bucket boundaries), cost ~ bucket sizes.
   */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
              bits: Int = 8, scale: Int = 4): DataFrame = {
    val cand = candidates
      .select(col("id").as("cand_id"), toDoubleVec(col("vec")).as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
      .withColumn("bucket", hyperplaneSignature(col("cvec"), dim, bits))
    val q = queries
      .select(col("id").as("query_id"), toDoubleVec(col("vec")).as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
      .withColumn("bucket", hyperplaneSignature(col("qvec"), dim, bits))
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")), scale)
          .as("cosine"))
    rankTopK(scored, k)
  }
}
