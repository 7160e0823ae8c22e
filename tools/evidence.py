#!/usr/bin/env python3
"""One-command evidence refresh: correctness gates at three scale tiers
plus the interleaved bench, collapsed into a single EVIDENCE.json that
the driver and judge both read.

Usage: python3 tools/evidence.py [--skip-bench] [--skip-10x] [--skip-deep]

Stages (each records ok/fail and continues — a broken stage must not
hide the others' evidence):
  1. sbt compile
  2. Verify + selfcheck at sf0.01           (full registry — the
     driver's own gate, replayed locally)
  3. Verify + selfcheck at sf0.1            (the scalable-oracle
     subset: everything except the deliberately-quadratic all-pairs
     anchors and corpus-sized-literal generated oracles)
  4. BlowUp build + Verify + selfcheck at the 10x tier (the sf0.1
     subset minus decode-literal media oracles and the one 6M-row
     row-preserving compare — wall-clock, not correctness, exclusions;
     fixture identity from the blow-up marker is embedded)
  5. The deep tiers (--skip-deep, implied by --skip-10x): the 100x
     relational decade gate (INCLUDE_100X), the hot-key skew gates at
     10x volume (INCLUDE_SKEW) and at sf0.01 where the quadratic
     dedup oracles stay affordable (INCLUDE_SKEW_SMALL), and the 100x
     corpus decade gate (INCLUDE_CORPUS100) — each on its own derived
     fixture
  6. graft.Bench (interleaved sampling; SPARK_GRAFT_DEEP_TIERS=1 adds
     the 100x and skew timing points; bench_out.json is inlined)

Output: EVIDENCE.json in the repo root.
"""
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Oracles that cannot scale past the driver's sf0.01 gate. Every entry
# is a MEASURED cost-model call (r14 re-measured the whole historical
# set at sf0.1 AND the 10x tier: 22 long-excluded queries turned out
# affordable — tx06/07/09/22/26/29, sim02/03/05/06/07/08/09/12,
# io03/04, mm01/02/07/09/10, st07, all cell-exact green, per-oracle
# cost 0.1-84 s — and were promoted out of this set; what remains is
# what stayed expensive under measurement, not what was guessed to be):
EXCLUDE_SF01_SWEEP = {
    # quadratic all-pairs exactness anchors, quadratic BY PURPOSE (the
    # declared ground truths the production paths are scored against)
    "tx13_jaccard_ground_truth", "tx16_simhash_truth",
    "sim01_ann_cosine", "sim04_embedding_near_dup",
    # sim11/sim13/sim15/sim16 embed sim01's all-pairs brute-force CTE
    # (recall truth / kNN frame / radius / raw-dot rank) — same cost;
    # sim18's stage-1 oracle is the same all-pairs scan at prefix width
    "sim11_ann_recall", "sim13_knn_label", "sim15_radius_search",
    "sim16_mips_topk", "sim18_prefix_rerank",
    # sim20/sim22 embed the same all-pairs exact-truth CTEs (MIPS /
    # exact-funnel recall baselines); their bucketed halves (sim19,
    # sim21) gate at sf0.1 and 10x
    "sim20_mips_recall", "sim22_funnel_recall",
    # tx41 scores LSH pairs against tx13's brute-force truth
    "tx41_dedup_eval",
    # tx20's oracle closes duplicate clusters with an iterative
    # label-propagation CTE: >20 min in DuckDB at sf0.1's 5k docs
    # (killed; measured r14). A cheaper formulation does not exist
    # here the way it did for q53: the cost is dominated by PAIR
    # DISCOVERY — the same quadratic a<b shingle self-join as tx13,
    # the declared all-pairs anchor — not by the closure rounds.
    # Deep-tier closure evidence is carried by q58 (r16): the same
    # connectedComponents operator over a PLANTED gadget graph whose
    # component census is known by construction, gated at 10x and the
    # 100x decade with an O(output) arithmetic oracle — no recursive
    # CTE, and no circularity (the pairs are constructed, not
    # engine-derived; organic pair discovery stays gated by tx06 at
    # every tier incl. skew). mm10's cluster gate (50.3 s oracle,
    # independently-derived pHash edges) additionally gates the
    # operator on ORGANIC edges at sf0.1 and 10x.
    "tx20_dedup_clusters",
    # tx50 assigns the leakage-safe split FROM tx20's closure, so its
    # oracle carries the identical quadratic pair discovery + recursive
    # closure; the split logic itself is linear and its deep-tier
    # evidence rides the same q58 planted-closure gate
    "tx50_cluster_split",
}

# Additional 10x-tier exclusions — wall-clock, not correctness, and
# (r14) re-measured rather than assumed: the media-decode literal
# oracles (mm03/04/05/06/08/14, st09) turned out to cost <1 s each in
# DuckDB at this tier's 17k images and were promoted in.
EXCLUDE_10X = EXCLUDE_SF01_SWEEP | {
    # q13's 6M-row cell-exact compare measured 68 s — the single
    # heaviest gate cell, kept in (it is the only row-preserving scan
    # gated above sf0.1); sim10 (4.7 s) and tx38 (8.5 s) also measured
    # FAR below their former cost claims and were promoted in.
    # tx14/tx15 are quadratic BY CONSTRUCTION in their DuckDB oracles
    # (both re-run the unpruned a<b shingle-list self-join — the same
    # construction as tx13's declared all-pairs anchor — ~1.25e9
    # list-intersections at this tier's 50k docs); their scale
    # machinery (distributed prefix sum, grouped fill, the LSH cap
    # counters) is gated at this tier by tx18/tx23/tx28, and both stay
    # gated at sf0.01 + sf0.1
    "tx14_corpus_prep", "tx15_lsh_cap_witness",
    # q43 was excluded here while its oracle was the naive inlined
    # form (10 iteration CTEs each joining the full edge list TWICE;
    # DuckDB re-evaluated the inlined edge lineage per iteration —
    # measured exceeding a 55 GB spill budget at this tier's ~12M
    # directed edges). r22 restructured it (MATERIALIZED edges/deg/
    # nodes/per-iteration frames; per-node contribution pr//deg
    # computed on the |V|-row rank x degree join FIRST, so each
    # iteration pays ONE edge-sized hash join — the q45/q47 playbook)
    # and promoted it in: measured 0.1 s at sf0.01, 1.0 s at sf0.1,
    # 31.8 s at this tier. Row-exact equivalence with the naive form
    # is pinned by PageRankOracleChainSpec and was additionally
    # A/B-checked in DuckDB itself at sf0.01 + sf0.1 before the swap.
    # q45 was excluded from every tier above sf0.01 while its oracle
    # was the textbook a<b<c wedge join (unaffordable past sf0.1); r17
    # switched the oracle to the DEGREE-ORIENTED wedge join with a
    # MATERIALIZED edges CTE and promoted it into the sf0.1 AND 10x
    # sweeps. Measured costs: 12.3 s at sf0.1, 19.0 s at 10x. The
    # MATERIALIZED keyword is load-bearing, not style: DuckDB's
    # default CTE inlining re-evaluated the 120M-row pairs self-join
    # once per reference and spilled 55.8 GB at 10x before being
    # killed; materialized once, the same query fits in memory.
    # TriangleOracleChainSpec pins oriented ≡ textbook on the fixture
    # and a hub pathology, so the cheap formulation stays chained to
    # the obviously-correct one (the q53 playbook).
    # q47 was excluded here while its oracle re-aggregated each
    # round's degree filter twice and let DuckDB inline the e0/sym
    # support self-join 4x; r18 restructured it (MATERIALIZED e0/sym,
    # one MATERIALIZED d-CTE per round joined twice — equivalence with
    # the old form checked row-exact at sf0.01 and sf0.1) and measured
    # 61 s at this tier (2.39M directed support>=2 edges; the blow-up
    # densifies support so the peel fixpoints in 1 round, far inside
    # the 16-round unroll/engine bound) — promoted into the 10x sweep.
    # r20: the presumed 100x wall ("the lp support self-join is ~1.2B
    # pre-group rows there") was MEASURED rather than assumed and fell:
    # the 1.2B pre-group pairs STREAM into the hash aggregate (whose
    # output — the collapsed co-purchase graph — is tier-invariant, so
    # the super-linear wedge/peel work never grows with the decade);
    # q45 and q47 are both gated at 100x now — see INCLUDE_100X.
    # Deep-decade evidence for q43's pagerank recurrence still rides
    # dq13 (its oracle's 10 unrolled full-edge-list CTEs genuinely
    # out-spill the box — measured ENOSPC past 77 GB).
    # q53 was excluded here while its oracle was the NAIVE min-fold
    # (556 s measured at ~12M directed edges); r15 switched the oracle
    # to the LAYERED fold (each round expands only the newest layer —
    # 75 s measured at the same tier, mostly the shared DISTINCT-pairs
    # CTE) and promoted it in. BfsSpec pins frontier ≡ naive fold ≡
    # layered SQL on randomized graphs, so the cheap formulation stays
    # chained to the obviously-correct one.
}

# The 100x relational decade tier (two decades past the driver's gate):
# only the relational/event facts scale there, and the gated set is the
# exchange-machinery family the tier exists to stress — aggregation
# (q01), keep-latest window (q15), join+top-k (q26), funnel chain
# (q34), sweep-line prefix sum (q37), grouped prefix-sum percentiles
# (dq07). Corpus queries are out of scope by construction (documents/
# embeddings copy verbatim, unscaled).
INCLUDE_100X = {
    # q43 PageRank joined this tier in r22: the restructured oracle
    # (MATERIALIZED aggregated-recurrence CTEs — see EXCLUDE_10X's
    # history note) replays the 117M-directed-edge recurrence without
    # the per-iteration edge-lineage re-evaluation that out-spilled
    # the box (old form: ENOSPC past 77 GB). Measured at this tier
    # (r22): engine dump 248 s; DuckDB replay 21 min, peak spill
    # ~41 GB — inside selfcheck's 48 GB memory / 60 GB temp caps. The
    # heaviest gate cell by far; if the refresh budget ever tightens,
    # drop it back to the 10x tier (31.8 s there) before touching any
    # other cell.
    "q43_pagerank",
    "q01_pricing_summary", "q15_latest_events", "q26_shipping_priority",
    "q34_funnel", "q37_peak_concurrency", "dq07_exact_percentiles",
    # the EWMA walk's scaled-integer recurrence is exact by declared
    # bound through this tier (S ≈ 7e13 < 2^53); 100x events stress the
    # daily-count exchange feeding it
    "dq13_ewma_forecast",
    # the binned-TVD integer numerator is exact by declared bound
    # through this tier (c·t ≈ 3.6e13 < 2^63); 100x events stress the
    # one-scan conditional (type, bin) aggregate
    "dq17_binned_tvd",
    # freshness is integer-micros min/max machinery — trivially cheap,
    # rides the same 100x events fixture
    "dq18_freshness",
    # the modal-value pick rides the straggler-free grouped top-1 over
    # the value-grain counts — 100x events stress exactly that exchange
    "dq19_modal_values",
    # coverage gaps are a day-grain distinct + metadata-sized window —
    # 100x events stress the distinct exchange feeding it
    "dq20_coverage_gaps",
    # the transition matrix is the per-user LEAD exchange plus a
    # |types|²-row aggregate — 100x events stress the window exchange;
    # the oracle is one LEAD window, linear at this tier
    "q54_markov_transitions",
    # the A/B readout is one conditional-agg scan to a 1-row moment
    # frame — trivially linear; 100x events stress nothing BUT the scan
    "dq22_ab_readout",
    # its streamed twin drains the same 2 counter rows — the streaming
    # family's first 100x-gated entry (0.1 s oracle at 10M events)
    "st31_stream_ab_readout",
    # r15 — the portable HLL's register pipeline is one md5 scan plus
    # a (day, 256-bucket) aggregate; 100x events stress the scan and
    # the shard-merge path at 10M ids (oracle: 1.8 s measured here)
    "dq23_hll_sketch",
    # r15 — the CMS counter matrix and probe path at 10M events
    # (oracle: 1.7 s measured) and the KMV signatures over 150k users
    # (oracle: 0.8 s) — the whole mergeable-sketch family gates at
    # this tier
    "dq24_cms_sketch", "dq25_kmv_setops",
    # r16 — the quantile sketch joins its family: month-shard bottom-K
    # signatures over 45M orders, merge identity and rank-bound
    # booleans gated cell-exact (oracle: 5.5 s measured here)
    "dq26_qsketch",
    # r15 — the bitemporal snapshot's two key-grain window exchanges
    # over ~4.5M orders x3 versions; the oracle measured 15.7 s at
    # 9.1M output rows (the compare, like q13's 6M-row cell-exact
    # compare, is the cost — kept in as the tier's second
    # row-preserving gate)
    "q55_bitemporal",
    # r16 — the planted-truth graph family: the real CC/triangle/
    # k-core operators over gadget graphs sized from this tier's 60M
    # lineitem rows (~600k gadgets), with O(output) arithmetic oracles
    # — the iterative-graph family's first 100x-decade cell-exact
    # gates (organic-gate depth is oracle-cost-bounded; these are not)
    "q58_planted_components", "q59_planted_triangles", "q60_planted_kcore",
    # r20 — the ORGANIC iterative-graph gates break through to this
    # tier (the r19 verdict's top item): the assumed ~1.2B-pre-group-
    # row wall was measured and is not a wall — the pairs CTE streams
    # into a hash aggregate whose output (the collapsed co-purchase
    # graph: key-shifted order replicas reproduce identical part
    # baskets, so GROUP BY collapses them) is TIER-INVARIANT, leaving
    # the super-linear wedge join / 16-round peel at base-graph size
    # while only the linear lp-distinct + pair stream scale with the
    # decade. Measured on this tier's 60M-row lineitem: q45's degree-
    # oriented oracle 59.4 s / 20-row compare; q47's MATERIALIZED
    # d-CTE peel 80.4 s / 40k-row compare. q43 remains the one
    # oracle-cost exclusion (iteration-unrolled full-edge-list CTEs,
    # measured ENOSPC) — its deep-decade recurrence evidence stays on
    # dq13 + the planted q58-60 censuses.
    "q45_triangles", "q47_kcore",
    # r18 — the window/interval family joins the decade (each measured
    # at this tier's fixture before promotion): q19's as-of fill over
    # 10M events (oracle 2.5 s, 2M-row compare), q46's rolling
    # 7-day distinct (oracle 1.5 s — day-grain output), and the
    # interval islands pair over 15M orders — q56 merge (17.6 s,
    # 14.4M-row compare) and q57 clip (92.1 s + a 15.4M-row compare,
    # the tier's new heaviest cell; the generate_series day-unnest is
    # bounded at 20 days/island so the cost is the linear unnest, kept
    # in as the second row-preserving interval gate)
    "q19_asof_join", "q46_rolling_distinct", "q56_interval_merge",
    "q57_interval_clip",
    # r18 — the rest of the as-of family rides the same 10M-event
    # fixture (all measured): q51's staleness bound (10.2 s), q44's
    # snapshot grain (9.1 s), and q33's day-spine gap fill (0.1 s —
    # day-grain output) complete the family
    "q51_asof_tolerance", "q44_asof_snapshot", "q33_gap_fill",
    # r18 — st33 joins its batch twin dq26 (already gated here): the
    # streaming bottom-K quantile state is K=256-bounded per month
    # shard regardless of volume, so the decade stresses the
    # micro-batch ingest path while the oracle stays dq26's 5.5 s
    "st33_stream_qsketch",
    # r16 — the stateful-streaming family's first 100x gate: st17
    # replays the CDC feed through the real micro-batch state store
    # (state bounded by distinct CHANGED keys, not the base; the base
    # joins once outside the streaming loop) and the batch apply now
    # lets AQE pick the base-vs-feed join — this tier's 2/3-of-base
    # feed is exactly the backfill regime that killed the old forced
    # broadcast. Measured: engine 186 s, oracle+14.1M-row compare
    # 148 s at this decade.
    "st17_stream_cdc_apply",
}

# The 100x CORPUS decade tier (r14): documents/embeddings blown up
# 100x from sf0.1 (~500k docs / 200k vectors), relational tables
# verbatim — the text/similarity mirror of INCLUDE_100X, so the
# dedup/ANN/text operators get a second decade of oracle-gated
# evidence. The gated set is every corpus-shaped query whose oracle
# stays linear at 500k docs (measured: the full set's DuckDB replay
# is ~17 s). dq16 and tx40 gate EMPTY here by construction — the
# uniform blow-up suffixes every replicated token, so no token
# reaches the n/64 heavy-hitter bar and no boilerplate segment
# recurs — an exact 0-row match on both sides; their row-bearing
# gates live at the skew tiers (dq16: planted zzfiller) and the base
# fixtures (tx40). The sub-quadratic paths whose oracles CANNOT scale
# (tx06 banding, tx22's probe, sim02/sim05 ANN, mm09 grouped-band
# Hamming) are TIMED at this tier by the bench instead
# (queries_corpus100 / scaling_corpus100_vs_10x).
INCLUDE_CORPUS100 = {
    "tx18_mixture_fill", "tx21_stratified_sample", "tx27_ngram_stats",
    "tx33_search_rank", "tx36_bm25_rank", "tx39_collocations",
    "tx40_source_boilerplate", "tx42_langid_eval", "dq16_heavy_hitters",
    "sim14_kmeans_step",
    # r14 addition — char-mass repetition signals; measured 6.2 s
    # oracle at 500k docs (doc-scoped keys, linear by construction)
    "tx43_char_repetition",
    # r14 addition — BPE merge learning: the corpus pays one word-count
    # scan; all three merge rounds run on the VOCABULARY, which the
    # uniform blow-up leaves at the base lexicon (suffixed replica
    # tokens fail the ^[a-z]+$ word filter), so the oracle is the base
    # vocab at 100x weights
    "tx44_bpe_merges",
    # r14 addition — the FD audit's documents leg rides the blown-up
    # corpus (source → lang violating groups scale with sources, not
    # rows); the customer leg is verbatim at this tier
    "dq21_fd_audit",
    # r14 addition — per-source TVD drift: one (source, word) count
    # aggregate over the corpus, vocabulary-sized after; 1.0 s oracle
    # at 500k docs
    "tx45_source_drift",
    # r14 addition — embedding label-outlier audit: fixed-point integer
    # centroids + DECIMAL(38) distance numerators, broadcast centroid
    # frame; 0.4 s oracle at 200k vectors
    "sim17_label_outliers",
    # r14 addition — the applied-merges compression curve (tx44's
    # inference half); 2.2 s oracle at 500k docs
    "tx46_bpe_compression",
    # r15 — the Heaps'-law bigram vocabulary-growth curve: one
    # vocabulary-grain MIN aggregate over the shingle explode, linear
    # by construction (same gram pipeline as tx27, which gates here)
    "tx47_vocab_growth",
    # r16 — reference-LM perplexity filtering: the corpus pays the
    # gram explode + one doc-grain aggregate; LM tables are
    # vocabulary-bounded broadcasts and the blow-up leaves the base
    # lexicon intact (the tx44 argument), so the 8.6 s measured oracle
    # is linear in documents. The integer-scaled-log boundary risk is
    # bounded by DISTINCT probability values (vocab²-bounded), not by
    # corpus rows — ~1e-5 at this tier.
    "tx51_lm_score",
    # r17 — planted-truth near-dup recall: the gadget pairs' Jaccards
    # are closed-form from the token layout, so the oracle is O(1)
    # (one documents COUNT); the engine side runs the REAL
    # nearDupPairsWithStats over the organic 500k-doc corpus plus the
    # plant — certainty-positives (identical shingle sets), a 0.75
    # recall floor on J=27/29 pairs, verify-killed negatives, and the
    # maxBucket cap witness (4 buckets / 4800 rows) all cell-exact at
    # the decade where recall was previously unmeasured
    "tx52_planted_neardup",
    # r17 — planted ANN truth: the true top-5 is closed-form from the
    # gadget layout (separation from the organic corpus is MEASURED
    # in-gate, not assumed), so the exact bounded-heap path gates
    # cell-exact (sim23) and the LSH/IVF bucketed paths gate overlap@5
    # floors (sim24: LSH measured 0.877 at this decade vs the 0.6
    # floor; IVF 1.0 vs 0.8) — retrieval QUALITY at the decade where
    # the ANN family previously gated only determinism
    "sim23_planted_exact_topk", "sim24_planted_ann_quality",
    # r18 — sim24's floors extended to the three remaining retrieval
    # compositions: PQ/ADC (sim12's path), norm-augmented MIPS-LSH
    # (sim19's) and the prefix-LSH funnel (sim21's) each gate an
    # overlap@5 floor vs the same planted truth (PQ 0.5, MIPS 0.9,
    # funnel 0.8 — floors calibrated from measured values, pinned at
    # the base fixture by SimilarityTruthSpec). The funnel leg caps at
    # 64 gadget queries: its admitted-pair frame is Q-linear and
    # broadcast into the stage-1 join
    "sim25_planted_funnel_quality",
    # r19 — planted-truth image dedup recall: gadget 8x8 images whose
    # decoded aHashes equal their patterns exactly, so the pair census
    # (incl. the d=6-in / d=8-out radius boundary) is closed-form and
    # the oracle is O(1); the engine side decodes the organic image
    # corpus and runs the adaptive grouped-band pair search at the
    # decade where mm09's reference-aHash oracle cannot follow
    "mm21_planted_image_neardup",
    # r19 — the video twin: trim-depth gadget GIFs make the frame-set
    # Jaccard census closed-form (incl. two pairs at exactly the 0.5
    # inclusive boundary and two index-met verify-killed negatives);
    # the engine decodes the organic video corpus through the real
    # inverted-index plan at the decade where mm15's decode-literal
    # oracle cannot follow
    "mm22_planted_video_neardup",
    # r20 — planted-truth media ANN: solid-color gadgets whose content
    # vectors are bitwise identical across member sizes, so the exact
    # brute-force top-3 census is closed-form (O(1) oracle); the
    # engine side decodes the organic media corpus into the r20
    # scale-invariant content embedding and retrieves through the real
    # bruteForceTopK at the decade where media retrieval quality was
    # previously unmeasured (the r19 verdict's mm02 item)
    "mm23_planted_media_ann",
}

# The hot-key skew tier (10x volume, one key holding 10%+ of rows per
# axis): the straggler-sensitive per-user window chains, the grouped
# running total, and (r14) the operators that exist SPECIFICALLY for
# skew — the salted join (hot l_orderkey), Misra-Gries heavy hitters
# (dominant zzfiller token at ~20%), and the scalable grouped top-k
# (one language at 90%). tx06 is timed-but-not-gated here (its oracle
# renders corpus-sized band-key literals); its cell-exact skew gate
# runs at the skew0.01 tier below.
INCLUDE_SKEW = {
    "q21_sessionize", "q34_funnel", "q41_attribution", "tx18_mixture_fill",
    "q20_salted_join", "dq16_heavy_hitters", "tx21_stratified_sample",
    # r14 addition — the transition matrix's per-user LEAD window is
    # exactly the partition the planted hot user stresses (same axis
    # as q21/q34/q41)
    "q54_markov_transitions",
    # r15 — both sketches aggregate on the user axis (CMS counters +
    # user-grain exact/probe scaffolding; KMV cohort aggregate): the
    # hot user stresses the map-side partial-agg claim directly —
    # a straggler here means the partial combine is not happening
    "dq24_cms_sketch", "dq25_kmv_setops",
    # r18 — the as-of fill and the session-time walk ride the same
    # per-user window partition the hot user floods (q21/q34/q41's
    # axis); both oracles are linear window SQL, measured 0.1 s here
    "q19_asof_join", "q48_active_time",
    # r18 — tx52's planted-truth recall under a hot-key corpus: the
    # skew fixture plants its own near-dup mega-cluster, which is
    # exactly the organically-capped regime the r18 cap-witness
    # hardening exists for (total capped buckets gates as a floor,
    # the planted share stays cell-exact via the band-key-restricted
    # audit). Oracle O(1); previously impossible here because the
    # witness pinned the TOTAL cap count
    "tx52_planted_neardup",
    # r19 — the interval pair partitions on EXACTLY the flooded order
    # axis (custkey 1 holds ~10% of orders): q56's r18
    # dedup-before-windows rewrite collapses the hot key's duplicate
    # replay rows in the pre-aggregate, so this is the fixture that
    # proves that claim under real skew (measured oracle+compare:
    # 8.4 s merge / 12.8 s clip at the 10x volume); q46's rolling
    # 7-day distinct rides the hot-user event axis (0.3 s), and
    # tx35's per-source segment strike meets the planted
    # mega-duplicate cluster + dominant filler token on the document
    # axis (1.7 s)
    "q46_rolling_distinct", "q56_interval_merge", "q57_interval_clip",
    "tx35_segment_dedup",
    # r20 — the update-heavy merge pair joins the skew rows (the r19
    # verdict's named candidates): q55's bitemporal snapshot runs its
    # two key-grain window exchanges on exactly the flooded custkey
    # axis (custkey 1 holds ~10% of orders — the hot key floods one
    # version-chain partition), and st17 replays the CDC feed through
    # the real micro-batch state store with the hot key dominating the
    # changed-key state. Measured at this tier: oracle 1.6 s / 910k-row
    # compare (q55), 3.1 s / 1.41M-row compare (st17).
    "q55_bitemporal", "st17_stream_cdc_apply",
}

# The small skew tier: the IDENTICAL hot-key construction planted
# directly on sf0.01 (no blow-up), where the quadratic dedup oracles
# stay affordable — so the LSH path is gated CELL-EXACT under the
# planted mega-duplicate cluster (tx06: candidate banding, bucket
# sizing, cap replay; tx41: measured precision/recall vs the exact
# truth). tx15 is deliberately NOT gated here: its oracle PINS recall
# = 1.0 as a constant, which is a property of the organic corpus —
# the planted cluster sits at Jaccard ~0.79, inside the LSH S-curve's
# miss zone, and the honest skew-tier recall number is tx41's
# measured one, not a pinned 1.0.
INCLUDE_SKEW_SMALL = {
    "q20_salted_join", "dq16_heavy_hitters", "tx21_stratified_sample",
    "tx06_near_dup_pairs", "tx41_dedup_eval",
    "q21_sessionize", "q34_funnel", "q41_attribution", "tx18_mixture_fill",
    "q54_markov_transitions",
    # r15 — the user-axis sketches, same rationale as the 10x skew set
    "dq24_cms_sketch", "dq25_kmv_setops",
    # r18 — same three promotions as the 10x skew set (as-of fill,
    # session-time walk, planted-truth dedup recall under the planted
    # hot-key cluster)
    "q19_asof_join", "q48_active_time", "tx52_planted_neardup",
    # r19 — same four promotions as the 10x skew set (interval pair on
    # the hot custkey, rolling distinct on the hot user, segment
    # strike on the skewed corpus); all four oracles measured 0.1 s at
    # this volume
    "q46_rolling_distinct", "q56_interval_merge", "q57_interval_clip",
    "tx35_segment_dedup",
    # r20 — same two promotions as the 10x skew set (bitemporal
    # windows + CDC apply under the planted hot key); both oracles
    # measured 0.1 s at this volume
    "q55_bitemporal", "st17_stream_cdc_apply",
}

SELFCHECK_TAIL = re.compile(r"(\d+) oracle-backed checked, (\d+) failures")


def half_mem():
    """Half of MemTotal in whole GiB (at least 2), the tier-1 command's
    heap rule without its 8g cap: q43's 100x edge list and st21's
    complete-mode window-stats state store both ran out of heap at 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, kb // 2097152)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run(cmd, **kw):
    print(f"[evidence] $ {' '.join(cmd)}", flush=True)
    # The forked run JVM defaults to -Xmx8g (build.sbt); size it for the
    # box instead. A caller's own SPARK_DRIVER_MEM still wins.
    env = kw.pop("env", dict(os.environ))
    env.setdefault("SPARK_DRIVER_MEM", half_mem())
    return subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                          env=env, **kw)


def gate(sf_dir, out_dir, names=None):
    """Run Verify (optionally restricted to `names`) then selfcheck;
    return the structured gate record."""
    t0 = time.time()
    # selfcheck walks every query dir under out_dir, so leftovers from
    # an earlier (killed/partial) run would be compared against fresh
    # oracles — a stale tx15 dump cost one phantom 10x failure this
    # round. Start each gate from an empty out_dir.
    if os.path.isdir(out_dir):
        import shutil
        shutil.rmtree(out_dir)
    rec = {"sf_dir": sf_dir}
    args = f"runMain graft.Verify {sf_dir} {out_dir}"
    if names:
        args += " " + " ".join(sorted(names))
        rec["n_requested"] = len(names)
    # Verify runs at 4 cores; BlowUp and Bench use every core the JVM
    # sees (LocalSpark's default)
    v = run(["sbt", "-batch", args],
            env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
    verify_errs = [l for l in v.stderr.splitlines() if "[verify]" in l]
    rec["verify_ok"] = v.returncode == 0
    rec["verify_errors"] = verify_errs[:20]
    s = run(["python3", "tools/selfcheck.py", sf_dir, out_dir])
    rec["selfcheck_output_tail"] = s.stdout.splitlines()[-3:]
    m = SELFCHECK_TAIL.search(s.stdout)
    if m:
        rec["checked"], rec["failures"] = int(m.group(1)), int(m.group(2))
    else:
        rec["checked"], rec["failures"] = 0, -1
    rec["failed_queries"] = [
        l.split()[1].rstrip(":") for l in s.stdout.splitlines()
        if l.startswith("FAIL ")]
    rec["rows_only"] = sum(
        1 for l in s.stdout.splitlines() if "[rows-only]" in l)
    rec["wall_sec"] = round(time.time() - t0, 1)
    return rec


def bench_only():
    """Re-run ONLY the bench stage against an existing EVIDENCE.json,
    preserving every gate. Exists because the full refresh runs the
    bench LAST, on a JVM and box that just spent ~2 h on the deep
    tiers — which inflates every query uniformly (the r16 refresh read
    1.17x on per-query MINS across untouched code, starting at loadavg
    12.4).
    The bench contract says run it exclusively; this re-runs it that
    way and records the superseded total for provenance."""
    with open(os.path.join(REPO, "EVIDENCE.json")) as f:
        evidence = json.load(f)
    prev = evidence.get("bench", {})
    # A bench re-run must not silently attach timings from a different
    # commit (or a dirty tree) to gates measured at an older one: stamp
    # the bench's own provenance, and refuse a cross-commit splice
    # unless explicitly forced.
    head = run(["git", "rev-parse", "HEAD"]).stdout.strip()
    dirty = bool(run(["git", "status", "--porcelain"]).stdout.strip())
    if head != evidence.get("commit") and "--force" not in sys.argv:
        print(f"[evidence] REFUSING bench-only splice: gates measured at "
              f"{evidence.get('commit', '?')[:12]} but HEAD is {head[:12]} "
              f"(pass --force to override; the mismatch will be recorded)")
        return 1
    t0 = time.time()
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
               SPARK_GRAFT_DEEP_TIERS="1")
    bench = run(["sbt", "-batch", "runMain graft.Bench"], env=env)
    bo = os.path.join(REPO, "bench_out.json")
    if bench.returncode != 0 or not os.path.exists(bo):
        print("[evidence] bench-only rerun failed; artifact untouched")
        print("\n".join(bench.stdout.splitlines()[-10:]))
        return 1
    with open(bo) as f:
        evidence["bench"] = json.load(f)
    evidence["bench"]["wall_sec"] = round(time.time() - t0, 1)
    evidence["bench"]["commit"] = head
    evidence["bench"]["tree_dirty"] = dirty
    if prev.get("value") is not None:
        evidence["bench"]["superseded_run"] = {
            "value": prev.get("value"),
            "loadavg_start": prev.get("loadavg_start"),
            "note": "bench from the full tier refresh (hot JVM/box); "
                    "replaced by this exclusive re-run per the "
                    "run-bench-exclusively contract"}
    evidence["bench_rerun_unix"] = int(time.time())
    _write(evidence)
    print(f"[evidence] bench-only: total {evidence['bench'].get('value')}")
    return 0


def main():
    if "--bench-only" in sys.argv:
        return bench_only()
    skip_bench = "--skip-bench" in sys.argv
    skip_10x = "--skip-10x" in sys.argv
    skip_deep = "--skip-deep" in sys.argv or skip_10x
    evidence = {"generated_unix": int(time.time())}
    head = run(["git", "rev-parse", "HEAD"])
    evidence["commit"] = head.stdout.strip()
    dirty = run(["git", "status", "--porcelain"])
    evidence["tree_dirty"] = bool(dirty.stdout.strip())

    c = run(["sbt", "-batch", "compile"])
    evidence["compile_ok"] = c.returncode == 0
    if not evidence["compile_ok"]:
        evidence["compile_tail"] = c.stdout.splitlines()[-15:]
        _write(evidence)
        return 1

    evidence["gates"] = {}
    evidence["gates"]["sf0.01"] = gate(
        "/root/testdata/sf0.01", "/tmp/evidence_sf0.01")
    # the full-registry run just dumped every query: its output dirs +
    # oracle keys ARE the registry — no separate name-discovery pass
    with open("/tmp/evidence_sf0.01/oracle_sql.json") as f:
        names = set(json.load(f))
    names |= {d for d in os.listdir("/tmp/evidence_sf0.01")
              if os.path.isdir(os.path.join("/tmp/evidence_sf0.01", d))}
    evidence["registry_size"] = len(names)
    evidence["gates"]["sf0.1"] = gate(
        "/root/testdata/sf0.1", "/tmp/evidence_sf0.1",
        names - EXCLUDE_SF01_SWEEP)

    def derived_gate(tier, flavor, out_dir, gate_names,
                     src="/root/testdata/sf0.1"):
        b = run(["sbt", "-batch",
                 f"runMain graft.BlowUp {src} {flavor}"])
        m = re.search(r"BLOWUP_DIR=(\S+)", b.stdout)
        ident = re.search(r"BLOWUP_IDENTITY=(.*)", b.stdout)
        if m:
            rec = gate(m.group(1), out_dir, gate_names)
            if ident:
                try:
                    rec["fixture"] = json.loads(ident.group(1))
                except ValueError:
                    rec["fixture"] = ident.group(1)
            evidence["gates"][tier] = rec
        else:
            evidence["gates"][tier] = {
                "verify_ok": False,
                "error": "blow-up build failed",
                "tail": b.stdout.splitlines()[-10:]}

    if not skip_10x:
        derived_gate("10x", "10", "/tmp/evidence_10x", names - EXCLUDE_10X)

    if not skip_deep:
        derived_gate("100x", "rel100", "/tmp/evidence_100x",
                     names & INCLUDE_100X)
        derived_gate("skew", "skew", "/tmp/evidence_skew",
                     names & INCLUDE_SKEW)
        derived_gate("skew0.01", "skew1x", "/tmp/evidence_skew001",
                     names & INCLUDE_SKEW_SMALL, src="/root/testdata/sf0.01")
        derived_gate("corpus100", "corpus100", "/tmp/evidence_corpus100",
                     names & INCLUDE_CORPUS100)

    if not skip_bench:
        t0 = time.time()
        env = dict(os.environ,
                   SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
                   SPARK_GRAFT_DEEP_TIERS="0" if skip_deep else "1")
        bench = run(["sbt", "-batch", "runMain graft.Bench"], env=env)
        bo = os.path.join(REPO, "bench_out.json")
        if bench.returncode == 0 and os.path.exists(bo):
            with open(bo) as f:
                evidence["bench"] = json.load(f)
        else:
            evidence["bench"] = {"error": "bench failed",
                                 "tail": bench.stdout.splitlines()[-10:]}
        evidence.setdefault("bench", {})["wall_sec"] = round(time.time() - t0, 1)

    _write(evidence)
    bad = [k for k, g in evidence["gates"].items() if g.get("failures") != 0]
    print(f"[evidence] gates: " + ", ".join(
        f"{k}={g.get('checked', '?')} checked/{g.get('failures', '?')} fail"
        for k, g in evidence["gates"].items()), flush=True)
    return 1 if bad else 0


def _write(evidence):
    path = os.path.join(REPO, "EVIDENCE.json")
    with open(path, "w") as f:
        json.dump(evidence, f, indent=1)
        f.write("\n")
    print(f"[evidence] wrote {path}", flush=True)


if __name__ == "__main__":
    sys.exit(main())
