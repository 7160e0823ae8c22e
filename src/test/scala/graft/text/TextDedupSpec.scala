package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.Dedup
import graft.util.PlanCache

class TextDedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("tokenCount / normalize / fingerprint") {
    val df = Seq((1L, "The  Fast   fox"), (2L, "the fast fox"), (3L, "other text"))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L)) // same after normalization
    assert(fps(1L) != fps(3L))
    val counts = df.select(TextAnalysis.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(counts.contains(3))
  }

  test("quality score favors diverse, low-stopword text") {
    val df = Seq(
      (1L, "the the the the"),           // all stopwords, repetitive
      (2L, "quick brown fox jumps"))     // diverse, no stopwords
      .toDF("doc_id", "text")
    val scores = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(2L) == 1.0)
    assert(scores(1L) < 0.3)
  }

  test("langId picks the language with most marker hits, deterministically") {
    val df = Seq(
      (1L, "the cat and the dog is here"),
      (2L, "el perro y la casa de que y"))
      .toDF("doc_id", "text")
    val langs = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en")
    assert(langs(2L) == "es")
  }

  test("shingles: w-token windows; short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L).isEmpty)
  }

  test("exact dedup groups identical normalized content") {
    val df = Seq((1L, "same text here"), (2L, "SAME  text here"), (3L, "unique"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("keeper") == 1L)
  }

  test("MinHash-LSH finds planted near-duplicates, skips unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("SimHash LSH finds planted near-duplicates via bit-band candidates") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val unrelated = (200 to 260).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups(df, "doc_id", "text", maxHamming = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("MinHash-LSH recall vs exact Jaccard ground truth is measured, not assumed") {
    // real corpus with planted near-dups (all truth pairs have J ≥ 0.88
    // at this scale, so the 16-hash/4-band S-curve predicts ≥ 0.98
    // per-pair detection — the floor below leaves room for unlucky bands)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val truth = Dedup.allPairsJaccard(docs, "doc_id", "text", minJaccard = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.nearDupPairs(docs, "doc_id", "text", minJaccard = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture lost its planted near-duplicates")
    // precision is 1 by construction (candidates are verified with the
    // exact Jaccard before emission) — check it anyway
    assert(found.subsetOf(truth),
      s"LSH emitted pairs missing from ground truth: ${found.diff(truth)}")
    val recall = found.size.toDouble / truth.size
    info(f"MinHash-LSH recall at sf0.001: ${found.size}/${truth.size} = $recall%.3f")
    assert(recall >= 0.85, f"recall $recall%.3f below the seeded floor 0.85")
  }

  test("MinHash banded self-join: size-gated — broadcast at fixture scale, hinted hash above") {
    // r22: the SHUFFLE_HASH hint is gated on the banded frame's size —
    // below the broadcast threshold it must NOT bind (r21's version
    // bound unconditionally and displaced AQE's broadcast at sf0.1;
    // driver-measured −9% on tx06), above it the hint still kills the
    // corpus-scale sort-merge sorts. Both branches are pinned on the
    // SPECIFIC banded join node, located by its (band, band_hash) keys:
    // an unrelated join elsewhere in the plan falling back to
    // sort-merge must not fail this test.
    PlanCache.releaseAll()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", minJaccard = 0.7)
    pairs.collect() // execute so AQE's FINAL plan is the witness
    val fin = pairs.queryExecution.executedPlan.toString
    assert(!fin.contains("SortMergeJoin [band"),
      s"banded self-join must never sort the banded frame:\n$fin")
    assert(!fin.contains("ShuffledHashJoin [band"),
      s"at fixture scale the gate must leave AQE free to broadcast:\n$fin")
    assert(fin.contains("BroadcastHashJoin [band"),
      s"expected the banded join broadcast at fixture scale:\n$fin")

    // above broadcast scale (forced cheaply by shrinking the threshold
    // under the fixture's banded-frame estimate) the hint must bind
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "1024")
      PlanCache.releaseAll()
      val hinted = Dedup.nearDupPairs(docs, "doc_id", "text", minJaccard = 0.7)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("ShuffledHashJoin [band"),
        s"above broadcast scale the banded join must hash:\n$hinted")
      assert(!hinted.contains("SortMergeJoin [band"),
        s"banded self-join must never sort the banded frame:\n$hinted")
    } finally {
      spark.conf.set(conf, saved)
      PlanCache.releaseAll()
    }
  }

  test("maxBucket cap witness: zero on the fixture corpus, fires on boilerplate") {
    // the recall measurement above is only honest if nothing was capped —
    // assert the witness says so on the same corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (_, stats) = Dedup.nearDupPairsWithStats(docs, "doc_id", "text")
    val s = stats.collect().head
    assert(s.getAs[Long]("n_buckets") > 0)
    assert(s.getAs[Long]("capped_buckets") == 0L,
      "cap fired on the fixture corpus — recall claims are void")
    assert(s.getAs[Long]("dropped_rows") == 0L)

    // a boilerplate corpus (many identical docs) lands in one bucket per
    // band: with maxBucket below the corpus size the metric must FIRE,
    // reporting exactly what was discarded instead of silently dropping
    val boiler = (1 to 50).map(i => (i.toLong, "same boilerplate text repeated here"))
      .toDF("doc_id", "text")
    val (pairs, bstats) = Dedup.nearDupPairsWithStats(boiler, "doc_id", "text",
      maxBucket = 10)
    val b = bstats.collect().head
    assert(b.getAs[Long]("capped_buckets") == 4L) // all 4 bands capped
    assert(b.getAs[Long]("dropped_rows") == 200L) // 50 docs × 4 bands
    assert(pairs.count() == 0L) // every pair lived in capped buckets: dropped
  }

  test("SimHash bit-band LSH is exactly exhaustive for maxHamming < bands") {
    // pigeonhole: d bit-flips can corrupt at most d of the 8 bands, so a
    // pair at Hamming ≤ 6 < 8 agrees on ≥ 2 bands and MUST collide —
    // prove the banding is lossless on data, not just on paper
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.select(col("doc_id").as("id"), Dedup.simHash64(col("text")).as("h"))
    val a = base.select(col("id").as("id_a"), col("h").as("h_a"))
    val b = base.select(col("id").as("id_b"), col("h").as("h_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.HashExpressions.hamming64(col("h_a"), col("h_b")).as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 6, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      s"banding lost pairs: ${brute.diff(banded)}; invented: ${banded.diff(brute)}")

    // the production (6, 10) scheme — UNEVEN chunk widths (six 6-bit +
    // four 7-bit) and grouped quadruples — must produce the identical
    // pair set: the banding is an index, never a semantics knob
    val banded10 = Dedup.simHashNearDups(docs, "doc_id", "text",
        maxHamming = 6, bands = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded10 == brute,
      s"(6,10) banding lost pairs: ${brute.diff(banded10)}; " +
        s"invented: ${banded10.diff(brute)}")
  }

  test("grouped-band math: widths cover 64 bits, group size hits the pigeonhole limit") {
    // uneven split: Σ widths = 64 at every band count, wider chunks first
    for (bands <- 1 to 64) {
      val w = Dedup.bandWidths(bands)
      assert(w.sum == 64 && w.length == bands, s"bands=$bands widths=$w")
      assert(w.max - w.min <= 1 && w == w.sorted.reverse, s"bands=$bands widths=$w")
    }
    // r = slack whenever C(bands, slack) fits the row-fanout cap ...
    assert(Dedup.groupSize(6, 8, 256) == 2)   // the r13 grouped-pair scheme
    assert(Dedup.groupSize(6, 10, 256) == 4)  // mm09/tx09 production: C(10,4)=210
    assert(Dedup.groupSize(3, 8, 256) == 5)   // C(8,5)=56, 40-bit keys
    assert(Dedup.groupSize(7, 8, 256) == 1)   // slack 1: singles only
    assert(Dedup.groupSize(0, 8, 256) == 8)   // exact-dup degenerate: full key
    // ... and backs off toward fewer groups when it doesn't
    assert(Dedup.groupSize(8, 16, 256) == 2)  // C(16,8)=12870 > 256 → r=2 (120)

    // the count-adaptive ladder (maxHamming = 6, the mm09/tx09 radius):
    // each step trades ~3× banded rows for ~10× fewer random
    // collisions, so the crossovers sit where the measured cost model
    // (β ≈ 4 candidate:banded row ratio) says the quadratic term
    // overtakes — grouped pairs at the gate tiers, triples at the
    // corpus100 decade, quadruples the decade after
    assert(Dedup.autoBands(6, 3300L) == 8)      // sf0.1: pairs, 2^16 keys
    assert(Dedup.autoBands(6, 33000L) == 8)     // 10x: still pairs
    assert(Dedup.autoBands(6, 330000L) == 9)    // corpus100: triples, ≥2^21
    assert(Dedup.autoBands(6, 3300000L) == 10)  // next decade: quads, ≥2^24
  }

  test("shingle-projection cache: memoized per source, flushed by releaseAll") {
    PlanCache.releaseAll()
    assert(Dedup.cachedBaseCount == 0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two calls over the same source + parameters share one entry…
    Dedup.nearDupPairs(docs, "doc_id", "text").count()
    Dedup.nearDupPairs(docs, "doc_id", "text").count()
    assert(Dedup.cachedBaseCount == 1)
    // …a different projection (allPairsJaccard's) keys a second…
    Dedup.allPairsJaccard(docs, "doc_id", "text").count()
    assert(Dedup.cachedBaseCount == 2)
    // …and the flush unpersists everything (no leaked persisted frames)
    PlanCache.releaseAll()
    assert(Dedup.cachedBaseCount == 0)
  }

  test("cap audit and pair run share ONE cached projection (the r19 single-site pin)") {
    // the cache keys on the canonicalized plan, so if cappedBuckets'
    // projection ever drifts from nearDupPairsWithStats' (the verbatim
    // duplication the r18 ADVICE flagged), the audit silently measures
    // DIFFERENT banding than the pairs it audits — the only observable
    // symptom is a second cache entry. Refuse it here.
    PlanCache.releaseAll()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.nearDupPairs(docs, "doc_id", "text").count()
    Dedup.cappedBuckets(docs, "doc_id", "text").count()
    assert(Dedup.cachedBaseCount == 1,
      "cappedBuckets keyed a second projection — the audit no longer " +
        "measures the banding the pair run used")
    PlanCache.releaseAll()
  }

  test("PlanCache.releaseAll flushes every operator-level plan cache") {
    // the bench's cold-cost mode depends on this being a FULL flush —
    // a straggler cache keeps multi-GB persisted frames crowding the
    // next query's execution memory (measured 7× inflation at the
    // corpus-100× tier)
    // delta-based: earlier suites in the same JVM may hold their own
    // (non-PlanCache) persisted frames; this pin owns only what THIS
    // test creates
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.nearDupPairs(docs, "doc_id", "text").count()
    assert(Dedup.cachedBaseCount >= 1)
    PlanCache.releaseAll()
    assert(Dedup.cachedBaseCount == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"releaseAll must leave no persisted RDD behind, leaked ids: $leaked")
  }

  test("no cached dataset or scratch dir outlives PlanCache.releaseAll after mp05, mm01, sim05, sim12, tx06 and the io queries") {
    val dir = s"${sys.props("user.home")}/testdata/sf0.001"
    val queries = Seq("mp05_av_documents", "mm01_media_features", "sim05_ivf_ann",
        "sim12_pq_ann", "tx06_near_dup_pairs").map(graft.queries.Registry.byName) ++
      graft.queries.Registry.all.filter(_.name.startsWith("io"))
    assert(queries.size == 29)
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries(): Set[String] =
      Option(tmpRoot.list()).getOrElse(Array.empty).filter(_.startsWith("graft-")).toSet
    // CacheManager.numCachedEntries is private[sql] in Scala, public in
    // bytecode (the same read as StreamingSpec's st cleanup test)
    val cacheManager = spark.sharedState.cacheManager
    def cachedDatasets(): Int = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    // every leak is collected, so one run names all of them
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    PlanCache.releaseAll()
    queries.foreach { q =>
      val cachedBefore = cachedDatasets()
      val tmpBefore = graftEntries()
      q.run(spark, dir).count()
      PlanCache.releaseAll()
      val cached = cachedDatasets() - cachedBefore
      if (cached != 0) leaks += s"${q.name}: $cached cached datasets after releaseAll"
      val grown = graftEntries() -- tmpBefore
      if (grown.nonEmpty) leaks += s"${q.name}: left ${grown.mkString(", ")} in java.io.tmpdir"
    }
    // memoization still hits: a repeat run without a flush adds no entry
    Seq("mp05_av_documents", "mm01_media_features").map(graft.queries.Registry.byName)
      .foreach { q =>
        q.run(spark, dir).count()
        val first = cachedDatasets()
        q.run(spark, dir).count()
        if (cachedDatasets() != first)
          leaks += s"${q.name}: a repeat run cached ${cachedDatasets() - first} more datasets"
      }
    PlanCache.releaseAll()
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }

  test("SimHash: near-identical docs have small Hamming distance, unrelated large") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val unrelated = (200 to 260).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val hs = df.select(col("doc_id"), Dedup.simHash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(1L), hs(2L)) < 12)
    assert(hamming(hs(1L), hs(3L)) > 16)
  }

  test("connectedComponents: transitive closure across a chain, disjoint components stay apart") {
    // 5-4-3-2-1 chain (worst case for min-propagation: the min label
    // must travel the full diameter) + a separate 2-clique + a pair
    // whose edge arrives in (high, low) order
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (21L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val want = Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true), (21L, 20L, false))
    assert(got.toSeq == want)
  }

  test("connectedComponents: adversarial diameter — 64-path converges in O(log D) rounds") {
    // A path graph of diameter 64 is the pathology for plain min-label
    // propagation (the min travels ONE hop per round → 64 shuffle
    // rounds); pointer-jumping must collapse it in ~log2(64)+c rounds.
    // A same-size star rides along to prove the compression step
    // doesn't disturb an already-shallow component, plus a singleton
    // edge for the trivial case.
    val n = 64
    val path = (0 until n).map(i => (i.toLong, (i + 1).toLong))
    val star = (1 to n).map(i => (1000L, 1000L + i))
    val pairs = (path ++ star :+ (5000L, 5001L)).toDF("id_a", "id_b")
    val (labelled, rounds) =
      Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b", maxIter = 20)
    val got = labelled.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    // every path node collapses to 0, every star node to the hub's min
    assert(got.filter(_._1 <= n).forall(t => t._2 == 0L && (t._3 == (t._1 == 0L))))
    assert(got.filter(t => t._1 >= 1000L && t._1 <= 1000L + n)
      .forall(t => t._2 == 1000L && (t._3 == (t._1 == 1000L))))
    assert(got.filter(_._1 >= 5000L).forall(_._2 == 5000L))
    // the scale claim: logarithmic rounds, not diameter rounds. log2(64)
    // = 6; +4 slack for the convergence-detection round and join
    // asymmetry. A regression to one-hop propagation reads ~64 here.
    assert(rounds <= 10, s"expected O(log D) rounds for diameter $n, got $rounds")
  }

  test("tx32 fuzzy dedup: blocked pairs only, ordered ids, bounded distances") {
    // semantics spot-check on the fixture corpus (the oracle gate holds
    // the full contract): every emitted pair shares the 12-char
    // blocking prefix, ids are canonically ordered, and the verify
    // stage's threshold binds
    val out = graft.queries.Registry.byName("tx32_fuzzy_dedup")
      .run(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, _) => a < b })
    assert(out.forall { case (_, _, d) => d >= 0 && d <= 64 })
    val byId = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    assert(out.forall { case (a, b, _) =>
      byId(a).take(12) == byId(b).take(12) })
    // edit distance 0 pairs are prefix-identical — the verify stage
    // must agree with a direct recomputation on at least one pair
    val (a, b, d) = out.head
    def lev(x: String, y: String): Int = {
      val dp = Array.tabulate(x.length + 1)(i => i)
      for (j <- 1 to y.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to x.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(x.length)
    }
    assert(lev(byId(a).take(256), byId(b).take(256)) == d)
  }
}
