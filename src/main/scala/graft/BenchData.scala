package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic 10× blow-up of the text/similarity corpora for the
 * third bench scaling point (sf0.01 → sf0.1 → 10×sf0.1).
 *
 * Built to scale HONESTLY, not degenerately: naive row duplication
 * would plant 10 exact/near duplicates of every document and 10
 * colinear copies of every vector, turning the dedup and near-dup
 * queries quadratic BY CONSTRUCTION (10× data → 45× pairs) — a
 * benchmark of the fixture, not the engine. Instead:
 *
 *  - documents: copy k ≥ 1 suffixes every token with `#k`, so shingle
 *    sets across copies are disjoint (no cross-copy near-dups) while
 *    each copy group keeps the fixture's internal planted-dup
 *    structure — pair counts scale exactly linearly;
 *  - embeddings: copy k ≥ 1 adds a small deterministic per-(copy,
 *    dimension) jitter, decorrelating the copies so LSH buckets and
 *    IVF cells deepen ~10× (what real 10× data does) instead of
 *    collapsing onto identical signatures.
 *
 * The relational headliners (q01/q15/q26) get their own decade point:
 * lineitem/orders/customer/events duplicate with SHIFTED KEYS (copy k
 * offsets every key by k × max+1), so each copy is a disjoint
 * key-space replica — per-customer order counts, per-order line
 * counts, and per-user event counts all stay constant, and the joins,
 * window partitions, and group-bys scale exactly linearly the way 10×
 * more real customers/orders/users would. Dates are NOT shifted: the
 * key offsets already make copies non-identical, and a ±k-day shift
 * would move rows across q01/q26's date-filter boundaries (the sf0.1
 * fixture spans them), making copy cardinalities drift sub-1% and the
 * 10× point not exactly linear.
 *
 * Copy 0 is the untouched base corpus. The blow-up writes once per
 * machine (marker file, versioned — adding tables invalidates old
 * dirs) and is reused across bench runs.
 */
object BenchData {

  // bump when the blow-up construction changes: v2 added the
  // relational tables for the q01/q15/q26 decade point; v3 dropped
  // the lineitem/orders date shifts (they crossed filter boundaries);
  // v4 records the fixture's identity (version + per-table row
  // counts) in the marker so every bench_out.json self-documents
  // exactly what data its 10× ratios were measured against; v5 copies
  // the dimension tables verbatim so the DuckDB ORACLE gate can run
  // at this tier too (dims deliberately do NOT scale with the facts —
  // 10× more orders does not mean 10× more nations, and the
  // key-shifted fact replicas reference the original dim keys)
  private val Version = "v5"

  private val dims = Seq("region", "nation", "supplier", "part")

  private val tables = Seq("documents", "embeddings", "lineitem",
    "orders", "customer", "events") ++ dims

  /** Short tag of the source dir PATH, part of every derived dir's
    * reap scope: two sources (sf0.001 in a spec, sf0.1 in the bench)
    * produce SIBLING generations under the same factor, and a reaper
    * keyed on factor alone would delete one source's current dir as
    * the other's stale generation — observed: a spec build from
    * sf0.001 reaped the bench's sf0.1-derived 10× tier. Staleness is
    * only meaningful per (factor, source). */
  private def srcTag(srcDir: String): String = {
    val canonical = new java.io.File(srcDir).getCanonicalPath
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
  }

  /** Fingerprint of the SOURCE fixture files (size + mtime per table):
    * folded into the blow-up dir name so a driver-side fixture
    * regeneration invalidates every derived dir automatically — a
    * version bump only tracks CONSTRUCTION changes, and reusing a
    * blow-up derived from replaced fixtures would time (and gate)
    * against data that no longer exists. */
  private[graft] def sourceFingerprint(srcDir: String): String = {
    val sig = tables.sorted.map { t =>
      val f = new java.io.File(srcDir, s"$t.parquet")
      s"$t:${f.length}:${f.lastModified}"
    }.mkString("|")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sig.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
  }

  def ensureBlowUp(spark: SparkSession, srcDir: String, factor: Int): String = {
    val fp = sourceFingerprint(srcDir)
    val tmpRoot = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val dst = new java.io.File(tmpRoot, s"graft-blowup-${factor}x-${srcTag(srcDir)}-$Version-$fp")
    val marker = new java.io.File(dst, "_BLOWUP_COMPLETE")
    if (!marker.exists()) {
      dst.mkdirs()
      writeDocuments(spark, srcDir, dst.toString, factor)
      writeEmbeddings(spark, srcDir, dst.toString, factor)
      writeRelational(spark, srcDir, dst.toString, factor)
      dims.foreach { t =>
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      // identity, computed once at build time: counting here (not per
      // bench run) keeps reuse runs scan-free; stale siblings reaped
      // only after this build succeeded
      finishDir(spark, dst, tmpRoot, s"graft-blowup-${factor}x-${srcTag(srcDir)}-",
        s""""version":"$Version","factor":$factor,"source_fp":"$fp"""")
    }
    dst.toString
  }

  /**
   * Relational-only blow-up at an arbitrary factor — the 100× decade
   * tier (two decades past the driver's gate scale). Only the
   * relational/event facts scale (key-shifted replicas, exactly like
   * the 10× construction); documents/embeddings copy VERBATIM so every
   * oracle view still binds, but no corpus query is gated here — the
   * tier exists to stress the RELATIONAL exchange machinery (range-
   * exchange prefix sums, funnel windows, AQE) at ~60 M lineitem rows,
   * where the 10× tier's plans get a full extra decade of partitions.
   */
  def ensureRelationalBlowUp(spark: SparkSession, srcDir: String,
                             factor: Int): String = {
    val fp = sourceFingerprint(srcDir)
    val tmpRoot = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val dst = new java.io.File(tmpRoot, s"graft-blowup-rel-${factor}x-${srcTag(srcDir)}-$Version-$fp")
    val marker = new java.io.File(dst, "_BLOWUP_COMPLETE")
    if (!marker.exists()) {
      dst.mkdirs()
      writeRelational(spark, srcDir, dst.toString, factor)
      (dims ++ Seq("documents", "embeddings")).foreach { t =>
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      finishDir(spark, dst, tmpRoot, s"graft-blowup-rel-${factor}x-${srcTag(srcDir)}-",
        s""""version":"$Version","flavor":"relational","factor":$factor,"source_fp":"$fp"""")
    }
    dst.toString
  }

  // skew-construction version, folded into skew dir names only (the
  // main blow-up dirs are untouched by skew construction changes, so
  // bumping this must not force their rebuild): s2 added the hot
  // lineitem join key, the mega-duplicate document cluster, and the
  // dominant filler token
  private val SkewVersion = "s2"

  /**
   * Corpus-only blow-up at an arbitrary factor — the 100× TEXT/
   * SIMILARITY decade tier (~500k documents / ~200k vectors from
   * sf0.1), the mirror of [[ensureRelationalBlowUp]]: only documents
   * and embeddings scale (the same honest construction as the 10×
   * tier — token-suffixed copies with disjoint shingle sets, jittered
   * decorrelated vectors), the relational tables copy VERBATIM so
   * every oracle view still binds. The tier exists to extend the
   * sub-quadratic dedup/ANN scaling curves (banded LSH, DPP-pruned
   * IVF, grouped-band Hamming) over TWO decades instead of one —
   * quadratic terms that hide inside a single decade's constant
   * cannot hide across two.
   */
  def ensureCorpusBlowUp(spark: SparkSession, srcDir: String,
                         factor: Int): String = {
    val fp = sourceFingerprint(srcDir)
    val tmpRoot = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val dst = new java.io.File(tmpRoot, s"graft-blowup-corpus-${factor}x-${srcTag(srcDir)}-$Version-$fp")
    val marker = new java.io.File(dst, "_BLOWUP_COMPLETE")
    if (!marker.exists()) {
      dst.mkdirs()
      writeDocuments(spark, srcDir, dst.toString, factor)
      writeEmbeddings(spark, srcDir, dst.toString, factor)
      (dims ++ Seq("lineitem", "orders", "customer")).foreach { t =>
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      // events round-trips through the layout-adaptive loader like the
      // relational blow-up does (a verbatim file copy would be fine
      // today; the loader keeps this robust to a fixture layout flip)
      graft.sources.Tables.eventsRaw(spark, srcDir)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      finishDir(spark, dst, tmpRoot, s"graft-blowup-corpus-${factor}x-${srcTag(srcDir)}-",
        s""""version":"$Version","flavor":"corpus","factor":$factor,"source_fp":"$fp"""")
    }
    dst.toString
  }

  /**
   * Skew variant: the same data volume with one genuinely HOT key
   * planted per axis, so the straggler-free claims AND the operators
   * that exist specifically for skew (salted join, LSH bucket cap,
   * Misra–Gries, scalable grouped top-k) meet real skew instead of the
   * fixtures' uniform keys:
   *
   *  - events: every 10th event (by event_id) reassigns to user 1 —
   *    one user owns ≥10% of all events, plus its organic share;
   *  - orders: every 10th order reassigns to custkey 1;
   *  - lineitem: every 10th line reassigns to l_orderkey 1 — one JOIN
   *    key holds ~10% of the fact side (q20's salted join is the
   *    designed defense);
   *  - documents, three planted pathologies at once:
   *      · lang: 90% of docs reassign to "en" (tx18/tx21's dominant
   *        group);
   *      · a MEGA-DUPLICATE cluster: docs with doc_id % 20 == 3 (5%)
   *        become near-identical — a fixed 60-token body plus a
   *        3-token per-doc tail (pairwise shingle Jaccard ≈ 0.79, all
   *        cluster members collide in the same LSH buckets; at the 10×
   *        tier the cluster is 2,500 docs, past tx06's maxBucket cap —
   *        the cap's anti-join is the designed defense);
   *      · a DOMINANT token: every doc appends a run of `zzfiller`
   *        sized at 1/4 of its token count, so one token carries ~20%
   *        of the whole corpus token stream (dq16's Misra–Gries is the
   *        designed defense). The run collapses to ~1 distinct shingle
   *        per doc, so it cannot glue unrelated docs into LSH buckets.
   *
   * Everything else copies verbatim. Deterministic (pure key/text
   * arithmetic), so the DuckDB oracles rebuild the identical skewed
   * tables and every gated query stays cell-exact.
   *
   * `blowUp = true` (the bench tier) plants skew on the 10× blow-up;
   * `blowUp = false` plants the IDENTICAL construction directly on the
   * source fixture — the small-tier variant whose corpus is ~500 docs,
   * where the quadratic tx06/tx41 oracles are affordable, so the LSH
   * path can be gated CELL-EXACT under the mega-cluster (at the big
   * tier it is timed, not oracle-gated).
   */
  def ensureSkewed(spark: SparkSession, srcDir: String,
                   blowUp: Boolean = true): String = {
    val src = if (blowUp) ensureBlowUp(spark, srcDir, factor = 10) else srcDir
    // identity follows the SOURCE's marker/fingerprint: a regeneration
    // invalidates this dir transitively
    val basis = if (blowUp) blowUpIdentity(src) else sourceFingerprint(srcDir)
    val fp = java.security.MessageDigest.getInstance("SHA-256")
      .digest(basis.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val tag = if (blowUp) "skew" else "skew1x"
    val tmpRoot = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val dst = new java.io.File(tmpRoot,
      s"graft-blowup-$tag-${srcTag(srcDir)}-$Version-$SkewVersion-$fp")
    val marker = new java.io.File(dst, "_BLOWUP_COMPLETE")
    if (!marker.exists()) {
      dst.mkdirs()
      graft.sources.Tables.eventsRaw(spark, src)
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(10)) === 0, lit(1L))
            .otherwise(col("user_id")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      spark.read.parquet(s"$src/orders.parquet")
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(10)) === 0, lit(1L))
            .otherwise(col("o_custkey")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      // hot JOIN key: the (orderkey × 7 + linenumber) residue picks
      // ~1/10 of lines independent of their order, all sent to key 1
      spark.read.parquet(s"$src/lineitem.parquet")
        .withColumn("l_orderkey",
          when(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(10)) === 0,
            lit(1L)).otherwise(col("l_orderkey")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
      val clusterText = concat_ws(" ",
        lit((1 to 60).map(i => f"megadup$i%02d").mkString(" ")),
        concat(lit("tva"), pmod(col("doc_id"), lit(11))),
        concat(lit("tvb"), pmod(col("doc_id"), lit(13))),
        concat(lit("tvc"), pmod(col("doc_id"), lit(17))))
      val bodied = when(pmod(col("doc_id"), lit(20)) === 3, clusterText)
        .otherwise(col("text"))
      val fillN = floor(size(split(bodied, " ")) / 4)
        .cast(org.apache.spark.sql.types.IntegerType)
      val filled = when(fillN > 0,
        concat_ws(" ", bodied, array_join(array_repeat(lit("zzfiller"), fillN), " ")))
        .otherwise(bodied)
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), filled.as("text"),
          when(pmod(col("doc_id"), lit(10)) =!= 0, lit("en"))
            .otherwise(col("lang")).as("lang"),
          col("source"),
          length(filled).cast("long").as("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      (dims ++ Seq("customer", "embeddings")).foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      finishDir(spark, dst, tmpRoot, s"graft-blowup-$tag-${srcTag(srcDir)}-",
        s""""version":"$Version-$SkewVersion","flavor":"$tag","factor":${if (blowUp) 10 else 1},"source_fp":"$fp"""")
    }
    dst.toString
  }

  /** Count the finished dir's tables, write its completion marker, and
    * reap stale COMPLETED sibling generations (after-success + own-
    * marker-only, so an in-progress sibling build is never deleted
    * under its builder). */
  private def finishDir(spark: SparkSession, dst: java.io.File,
                        tmpRoot: java.io.File, prefix: String,
                        identityHead: String): Unit = {
    val counts = tables.map { t =>
      val n = spark.read.parquet(s"$dst/$t.parquet").count()
      s""""$t":$n"""
    }.mkString(",")
    java.nio.file.Files.write(
      new java.io.File(dst, "_BLOWUP_COMPLETE").toPath,
      (s"""{$identityHead,"rows":{$counts}}""" + "\n").getBytes("UTF-8"))
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        f.getName != dst.getName &&
        new java.io.File(f, "_BLOWUP_COMPLETE").isFile)
      .foreach(graft.util.Scratch.delete)
  }

  /** The marker file's identity JSON (version + per-table row counts),
    * for embedding into bench diagnostics; "null" if unreadable. */
  def blowUpIdentity(dir: String): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_BLOWUP_COMPLETE")), "UTF-8").trim
      if (s.startsWith("{")) s else "null"
    } catch { case _: Throwable => "null" }

  /** Key-shifted replicas of one table: every column in `keyCols`
    * offsets by k × (its own max + 1) so copies occupy disjoint key
    * ranges. Everything else passes through untouched. */
  private def replicate(df: DataFrame, factor: Int,
                        keyCols: Seq[String]): DataFrame = {
    val spans: Map[String, Long] = keyCols.map { c =>
      c -> (df.agg(max(col(c))).head().getLong(0) + 1L)
    }.toMap
    val copies = (0 until factor).map { k =>
      keyCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(k * spans(c)))
      }
    }
    copies.reduce(_ unionByName _)
  }

  private def writeRelational(spark: SparkSession, src: String, dst: String,
                              factor: Int): Unit = {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    // orders and lineitem must shift l_orderkey/o_orderkey by the SAME
    // span or copy k's lines would join copy j's orders
    val ordSpan = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    val custSpan = spark.read.parquet(s"$src/customer.parquet")
      .agg(max(col("c_custkey"))).head().getLong(0) + 1L
    (0 until factor).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * ordSpan))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    (0 until factor).map { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * ordSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(k * custSpan))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    replicate(spark.read.parquet(s"$src/customer.parquet"), factor,
      keyCols = Seq("c_custkey"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    // events: ts round-trips whichever layout the fixture has (INT64
    // nanos under the legacy conf, or native TIMESTAMP(MICROS) — see
    // Tables.eventsRaw, which scopes the legacy conf to the layout
    // that needs it); the replicated copy reads back identically
    // because the loader adapts to the written type
    replicate(graft.sources.Tables.eventsRaw(spark, src), factor,
      keyCols = Seq("event_id", "user_id"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
  }

  private def writeDocuments(spark: SparkSession, src: String, dst: String,
                             factor: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val copies: Seq[DataFrame] = (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else concat_ws(" ",
          transform(split(col("text"), " "), t => concat(t, lit(s"#$k"))))
      docs.select(
        (col("doc_id") + lit(k * n)).as("doc_id"),
        text.as("text"),
        col("lang"),
        col("source"),
        length(text).cast("long").as("n_chars"))
    }
    copies.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
  }

  private def writeEmbeddings(spark: SparkSession, src: String, dst: String,
                              factor: Int): Unit = {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val copies: Seq[DataFrame] = (0 until factor).map { k =>
      val vec =
        if (k == 0) col("embedding")
        else transform(col("embedding"),
          // ±0.03 deterministic per-(copy, slot) jitter — enough to
          // decorrelate signatures, small enough to keep the corpus
          // geometry (unclustered, max cos ~0.46) representative
          (x, j) => x + ((lit(k * 31) + j) % 7 - lit(3)).cast("float") * lit(0.01f))
      emb.select(
        (col("vec_id") + lit(k * n)).as("vec_id"),
        vec.as("embedding"),
        col("label"))
    }
    copies.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }
}
