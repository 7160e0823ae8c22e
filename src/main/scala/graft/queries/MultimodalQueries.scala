package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.sources.Tables

/**
 * Multimodal pipeline queries. Image payloads are REAL PNGs (decoded
 * with the JDK's `javax.imageio` — actual pixels) and audio payloads
 * REAL WAVs (decoded with `javax.sound.sampled` — actual PCM samples);
 * both rendered deterministically into the fixture, no external
 * library. Video stays behind the declared stub boundary (the JDK
 * ships no video codec). mm04/mm06 put the real decodes under the
 * oracle gate: the oracle predicts the dimensions / sample counts a
 * correct decode must read out of the bytes; mm01 gates the per-kind
 * media statistics (PNG byte totals via an oracleGen re-render).
 * mm02/mm07 gate the feature-vector pipeline the same way: per-media
 * vectors/norms recomputed driver-side from re-rendered payloads
 * render as VALUES literals, and DuckDB re-derives the downstream
 * norm/similarity math independently. mm03 keeps the UTF-8 path so
 * byte/frame counts stay independently computable.
 */
object MultimodalQueries {

  // decode-once: a real pipeline materializes decoded features rather
  // than re-running the (pixel-bound) decode per downstream query.
  // Keyed on the documents scan: the feature frame's own plan cannot
  // key it, because mapPartitions closures canonicalize per instance.
  private val featureCache = new graft.util.PlanCache(maxEntries = 2)

  private[queries] def features(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    featureCache.persistedFor(docs) {
      Multimodal.extractFeatures(
        Multimodal.mediaWithRealImages(docs), Multimodal.ImageIoDecoder).toDF()
    }
  }

  private def stubFeatures(spark: SparkSession, dir: String) =
    Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(Tables.documents(spark, dir)),
      Multimodal.StubDecoder)

  /** The fixture's doc ids of one media kind (doc_id % 3 indexes
    * [[Multimodal.Kinds]]), in scan order, for the oracle generators. */
  private def kindIds(spark: SparkSession, dir: String, kind: String): Seq[Long] =
    Tables.documents(spark, dir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === Multimodal.Kinds.indexOf(kind))
      .collect().map(_.getLong(0)).toSeq

  /** Fixture PNG of image row `id`, re-rendered for an oracle generator. */
  private def fixturePng(id: Long): Array[Byte] = {
    val (w, h) = Multimodal.imageSize(id)
    Multimodal.renderPng(id, w, h)
  }

  /** Formula-predicted frame hashes of every fixture video, as
    * (media_id, frame_idx, n_frames, frame_hash) in scan order — the
    * relation mm11, mm15, mm18, mm19 and mm20's oracles embed. With
    * `withTrims`, each trimmed video's rows follow its base: frames
    * 1 until n under id + [[Multimodal.TrimVariantOffset]]
    * ([[Multimodal.mediaWithTrimmedVideos]]'s population). */
  private def referenceFrameRows(spark: SparkSession, dir: String,
                                 withTrims: Boolean): Seq[(Long, Int, Int, Long)] =
    kindIds(spark, dir, "video").flatMap { id =>
      val (w, h) = Multimodal.imageSize(id)
      val n = Multimodal.gifFrameCount(id)
      def frames(mediaId: Long, from: Int) = (from until n).flatMap(f =>
        ReferenceHashes.gifFrameHash64(id, w, h, f).map(hash => (mediaId, f, n - from, hash)))
      frames(id, 0) ++
        (if (withTrims && id % 6 == 5) frames(id + Multimodal.TrimVariantOffset, 1) else Nil)
    }

  // ---- mm01: per-kind media statistics, ORACLE-GATED. n_media /
  //      total_frames / total_bytes are exact functions of the fixture
  //      (audio frames = wavSampleCount, audio bytes = 44-byte
  //      canonical WAV header + 2·samples, video = stub formulas over
  //      UTF-8 text) — all recomputed independently in SQL. The one
  //      non-SQL term, the image kinds' total PNG bytes (deflate
  //      output), renders as a data-fitted literal the oracleGen
  //      derives by RE-RENDERING the deterministic fixture PNGs — the
  //      sim05-centroid recipe. The decoder-specific feature norms
  //      (pixel/PCM statistics no SQL engine can recompute) live on the
  //      rows-only mm07. ----
  private def mm01(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_frames")).as("total_frames"),
        sum(col("n_bytes")).as("total_bytes"))

  // ---- mm07: per-kind mean feature-vector norm over REAL decoded
  //      pixels/PCM — oracle-gated. Norms are rounded per row FIRST
  //      (4 dp, exact decimals) and summed in DECIMAL, so the mean is
  //      summation-ORDER-FREE — the previous round(avg(double)) folded
  //      doubles in partition-completion order, which no independent
  //      engine (nor a rerun) could reproduce bit-for-bit. The oracle
  //      embeds per-media norms recomputed driver-side from re-rendered
  //      payloads ([[referenceFeatures]]); DuckDB independently
  //      re-derives the grouping, exact decimal sums, and the final
  //      double division. ----
  private def mm07(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir).toDF()
      .select(col("kind"),
        round(Similarity.l2Norm(Similarity.toDoubleVec(col("features"))), 4)
          .as("nrm"))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        (sum(col("nrm").cast(org.apache.spark.sql.types.DecimalType(28, 4)))
          .cast(org.apache.spark.sql.types.DoubleType) / count(lit(1)))
          .as("avg_feature_norm"))

  /** Driver-side re-derivation of every media row's decoded feature
    * vector, for the mm02/mm07 oracle generators — FROM THE FIXTURE
    * FORMULAS alone (r16): image features from the LCG pixel formula,
    * audio features from the LCG sample formula, degraded "video"
    * features from the rolling-hash contract — no call into the
    * engine's render or decode paths (the gifFrameHash64 independence
    * recipe applied to the whole feature pipeline; the former version
    * shared `ImageIoDecoder` with the operator and leaned on
    * mm04/mm06's format gates to justify it). The operator must now
    * synthesize real PNG/WAV bytes, decode them with real codecs, and
    * land on vectors this side derives with no media library at
    * all — the oracle graph's last shared-code edge is gone. */
  private def referenceFeatures(spark: SparkSession,
                                dir: String): Seq[(Long, String, Array[Float])] =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect().toSeq
      .map { r =>
        val id = r.getLong(0)
        // fixture kind layout: id mod 3 → image / audio / video; image
        // dims 8+(id%9) × 8+(id%7); audio 256+(id%7)·64 mono samples
        // at 16 kHz; "video" payloads are the document's UTF-8 text,
        // which no codec parses, so they take the degraded path
        (id % 3) match {
          case 0L =>
            val (w, h) = Multimodal.imageSize(id)
            (id, "image", ReferenceHashes.pngFormulaFeatures(id, w, h, 16))
          case 1L => (id, "audio",
            ReferenceHashes.wavFormulaFeatures(id, 16000, 16))
          case _ => (id, "video", ReferenceHashes.rollingHashFeatures(
            r.getString(1).getBytes("UTF-8"), 16))
        }
      }

  /** The l2 norm exactly as the pipeline computes it (float→double
    * promotion, sequential dot fold, sqrt), rounded with Spark's
    * double-ROUND semantics (shortest-decimal HALF_UP). */
  private def refNorm4(f: Array[Float]): java.math.BigDecimal = {
    var dot = 0.0
    var i = 0
    while (i < f.length) { dot += f(i).toDouble * f(i).toDouble; i += 1 }
    java.math.BigDecimal.valueOf(math.sqrt(dot))
      .setScale(4, java.math.RoundingMode.HALF_UP)
  }

  private def mm07OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFeatures(spark, dir)
      .map { case (id, kind, f) => s"($id, '$kind', ${refNorm4(f).toPlainString})" }
      .mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DECIMAL(28,4)))")
    // the DECIMAL sum leaves DuckDB through VARCHAR: its direct
    // DECIMAL→DOUBLE cast is not correctly rounded (the dq05 lesson) —
    // safe at sf0.01 magnitudes but one decade of growth from silently
    // disagreeing with Spark's BigDecimal.doubleValue
    s"""WITH nrm(media_id, kind, nrm) AS ($vals)
       |SELECT kind, COUNT(*) AS n_media,
       |  CAST(CAST(SUM(CAST(nrm AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*) AS avg_feature_norm
       |FROM nrm GROUP BY kind""".stripMargin
  }

  private def mm01OracleGen(spark: SparkSession, dir: String): String = {
    // independent prediction of the image kinds' byte total: re-render
    // each deterministic fixture PNG (seed = id, dims = id-derived) and
    // sum the encoded lengths — touches the renderer only, never the
    // pipeline's decode path
    val imageBytes = kindIds(spark, dir, "image").map(fixturePng(_).length.toLong).sum
    s"""SELECT 'image' AS kind, CAST(COUNT(*) AS BIGINT) AS n_media,
       |  CAST(COUNT(*) AS BIGINT) AS total_frames,
       |  CAST($imageBytes AS BIGINT) AS total_bytes
       |FROM documents WHERE doc_id % 3 = 0
       |UNION ALL
       |SELECT 'audio', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(256 + (doc_id % 7) * 64) AS BIGINT),
       |  CAST(SUM(44 + 2 * (256 + (doc_id % 7) * 64)) AS BIGINT)
       |FROM documents WHERE doc_id % 3 = 1
       |UNION ALL
       |SELECT 'video', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(GREATEST(1, strlen(text) // 256)) AS BIGINT),
       |  CAST(SUM(strlen(text)) AS BIGINT)
       |FROM documents WHERE doc_id % 3 = 2""".stripMargin
  }

  // ---- mm02: similarity search over decoded CONTENT features —
  //      oracle-gated. Retrieval runs in [[Multimodal.contentVector]]'s
  //      scale-invariant embedding (r20): the raw 16-dim decode vector
  //      was cosine-degenerate — its size/format dims (w/h/pixel-count;
  //      sample rate/raw peak) dominated every direction, so top-k
  //      measured tie-breaking, not content. Content vectors render as
  //      VALUES literals: the 16-dim reference vectors are recomputed
  //      driver-side FROM THE FIXTURE FORMULAS ([[referenceFeatures]]),
  //      the content transform is re-applied by an INDEPENDENT
  //      implementation ([[refContentVector]]), and DuckDB then
  //      re-derives the ENTIRE ANN — norms, dot products, cosine
  //      rounding, top-3 ranking — the sim01 oracle shape applied to
  //      decoded-media embeddings. ----
  private def mm02(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.contentFeatures(features(spark, dir))
      .select(col("media_id").as("id"), col("cvec").as("vec"))
    Similarity.bruteForceTopK(feats, feats.filter(col("id") < 5), k = 3)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** The content transform, re-implemented for the oracle side (same
    * Float arithmetic so literals are exact; structurally independent
    * of [[Multimodal.contentVector]] — the engine's version maps a
    * Dataset per kind, this one indexes the reference vectors the
    * generator just derived from the fixture formulas). */
  private[queries] def refContentVector(kind: String,
                                        f: Array[Float]): Array[Float] =
    kind match {
      case "image" => f.drop(3)
      case "audio" =>
        Array(f(3) / 32768.0f, f(4) / 32768.0f, f(5) / 32768.0f,
          f(6) / math.max(f(2), 1.0f)) ++ f.drop(7)
      case _ => f.dropRight(3)
    }

  private def mm02OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFeatures(spark, dir)
      .map { case (id, kind, raw) =>
        val f = refContentVector(kind, raw)
        // CAST pins the list to DOUBLE[] — bare numeric literals type
        // as DECIMAL in DuckDB and overflow in the x*x products
        s"($id, CAST([${f.map(x => x.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
      }
      .mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE[]))")
    s"""WITH feats(id, v) AS ($vals),
       |norms AS (
       |  SELECT id, SQRT(SUM(x * x)) AS nrm
       |  FROM (SELECT id, UNNEST(v) AS x FROM feats) z
       |  GROUP BY id),
       |pairs AS (
       |  SELECT query_id, cand_id, SUM(qx * cx) AS dot FROM (
       |    SELECT q.id AS query_id, c.id AS cand_id,
       |      UNNEST(q.v) AS qx, UNNEST(c.v) AS cx
       |    FROM feats q, feats c
       |    WHERE q.id < 5 AND c.id <> q.id) z
       |  GROUP BY query_id, cand_id),
       |scored AS (
       |  SELECT p.query_id, p.cand_id,
       |    ROUND(p.dot / (nq.nrm * nc.nrm), 4) AS cosine
       |  FROM pairs p
       |  JOIN norms nq ON nq.id = p.query_id
       |  JOIN norms nc ON nc.id = p.cand_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT query_id, cand_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin
  }

  // ---- mm03: the decode boundary's METADATA contract under the oracle
  //      gate. Frame counts and byte sizes are deterministic functions
  //      of (kind, payload), so DuckDB recomputes them independently —
  //      the `features` vector stays decoder-specific (mm01/mm02). ----
  private def mm03(spark: SparkSession, dir: String): DataFrame =
    stubFeatures(spark, dir).toDF()
      .select(col("media_id"), col("kind"), col("n_frames"), col("n_bytes"))

  private val mm03Oracle =
    """SELECT doc_id AS media_id,
      |  ['image','audio','video'][(doc_id % 3) + 1] AS kind,
      |  CASE (doc_id % 3) + 1
      |    WHEN 1 THEN 1
      |    WHEN 2 THEN GREATEST(1, strlen(text) // 64)
      |    ELSE GREATEST(1, strlen(text) // 256) END AS n_frames,
      |  strlen(text) AS n_bytes
      |FROM documents""".stripMargin

  // ---- mm04: the REAL image decode under the oracle gate. The fixture
  //      renders each image-kind row as a genuine PNG whose dimensions
  //      are a function of the id; the pipeline decodes the BYTES with
  //      javax.imageio. The oracle recomputes the dimension formulas,
  //      so a broken decoder — or one that trusts declared metadata
  //      instead of reading the payload — breaks the hash. ----
  private def mm04(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir).toDF()
      .filter(col("kind") === "image")
      .select(col("media_id"), col("width_px"), col("height_px"), col("n_frames"))

  private val mm04Oracle =
    """SELECT doc_id AS media_id,
      |  CAST(8 + doc_id % 9 AS INT) AS width_px,
      |  CAST(8 + doc_id % 7 AS INT) AS height_px,
      |  1 AS n_frames
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  // ---- mm05: the resize stage, verified by round trip. Real PNGs of
  //      id-derived sizes are resized to a fixed 16×12 and RE-DECODED:
  //      the dimensions a correct resize must produce are constants,
  //      so the oracle is exact — a resize that skips re-encoding, or
  //      a decode that trusts the (updated) declared metadata rather
  //      than the new bytes, breaks the hash. ----
  private def mm05(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.resizeMedia(
        Multimodal.mediaWithRealImages(Tables.documents(spark, dir)), 16, 12),
      Multimodal.ImageIoDecoder)
      .toDF()
      .filter(col("kind") === "image")
      .select(col("media_id"), col("width_px"), col("height_px"),
        (col("n_bytes") > 0).as("has_payload"))

  private val mm05Oracle =
    """SELECT doc_id AS media_id, 16 AS width_px, 12 AS height_px,
      |  TRUE AS has_payload
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  // ---- mm06: the REAL audio decode under the oracle gate. The fixture
  //      renders each audio-kind row as a genuine 16 kHz mono WAV whose
  //      sample count is a function of the id and whose first sample is
  //      pinned to +32767; the pipeline decodes the BYTES with
  //      javax.sound.sampled. The oracle recomputes the sample-count
  //      formula and the pinned peak, so a broken decoder — or one that
  //      trusts declared metadata instead of parsing the WAV header —
  //      breaks the hash. (mm04's recipe, second media kind.) ----
  private def mm06(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir).toDF()
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("n_frames"),
        element_at(col("features"), 1).cast("int").as("sr_hz"),
        element_at(col("features"), 2).cast("int").as("n_channels"),
        element_at(col("features"), 4).cast("int").as("peak_amp"))

  private val mm06Oracle =
    """SELECT doc_id AS media_id,
      |  CAST(256 + (doc_id % 7) * 64 AS INT) AS n_frames,
      |  16000 AS sr_hz, 1 AS n_channels, 32767 AS peak_amp
      |FROM documents WHERE doc_id % 3 = 1""".stripMargin

  // ---- mm08: frame sampling (every 4th frame) — the last item of the
  //      decode / feature-extract / resize / frame-sample checklist,
  //      under the oracle gate. Pure metadata math over the REAL
  //      decoded frame counts (image = 1 decoded PNG frame, audio =
  //      decoded WAV sample count, video = stub formula), every one of
  //      which the oracle recomputes from the fixture formulas — so a
  //      decoder that misreads frame counts breaks this hash too. ----
  private def mm08(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrameCount(
        features(spark, dir).toDF()
          .select(col("media_id"), col("kind"), col("n_frames")), stride = 4)

  private val mm08Oracle =
    """SELECT media_id, kind, n_frames,
      |  CAST(CEIL(CAST(n_frames AS DOUBLE) / 4) AS INT) AS n_sampled_frames
      |FROM (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][(doc_id % 3) + 1] AS kind,
      |    CASE doc_id % 3
      |      WHEN 0 THEN 1
      |      WHEN 1 THEN 256 + (doc_id % 7) * 64
      |      ELSE GREATEST(1, strlen(text) // 256) END AS n_frames
      |  FROM documents) t""".stripMargin

  // ---- mm09: perceptual image dedup — the image-side answer to
  //      tx09's SimHash text dedup, and what actually runs before
  //      training on web-scale image data (re-encodes and exposure
  //      variants of one picture are duplicates no byte hash can see).
  //      Each fixture image is paired with an exposure-shifted
  //      re-encode (id 2k original / 2k+1 shifted — a pure map-side id
  //      scheme, no max-key scan); aHash fingerprints extract in ONE
  //      per-partition decode pass, and from there only (id, 64-bit
  //      hash) rows exist — payloads never shuffle, so the
  //      Hamming-band pair search (shared verbatim with tx09 via
  //      Dedup.hammingNearDups) runs at billions-of-images shapes.
  //      Gate: the oracle embeds per-id aHashes RE-DERIVED by the
  //      independent ReferenceHashes implementation (per-cell block
  //      loops, shift folded into the pixel read instead of a PNG
  //      re-encode round trip) and DuckDB re-derives the pair set
  //      with its own xor + bit_count arithmetic — the tx16 recipe
  //      pointed at pixels. ----
  private def mm09(spark: SparkSession, dir: String): DataFrame = {
    // One synthesis pass (r21, guide §2.1): pre-filter the doc spine to
    // image ids (kind == image ⟺ doc_id % 3 == 0 — the same fixture
    // formula mm11's oracle reads for video), so the render map never
    // builds the audio/video payloads this query immediately drops, and
    // emit the original AND its exposure-shifted twin from a single
    // flatMap over the rendered row instead of two branches that each
    // re-render the corpus. Same rows out: (2k, payload) ∪
    // (2k+1, shifted(payload)) — the oracle gate re-proves identity.
    val media = Multimodal.mediaWithRealImages(
      Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0))
    val both = Multimodal.decodePass(media, Some("image"))(_.flatMap(r => Iterator(
      r.copy(media_id = r.media_id * 2),
      r.copy(media_id = r.media_id * 2 + 1,
        payload = Multimodal.shiftBrightness(r.payload, 16))))).toDF()
    Dedup.hammingNearDupsAuto(
      // count-adaptive banding, not the fixed 8-band scheme: with
      // maxHamming = 6 the 8-band slack allows only grouped PAIRS over
      // 2^16 keys, whose n²/2^16 collision floor r18 measured as 16.4x
      // wall per 10x data at the corpus100 decade (~330k
      // fingerprints). autoBands deepens to triples over >= 2^21 keys
      // past ~66k fingerprints (and quadruples past ~2M), so the gate
      // tiers keep the cheap index while the decade curve stays
      // linear. The pair set is banding-independent (exhaustive
      // pigeonhole candidates + exact Hamming verify), so tier hashes
      // cannot move when the depth switches.
      Multimodal.imageHashes(both).withColumnRenamed("ahash", "sh"),
      maxHamming = 6)
  }

  /** The mm09/mm10 oracle's hash relation: per-id aHashes re-derived
    * by the independent ReferenceHashes implementation from re-rendered
    * payloads, as a VALUES body (both the 2k originals and the 2k+1
    * exposure-shifted copies). */
  private def referenceAHashValues(spark: SparkSession, dir: String): String = {
    val rows = kindIds(spark, dir, "image").flatMap { id =>
      val png = fixturePng(id)
      Seq(ReferenceHashes.averageHash64(png).map(h => s"(${id * 2}, $h)"),
        ReferenceHashes.averageHash64(png, delta = 16)
          .map(h => s"(${id * 2 + 1}, $h)")).flatten
    }.mkString(", ")
    OracleSql.valuesOrEmpty(rows, "(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))")
  }

  /** st09's oracle: the streamed fingerprints themselves, re-derived
    * per id by the independent reference implementation (originals
    * only — no exposure-shifted copies in the ingest stream). */
  private[queries] def st09OracleGen(spark: SparkSession, dir: String): String = {
    val rows = kindIds(spark, dir, "image").flatMap { id =>
      ReferenceHashes.averageHash64(fixturePng(id)).map(h => s"($id, $h)")
    }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))")
    s"""WITH ah(id, h) AS ($vals)
       |SELECT id, h AS ahash FROM ah""".stripMargin
  }

  private def mm09OracleGen(spark: SparkSession, dir: String): String =
    s"""WITH ah(id, h) AS (${referenceAHashValues(spark, dir)})
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
       |FROM ah a JOIN ah b ON a.id < b.id
       |WHERE bit_count(xor(a.h, b.h)) <= 6""".stripMargin

  // ---- mm10: image duplicate-cluster canonicalization — mm09's pair
  //      set closed transitively with the SAME Pregel-shaped
  //      min-label propagation tx20 runs over text pairs
  //      (Dedup.connectedComponents, one distributed join+agg per
  //      round): an image re-encoded twice must collapse to ONE
  //      keeper even when the two variants never surfaced as a direct
  //      pair. Composition evidence across modality families; the
  //      oracle recomputes the closure with its own recursive CTE
  //      over the independent reference hashes. ----
  private def mm10(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(mm09(spark, dir), "id_a", "id_b")
      .withColumnRenamed("id", "media_id")

  private def mm10OracleGen(spark: SparkSession, dir: String): String =
    s"""WITH RECURSIVE ah(id, h) AS (${referenceAHashValues(spark, dir)}),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM ah a JOIN ah b ON a.id < b.id
       |  WHERE bit_count(xor(a.h, b.h)) <= 6),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
       |SELECT id AS media_id, MIN(r) AS cluster, MIN(r) = id AS is_canonical
       |FROM reach GROUP BY id""".stripMargin

  // ---- mm11: REAL multi-frame video decode — the video-kind rows
  //      carry genuine animated GIFs (the one multi-frame container
  //      the JDK decodes), and the operator opens each payload once
  //      per partition, reads every frame, and fingerprints the
  //      DECODED pixels per frame. The oracle is the strongest gate in
  //      the registry: per-frame aHashes predicted from the fixture's
  //      pixel FORMULA alone (256-gray palette is lossless in GIF and
  //      gray luma = gray value, so ReferenceHashes needs no image
  //      library at all) — the operator must round-trip real GIF bytes
  //      through a real codec and land on formula-exact values, frame
  //      count included. This closes the frame-extraction gap mm08's
  //      metadata math left open. ----
  private def mm11(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameHashes(
      Multimodal.mediaWithRealVideos(Tables.documents(spark, dir)))

  private def mm11OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFrameRows(spark, dir, withTrims = false)
      .map { case (id, f, n, hash) => s"($id, $f, $n, $hash)" }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT))")
    s"""WITH fh(media_id, frame_idx, n_frames, frame_hash) AS ($vals)
       |SELECT media_id, frame_idx, n_frames, frame_hash FROM fh""".stripMargin
  }

  // ---- mm12: per-frame audio energy — the windowed feature pass
  //      (VAD / silence trim / loudness normalization) run on REAL
  //      decoded PCM: each audio payload parses once per partition and
  //      cuts into 128-sample frames summarized by integer
  //      (n_samples, Σ sample², max |sample|), so every cell is
  //      fold-order-free. The oracle is the mm11 recipe for audio:
  //      frame stats predicted from the fixture's sample FORMULA alone
  //      (ReferenceHashes.wavFrameStats touches no audio library), and
  //      DuckDB re-derives the frame SPINE from the sample-count
  //      formula — an operator that miscounts frames breaks the join's
  //      row count, one that misdecodes PCM breaks the cells. ----
  private val Mm12FrameSize = 128

  private def mm12(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFrameEnergies(
      Multimodal.mediaWithRealImages(Tables.documents(spark, dir)),
      frameSize = Mm12FrameSize)

  /** mm12/mm13's oracle relation: per-frame (media_id, frame_idx,
    * n_samples, energy, peak) of every fixture WAV, predicted from the
    * sample formula, as a VALUES body. */
  private def referenceAudioFrameValues(spark: SparkSession, dir: String): String = {
    val rows = kindIds(spark, dir, "audio").flatMap { id =>
      ReferenceHashes.wavFrameStats(id, Mm12FrameSize).map {
        case (idx, n, energy, peak) => s"($id, $idx, $n, $energy, $peak)"
      }
    }.mkString(", ")
    OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS INT))")
  }

  private def mm12OracleGen(spark: SparkSession, dir: String): String = {
    val vals = referenceAudioFrameValues(spark, dir)
    s"""WITH ref(media_id, frame_idx, n_samples, energy, peak) AS ($vals),
       |spine AS (
       |  SELECT doc_id AS media_id,
       |    CAST(unnest(range(0, CAST(CEIL(
       |      CAST(256 + (doc_id % 7) * 64 AS DOUBLE) / $Mm12FrameSize)
       |      AS BIGINT))) AS INT) AS frame_idx
       |  FROM documents WHERE doc_id % 3 = 1)
       |SELECT s.media_id, s.frame_idx, r.n_samples, r.energy, r.peak
       |FROM spine s JOIN ref r
       |  ON s.media_id = r.media_id AND s.frame_idx = r.frame_idx""".stripMargin
  }

  // ---- mm14: per-channel pixel statistics over REAL decoded PNGs —
  //      the image-curation profile (dead channels, washed-out scans,
  //      brightness outliers) as one per-partition decode pass
  //      emitting exact integer channel totals; only the ~40-byte
  //      stats frame flows downstream. Gated on the gifFrameHash64
  //      independence recipe: the oracle derives every sum from the
  //      fixture's LCG pixel FORMULA with no image library at all
  //      ([[ReferenceHashes.pngChannelSums]]), so the operator must
  //      decode genuine PNG bytes and land on integers predicted
  //      without a codec. mean_brightness is the one double — an
  //      identical integer division both engines evaluate from the
  //      gated integer cells. ----
  private def mm14(spark: SparkSession, dir: String): DataFrame =
    Multimodal.channelStats(
      Multimodal.mediaWithRealImages(Tables.documents(spark, dir)))
      .withColumn("mean_brightness",
        (col("sum_r") + col("sum_g") + col("sum_b")).cast("double") /
          (col("width") * col("height") * lit(3)).cast("double"))

  private def mm14OracleGen(spark: SparkSession, dir: String): String = {
    val rows = kindIds(spark, dir, "image").map { id =>
      val (w, h) = Multimodal.imageSize(id)
      val (sr, sg, sb) = ReferenceHashes.pngChannelSums(id, w, h)
      s"($id, $w, $h, $sr, $sg, $sb)"
    }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))")
    s"""WITH ref(media_id, width, height, sum_r, sum_g, sum_b) AS ($vals)
       |SELECT media_id, width, height, sum_r, sum_g, sum_b,
       |  CAST(sum_r + sum_g + sum_b AS DOUBLE) /
       |    CAST(width * height * 3 AS DOUBLE) AS mean_brightness
       |FROM ref""".stripMargin
  }

  // ---- mm13: silence-trim / VAD segmentation — mm12's frame stream
  //      composed with relational windows: a frame is ACTIVE when
  //      energy ≥ threshold · n_samples (exact integer mean-energy
  //      test, no division), and consecutive active frames merge into
  //      segments by gap sessionization on the frame spine. This is
  //      the payoff of decoding to frame METADATA: the segmentation is
  //      a pure relational query over ~32-byte rows, so it runs at any
  //      corpus scale regardless of audio length. The threshold sits
  //      at the fixture's per-sample mean energy (E[v²] ≈ 65536²/12),
  //      so frames split both ways and segments exercise real gap
  //      structure. Oracle: the mm12 literal recipe (frame stats
  //      predicted from the sample formula, no audio library) with the
  //      identical window chain in DuckDB SQL. ----
  private val Mm13Threshold = 357913941L // ≈ 65536² / 12, the sample-mean energy

  private def mm13(spark: SparkSession, dir: String): DataFrame =
    Multimodal.activeSegments(
      Multimodal.audioFrameEnergies(
        Multimodal.mediaWithRealImages(Tables.documents(spark, dir)),
        frameSize = Mm12FrameSize),
      threshold = Mm13Threshold)

  private def mm13OracleGen(spark: SparkSession, dir: String): String = {
    val vals = referenceAudioFrameValues(spark, dir)
    s"""WITH ref(media_id, frame_idx, n_samples, energy, peak) AS ($vals),
       |act AS (
       |  SELECT * FROM ref
       |  WHERE energy >= CAST($Mm13Threshold AS BIGINT) * n_samples),
       |s AS (
       |  SELECT media_id, frame_idx, energy, peak,
       |    LAG(frame_idx) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
       |  FROM act),
       |m AS (
       |  SELECT media_id, frame_idx, energy, peak,
       |    CASE WHEN prev IS NULL OR frame_idx - prev > 1 THEN 1 ELSE 0 END AS new_s
       |  FROM s),
       |g AS (
       |  SELECT media_id, frame_idx, energy, peak,
       |    CAST(SUM(new_s) OVER (PARTITION BY media_id ORDER BY frame_idx
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg_id
       |  FROM m)
       |SELECT media_id, seg_id, MIN(frame_idx) AS start_frame,
       |  MAX(frame_idx) AS end_frame, COUNT(*) AS n_frames,
       |  CAST(SUM(energy) AS BIGINT) AS total_energy, MAX(peak) AS peak
       |FROM g GROUP BY media_id, seg_id""".stripMargin
  }

  // ---- mm15: video-level near-duplicate detection — the trimmed
  //      re-upload case: every other fixture video ships alongside a
  //      REAL re-encode with its first frame cut, and the operator
  //      must pair each variant with its base (frame-hash-set Jaccard
  //      ≥ 0.5) while leaving unrelated footage unpaired. The pair
  //      search is the inverted-index plan over decoded frame hashes
  //      (no all-pairs); the oracle rebuilds both videos' hash sets
  //      from the fixture's pixel formula alone (mm11's independence
  //      recipe — trimmed frames keep base numbering, so the variant's
  //      set is the base's minus frame 0) and recomputes the same
  //      Jaccard join in SQL. ----
  private def mm15(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDups(
      Multimodal.mediaWithTrimmedVideos(Tables.documents(spark, dir)),
      minJaccard = 0.5)

  private def mm15OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFrameRows(spark, dir, withTrims = true)
      .map { case (id, _, _, hash) => s"($id, $hash)" }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))")
    s"""WITH fh(media_id, frame_hash) AS ($vals),
       |d AS (SELECT DISTINCT media_id, frame_hash FROM fh),
       |sz AS (SELECT media_id, COUNT(*) AS n FROM d GROUP BY 1),
       |sh AS (
       |  SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS n_shared
       |  FROM d a JOIN d b
       |    ON a.frame_hash = b.frame_hash AND a.media_id < b.media_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
       |FROM sh
       |JOIN sz sa ON sa.media_id = id_a
       |JOIN sz sb ON sb.media_id = id_b
       |WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5""".stripMargin
  }

  // ---- mm16: audio periodicity by integer autocorrelation — the
  //      pitch/tonality feature (R(L) = Σ x[i]·x[i+L], lag sweep
  //      16..64, argmax with smaller-lag tie-break) over REAL decoded
  //      PCM. All-Long arithmetic, so every cell — including the raw
  //      argmax correlation — is predicted by the fixture's sample
  //      FORMULA with no audio library at all
  //      ([[ReferenceHashes.wavAutocorr]]); the mm12 gating recipe
  //      applied to the lag domain. periodicity_ratio is the one
  //      double: an identical division of two gated integers. ----
  private val Mm16MinLag = 16
  private val Mm16MaxLag = 64

  private def mm16(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioPeriodicity(
      Multimodal.mediaWithRealImages(Tables.documents(spark, dir)),
      Mm16MinLag, Mm16MaxLag)
      .withColumn("periodicity_ratio",
        col("best_r").cast(org.apache.spark.sql.types.DoubleType) /
          col("r0").cast(org.apache.spark.sql.types.DoubleType))

  private def mm16OracleGen(spark: SparkSession, dir: String): String = {
    val rows = kindIds(spark, dir, "audio").map { id =>
      val (n, r0, lag, best) = ReferenceHashes.wavAutocorr(id, Mm16MinLag, Mm16MaxLag)
      s"($id, $n, $r0, $lag, $best)"
    }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS BIGINT), " +
        "CAST(NULL AS INT), CAST(NULL AS BIGINT))")
    s"""WITH ref(media_id, n_samples, r0, best_lag, best_r) AS ($vals)
       |SELECT d.doc_id AS media_id, r.n_samples, r.r0, r.best_lag, r.best_r,
       |  CAST(r.best_r AS DOUBLE) / CAST(r.r0 AS DOUBLE) AS periodicity_ratio
       |FROM documents d JOIN ref r ON r.media_id = d.doc_id
       |WHERE d.doc_id % 3 = 1""".stripMargin
  }

  // ---- mm17: audio clipping profile over REAL decoded PCM — the
  //      distortion gate a speech corpus applies before transcription:
  //      per audio row, samples at/beyond ±threshold, the LONGEST
  //      flat-topped run, and the run count. All-Long integers, so
  //      every cell is predicted by the fixture's sample FORMULA with
  //      no audio library at all ([[ReferenceHashes.wavClipStats]]) —
  //      the mm16 independence recipe applied to the rail. clip_ratio
  //      is the one double: an identical division of gated integers. ----
  private val Mm17Threshold = 32000

  private def mm17(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioClipping(
      Multimodal.mediaWithRealImages(Tables.documents(spark, dir)),
      Mm17Threshold)
      .withColumn("clip_ratio",
        col("n_clipped").cast("double") / col("n_samples").cast("double"))

  private def mm17OracleGen(spark: SparkSession, dir: String): String = {
    val rows = kindIds(spark, dir, "audio").map { id =>
      val (n, nClipped, maxRun, nRuns) = ReferenceHashes.wavClipStats(id, Mm17Threshold)
      s"($id, $n, $nClipped, $maxRun, $nRuns)"
    }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS BIGINT), " +
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))")
    s"""WITH ref(media_id, n_samples, n_clipped, max_run, n_runs) AS ($vals)
       |SELECT d.doc_id AS media_id, r.n_samples, r.n_clipped, r.max_run,
       |  r.n_runs,
       |  CAST(r.n_clipped AS DOUBLE) / CAST(r.n_samples AS DOUBLE) AS clip_ratio
       |FROM documents d JOIN ref r ON r.media_id = d.doc_id
       |WHERE d.doc_id % 3 = 1""".stripMargin
  }

  // ---- mm18: scene-cut detection — the video-curation segmenter:
  //      consecutive decoded frames whose 64-bit perceptual hashes
  //      differ by ≥ threshold bits mark a cut; a video's scene count,
  //      sharpest jump, and first cut position are the features a
  //      sampling pass keys on (one frame per SCENE beats one frame
  //      per N — mm08's stride sampler upgraded by content). Runs
  //      entirely on mm11's frame-hash stream — per-media windows
  //      bounded by frames-per-video, payloads long gone — and in
  //      integer Hamming arithmetic (bit_count of xor), so the oracle
  //      predicts every cell from the fixture's frame FORMULA with no
  //      codec ([[ReferenceHashes.gifFrameHash64]] literals walked by
  //      the same lag/xor/bit_count in DuckDB). ----
  private val Mm18CutBits = 16

  private def mm18(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    Multimodal.videoFrameHashes(
        Multimodal.mediaWithRealVideos(Tables.documents(spark, dir)))
      .withColumn("__prev", lag(col("frame_hash"), 1).over(w))
      .withColumn("__jump",
        when(col("__prev").isNull, lit(0))
          .otherwise(bit_count(col("__prev").bitwiseXOR(col("frame_hash")))))
      .withColumn("__cut",
        (col("__prev").isNotNull && col("__jump") >= Mm18CutBits).cast("int"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("__cut")).as("n_cuts"),
        max(col("__jump")).as("max_jump"),
        min(when(col("__cut") === 1, col("frame_idx"))).as("first_cut_idx"))
      .withColumn("n_scenes", col("n_cuts") + 1)
  }

  private def mm18OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFrameRows(spark, dir, withTrims = false)
      .map { case (id, f, _, hash) => s"($id, $f, $hash)" }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS BIGINT))")
    s"""WITH fh(media_id, frame_idx, frame_hash) AS ($vals),
       |j AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    LAG(frame_hash) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
       |  FROM fh),
       |m AS (
       |  SELECT media_id, frame_idx,
       |    CASE WHEN prev IS NULL THEN 0
       |         ELSE bit_count(xor(prev, frame_hash)) END AS jump,
       |    CASE WHEN prev IS NOT NULL
       |          AND bit_count(xor(prev, frame_hash)) >= $Mm18CutBits
       |         THEN 1 ELSE 0 END AS cut
       |  FROM j)
       |SELECT media_id, COUNT(*) AS n_frames,
       |  CAST(SUM(cut) AS BIGINT) AS n_cuts,
       |  CAST(MAX(jump) AS INT) AS max_jump,
       |  MIN(CASE WHEN cut = 1 THEN frame_idx END) AS first_cut_idx,
       |  CAST(SUM(cut) + 1 AS BIGINT) AS n_scenes
       |FROM m GROUP BY media_id""".stripMargin
  }

  // ---- mm19: per-scene keyframe extraction — mm18's cuts turned into
  //      the sampling pass itself: scene index is the running sum of
  //      cut flags, each scene contributes its FIRST frame (start
  //      index, length, keyframe hash) — one frame per scene, the
  //      content-aware upgrade of mm08's fixed-stride sampler that a
  //      video curation pipeline feeds to captioning/embedding. Same
  //      bounded per-media windows over mm11's frame-hash stream
  //      (payloads long gone), integer Hamming cuts, min_by/arg_min
  //      keyframe pick; the oracle walks identical lag/xor/bit_count/
  //      running-sum SQL over formula-predicted hash literals. ----
  private def mm19(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    Multimodal.videoFrameHashes(
        Multimodal.mediaWithRealVideos(Tables.documents(spark, dir)))
      .withColumn("__prev", lag(col("frame_hash"), 1).over(w))
      .withColumn("__cut",
        (col("__prev").isNotNull &&
          bit_count(col("__prev").bitwiseXOR(col("frame_hash"))) >= Mm18CutBits)
          .cast("int"))
      .withColumn("scene_idx", sum(col("__cut")).over(w))
      .groupBy(col("media_id"), col("scene_idx"))
      .agg(min(col("frame_idx")).as("start_frame"),
        count(lit(1)).as("scene_len"),
        min_by(col("frame_hash"), col("frame_idx")).as("keyframe_hash"))
  }

  private def mm19OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFrameRows(spark, dir, withTrims = false)
      .map { case (id, f, _, hash) => s"($id, $f, $hash)" }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS BIGINT))")
    s"""WITH fh(media_id, frame_idx, frame_hash) AS ($vals),
       |j AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    LAG(frame_hash) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
       |  FROM fh),
       |m AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    CASE WHEN prev IS NOT NULL
       |          AND bit_count(xor(prev, frame_hash)) >= $Mm18CutBits
       |         THEN 1 ELSE 0 END AS cut
       |  FROM j),
       |s AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    CAST(SUM(cut) OVER (PARTITION BY media_id ORDER BY frame_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS scene_idx
       |  FROM m)
       |SELECT media_id, scene_idx, MIN(frame_idx) AS start_frame,
       |  COUNT(*) AS scene_len,
       |  ARG_MIN(frame_hash, frame_idx) AS keyframe_hash
       |FROM s GROUP BY media_id, scene_idx""".stripMargin
  }

  // ---- mm20: video trim/clip detection by frame-set CONTAINMENT —
  //      the detector Jaccard under-scores (a clip fully inside a
  //      long video has containment 1.0 but Jaccard ≈ length ratio;
  //      tx38's rationale at video grain). mm15's trimmed-variant
  //      population through the same inverted-index/decode-once
  //      plan, only the final division differs; threshold 0.9 keeps
  //      full-containment trims and drops coincidental overlaps. ----
  private def mm20(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoContainmentPairs(
      Multimodal.mediaWithTrimmedVideos(Tables.documents(spark, dir)),
      minContainment = 0.9)

  private def mm20OracleGen(spark: SparkSession, dir: String): String = {
    val rows = referenceFrameRows(spark, dir, withTrims = true)
      .map { case (id, _, _, hash) => s"($id, $hash)" }.mkString(", ")
    val vals = OracleSql.valuesOrEmpty(rows,
      "(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))")
    s"""WITH fh(media_id, frame_hash) AS ($vals),
       |d AS (SELECT DISTINCT media_id, frame_hash FROM fh),
       |sz AS (SELECT media_id, COUNT(*) AS n FROM d GROUP BY 1),
       |sh AS (
       |  SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS n_shared
       |  FROM d a JOIN d b
       |    ON a.frame_hash = b.frame_hash AND a.media_id < b.media_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_shared AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE)
       |    AS containment
       |FROM sh
       |JOIN sz sa ON sa.media_id = id_a
       |JOIN sz sb ON sb.media_id = id_b
       |WHERE CAST(n_shared AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) >= 0.9""".stripMargin
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("mm01_media_features", mm01, None, oracleGen = Some(mm01OracleGen)),
    GraftQuery("mm02_media_ann", mm02, None, headline = true,
      oracleGen = Some(mm02OracleGen)),
    GraftQuery("mm03_media_inventory", mm03, Some(mm03Oracle)),
    GraftQuery("mm04_image_decode", mm04, Some(mm04Oracle), headline = true),
    GraftQuery("mm05_image_resize", mm05, Some(mm05Oracle), headline = true),
    GraftQuery("mm06_audio_decode", mm06, Some(mm06Oracle)),
    GraftQuery("mm07_feature_norms", mm07, None,
      oracleGen = Some(mm07OracleGen)),
    GraftQuery("mm08_frame_sample", mm08, Some(mm08Oracle)),
    GraftQuery("mm09_image_phash_dedup", mm09, None, headline = true,
      oracleGen = Some(mm09OracleGen)),
    GraftQuery("mm10_image_dup_clusters", mm10, None,
      oracleGen = Some(mm10OracleGen)),
    GraftQuery("mm11_gif_frame_hashes", mm11, None,
      oracleGen = Some(mm11OracleGen)),
    GraftQuery("mm12_audio_frame_energy", mm12, None,
      oracleGen = Some(mm12OracleGen)),
    GraftQuery("mm13_audio_segments", mm13, None,
      oracleGen = Some(mm13OracleGen)),
    GraftQuery("mm14_channel_stats", mm14, None,
      oracleGen = Some(mm14OracleGen)),
    GraftQuery("mm15_video_near_dup", mm15, None, headline = true,
      oracleGen = Some(mm15OracleGen)),
    GraftQuery("mm16_audio_periodicity", mm16, None,
      oracleGen = Some(mm16OracleGen)),
    GraftQuery("mm17_audio_clipping", mm17, None,
      oracleGen = Some(mm17OracleGen)),
    GraftQuery("mm18_scene_cuts", mm18, None,
      oracleGen = Some(mm18OracleGen)),
    GraftQuery("mm19_video_keyframes", mm19, None,
      oracleGen = Some(mm19OracleGen)),
    GraftQuery("mm20_video_containment", mm20, None,
      oracleGen = Some(mm20OracleGen)))
}
