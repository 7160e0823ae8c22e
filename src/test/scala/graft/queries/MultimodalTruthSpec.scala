package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.multimodal.Multimodal

/**
 * The construction invariants behind mm21's closed-form oracle,
 * re-derived with the exact machinery rather than asserted from the
 * scaladoc: (1) a rendered pattern PNG decodes to an aHash equal to
 * the pattern bit for bit — the property that turns planted Hamming
 * distances into arithmetic; (2) the full 126-gadget family keeps
 * ≥ 14 bits of cross-gadget separation over EVERY member pair, so no
 * gadget can contaminate another's census at radius 6; (3) the
 * within-gadget census is exactly the five-pairs-one-absence layout
 * the oracle prices; (4) the report over the real fixture corpus +
 * plant matches the closed form end-to-end (decode, banding, verify).
 */
class MultimodalTruthSpec extends AnyFunSuite with SparkSpec {

  test("rendered pattern PNGs decode to their exact aHash patterns") {
    // anchors across the byte range (incl. sign-bit bytes) and every
    // variant shape the plant uses
    for (g <- Seq(0, 1, 63, 124, 125); p <- MultimodalTruthQueries.memberPatterns(g)) {
      val h = Multimodal.averageHash64(Multimodal.renderPatternPng(p))
      assert(h != null && h.longValue() == p,
        s"gadget $g pattern ${p.toHexString} decoded to " +
          s"${Option(h).map(_.longValue().toHexString)}")
    }
  }

  test("cross-gadget separation ≥ 14 bits over every member pair, all 126 gadgets") {
    val members = (0 until MultimodalTruthQueries.ParityBytes.length)
      .map(MultimodalTruthQueries.memberPatterns)
    var minSep = 64
    for (g1 <- members.indices; g2 <- members.indices if g1 < g2;
         a <- members(g1); b <- members(g2)) {
      val d = java.lang.Long.bitCount(a ^ b)
      if (d < minSep) minSep = d
    }
    assert(minSep >= 14, s"cross-gadget separation collapsed to $minSep bits")
  }

  test("within-gadget census: five pairs at {2,2,4,6,6}, (A,V8) outside the radius") {
    for (g <- Seq(0, 77, 125)) {
      val Seq(a, v2, v6, v8) = MultimodalTruthQueries.memberPatterns(g)
      def d(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
      assert(d(a, v2) == 2 && d(v6, v8) == 2 && d(v2, v6) == 4 &&
        d(a, v6) == 6 && d(v2, v8) == 6 && d(a, v8) == 8,
        s"gadget $g distances drifted")
      // the popcount window that makes the decoded hash exact
      Seq(a, v2, v6, v8).foreach { p =>
        val k = java.lang.Long.bitCount(p)
        assert(k >= 1 && k <= 63, s"pattern ${p.toHexString} popcount $k")
      }
    }
  }

  test("mm21 census holds at the full 126-gadget supply (the deep-tier cap)") {
    // from the 10× tier up, scaleOf caps at the even-parity byte
    // supply — run the whole 504-image plant (no organic corpus: the
    // planted slice is organic-independent by the id filter) through
    // the REAL decode + banding and demand the closed form at k = 126,
    // where every cross-gadget separation claim is simultaneously live
    val k = 126
    val r = MultimodalTruthQueries.mm21Report(
      MultimodalTruthQueries.plantedMedia(spark, k).toDF()).collect().head
    val pb = MultimodalTruthQueries.PlantBase
    assert(r.getAs[Long]("found_total") == 5L * k)
    assert(r.getAs[Long]("hamming_sum") == 20L * k)
    assert(r.getAs[Long]("id_checksum") ==
      10L * k * pb + 20L * k * (k - 1) + 15L * k)
    graft.util.PlanCache.releaseAll()
  }

  test("mm22 video census over the sf0.001 corpus + plant matches the closed form") {
    val k = MultimodalTruthQueries.videoScaleOf(spark, "/root/testdata/sf0.001")
    val organic = Multimodal.mediaWithTrimmedVideos(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val r = MultimodalTruthQueries.mm22Report(
      organic.unionByName(
        MultimodalTruthQueries.plantedVideos(spark, k).toDF())).collect().head
    val pb = MultimodalTruthQueries.VideoPlantBase
    assert(r.getAs[Long]("found_total") == 4L * k)
    assert(r.getAs[Long]("trim1_found") == k.toLong)
    assert(r.getAs[Long]("trim2_boundary_found") == k.toLong)
    assert(r.getAs[Long]("mid_trims_found") == k.toLong)
    assert(r.getAs[Long]("deep_boundary_found") == k.toLong)
    assert(r.getAs[Long]("at_boundary_found") == 2L * k)
    assert(r.getAs[Long]("id_checksum") ==
      8L * k * pb + 16L * k * (k - 1) + 11L * k)
    graft.util.PlanCache.releaseAll()
  }

  test("mm22 plant: four real GIFs per gadget whose frame sets nest by trim depth") {
    // decode one gadget's members with the REAL frame-hash pass and
    // re-derive the census relations from the decoded sets — the
    // construction claim (trims keep base frame numbering, so sets
    // nest) proven on bytes, not asserted from renderGif's scaladoc
    val rows = Multimodal.videoFrameHashes(
        MultimodalTruthQueries.plantedVideos(spark, 1).toDF())
      .select(col("media_id"), col("frame_hash")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val pb = MultimodalTruthQueries.VideoPlantBase
    val Seq(a, b, d, e) = (0 to 3).map(i => rows(pb + i))
    assert(a.size == 4 && b.size == 3 && d.size == 2 && e.size == 1,
      s"frame sets lost distinctness: ${rows.view.mapValues(_.size).toMap}")
    assert(b.subsetOf(a) && d.subsetOf(b) && e.subsetOf(d),
      "trimmed frame sets must nest")
    graft.util.PlanCache.releaseAll()
  }

  test("mm23 gadget colors: decoded content vectors match the closed form, " +
       "pairwise cosine ≤ 0.98, size-invariant across member sizes") {
    def decodedContent(payload: Array[Byte]): Array[Float] =
      Multimodal.contentVector("image",
        Multimodal.ImageIoDecoder.decode("image", payload, 16).features)
    val colors = MultimodalTruthQueries.GadgetColors
    assert(colors.size == 71, s"supply drifted: ${colors.size}")
    // (a) the REAL decode realizes the construction's closed form,
    // and (b) the four member sizes decode to bitwise-identical
    // vectors — the scale-invariance the census turns into certainty
    val decoded = colors.map { case (r, g, b) =>
      val members = (9 to 12).map(s =>
        decodedContent(Multimodal.renderSolidPng(r, g, b, s, s)))
      members.tail.foreach(m =>
        assert(java.util.Arrays.equals(m, members.head),
          s"color ($r,$g,$b): content vector moved across sizes"))
      val v = members.head
      assert(math.abs(v(0) - r / 255.0f) < 1e-7 &&
        math.abs(v(1) - g / 255.0f) < 1e-7 &&
        math.abs(v(2) - b / 255.0f) < 1e-7, s"($r,$g,$b) means drifted")
      val lum = (r * 299 + g * 587 + b * 114) / 1000
      assert(v(3 + lum * 10 / 256) == 1.0f, s"($r,$g,$b) hist bin drifted")
      v
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    var mx = 0.0
    for (i <- decoded.indices; j <- decoded.indices if i < j)
      mx = math.max(mx, cos(decoded(i), decoded(j)))
    // the greedy bound, re-measured over DECODED vectors: far below
    // the 0.99995 rounding boundary where a cross-gadget pair could
    // tie a sibling's 1.0
    assert(mx <= 0.9801, s"cross-gadget cosine reached $mx")
  }

  test("mm23 census holds at the full 71-color supply (the deep-tier cap)") {
    // from the sf0.1 tier up, annScaleOf caps at the greedy color
    // supply — run the whole 284-image plant (organic-independent by
    // the query-id filter) through the REAL decode + content embedding
    // + brute-force top-3 and demand the closed form at k = 71, where
    // every pairwise-separation claim is simultaneously live
    val k = 71
    val planted = Multimodal.contentFeatures(
      Multimodal.extractFeatures(
        MultimodalTruthQueries.plantedSolidMedia(spark, k).toDF(),
        Multimodal.ImageIoDecoder).toDF())
    val r = MultimodalTruthQueries.mm23Report(planted).collect().head
    val base = MultimodalTruthQueries.MediaAnnPlantBase
    assert(r.getAs[Long]("found_total") == 3L * k)
    assert(r.getAs[Long]("sibling_hits") == 3L * k)
    assert(r.getAs[Long]("at_unit") == 3L * k)
    assert(r.getAs[Long]("organic_intruders") == 0L)
    assert(r.getAs[Long]("id_checksum") ==
      6L * k * base + 12L * k * (k - 1) + 6L * k)
  }

  test("mm23 census over the sf0.001 corpus + plant matches the closed form") {
    val dir = "/root/testdata/sf0.001"
    val k = MultimodalTruthQueries.annScaleOf(spark, dir)
    val organic = Multimodal.contentFeatures(
      Multimodal.extractFeatures(
        Multimodal.mediaWithRealImages(spark.read.parquet(s"$dir/documents.parquet")),
        Multimodal.ImageIoDecoder).toDF())
    val planted = Multimodal.contentFeatures(
      Multimodal.extractFeatures(
        MultimodalTruthQueries.plantedSolidMedia(spark, k).toDF(),
        Multimodal.ImageIoDecoder).toDF())
    val r = MultimodalTruthQueries.mm23Report(
      organic.unionByName(planted)).collect().head
    val base = MultimodalTruthQueries.MediaAnnPlantBase
    assert(r.getAs[Long]("found_total") == 3L * k)
    assert(r.getAs[Long]("sibling_hits") == 3L * k)
    assert(r.getAs[Long]("at_unit") == 3L * k)
    assert(r.getAs[Long]("organic_intruders") == 0L)
    assert(r.getAs[Long]("id_checksum") ==
      6L * k * base + 12L * k * (k - 1) + 6L * k)
  }

  test("mm21 census over the sf0.001 corpus + plant matches the closed form") {
    val k = MultimodalTruthQueries.scaleOf(spark, "/root/testdata/sf0.001")
    val organic = Multimodal.mediaWithRealImages(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .filter(col("kind") === "image")
    val r = MultimodalTruthQueries.mm21Report(
      organic.unionByName(
        MultimodalTruthQueries.plantedMedia(spark, k).toDF())).collect().head
    val pb = MultimodalTruthQueries.PlantBase
    assert(r.getAs[Long]("found_total") == 5L * k)
    assert(r.getAs[Long]("h2_found") == 2L * k)
    assert(r.getAs[Long]("h4_found") == k.toLong)
    assert(r.getAs[Long]("h6_found") == 2L * k)
    assert(r.getAs[Long]("hamming_sum") == 20L * k)
    assert(r.getAs[Long]("id_checksum") ==
      10L * k * pb + 20L * k * (k - 1) + 15L * k)
  }
}
