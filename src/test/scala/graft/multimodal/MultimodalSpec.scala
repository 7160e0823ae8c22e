package graft.multimodal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class MultimodalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "alpha beta gamma delta"),
    (1L, "short"),
    (2L, (1 to 100).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")

  test("media table: binary payloads with kind assignment and metadata") {
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "payload", "width", "height", "sample_rate_hz"))
    val kinds = media.select("media_id", "kind").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kinds == Map(0L -> "image", 1L -> "audio", 2L -> "video"))
    val payload = media.filter(col("media_id") === 0L)
      .select("payload").collect().head.getAs[Array[Byte]](0)
    assert(new String(payload, "UTF-8") == "alpha beta gamma delta")
  }

  test("stub decode is deterministic and kind-aware") {
    val media = Multimodal.mediaFromDocuments(docs)
    val a = Multimodal.extractFeatures(media, Multimodal.StubDecoder).collect()
      .sortBy(_.media_id)
    val b = Multimodal.extractFeatures(media, Multimodal.StubDecoder).collect()
      .sortBy(_.media_id)
    assert(a.map(_.features.toSeq).toSeq == b.map(_.features.toSeq).toSeq)
    assert(a(0).n_frames == 1)                    // image: single frame
    assert(a(2).n_frames == a(2).n_bytes / 256)   // video: frame per 256 bytes
    assert(a.forall(_.features.length == 16))
  }

  test("decoder is pluggable: a custom decoder flows through the same pipeline") {
    val constant = new Multimodal.MediaDecoder {
      override def decode(kind: String, payload: Array[Byte], dim: Int) =
        Multimodal.Decoded(7, 0, 0, Array.fill(dim)(1.0f))
    }
    val out = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(docs), constant, featureDim = 4).collect()
    assert(out.forall(_.n_frames == 7))
    assert(out.forall(_.features.toSeq == Seq(1.0f, 1.0f, 1.0f, 1.0f)))
  }

  test("ImageIoDecoder reads a real PNG's dimensions and pixels from the bytes") {
    val png = Multimodal.renderPng(seed = 7L, w = 12, h = 9)
    // PNG magic: a genuine encoded image, not a fingerprint of text
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val d = Multimodal.ImageIoDecoder.decode("image", png, featureDim = 16)
    assert(d.width == 12 && d.height == 9 && d.nFrames == 1)
    assert(d.features(0) == 12.0f && d.features(1) == 9.0f && d.features(2) == 108.0f)
    // channel means of LCG pixels sit well inside (0, 1); histogram sums to 1
    Seq(3, 4, 5).foreach(i => assert(d.features(i) > 0.0f && d.features(i) < 1.0f))
    assert(math.abs(d.features.drop(6).sum - 1.0f) < 1e-4)
    // determinism: identical bytes → identical features
    val d2 = Multimodal.ImageIoDecoder.decode("image", png, featureDim = 16)
    assert(d.features.toSeq == d2.features.toSeq)
  }

  test("resize re-encodes image payloads at the target size; other kinds pass through") {
    val media = Multimodal.mediaWithRealImages(docs)
    val resized = Multimodal.resizeMedia(media, 5, 7)
    val out = Multimodal.extractFeatures(resized, Multimodal.ImageIoDecoder)
      .collect().sortBy(_.media_id)
    // image: the NEW bytes decode at the target size
    assert(out(0).kind == "image" && out(0).width_px == 5 && out(0).height_px == 7)
    // non-image payloads are byte-identical passthrough
    val audioBefore = media.filter(col("media_id") === 1L)
      .select("payload").collect().head.getAs[Array[Byte]](0)
    val audioAfter = resized.filter(col("media_id") === 1L)
      .select("payload").collect().head.getAs[Array[Byte]](0)
    assert(audioBefore.toSeq == audioAfter.toSeq)
    // direct round trip: upscale then decode reads the upscaled dims
    val big = Multimodal.resizeImage(Multimodal.renderPng(3L, 8, 8), 32, 16)
    val d = Multimodal.ImageIoDecoder.decode("image", big, 16)
    assert(d.width == 32 && d.height == 16)
  }

  test("real-image media pipeline: PNGs decode end-to-end, stubs degrade gracefully") {
    val media = Multimodal.mediaWithRealImages(docs)
    val out = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder)
      .collect().sortBy(_.media_id)
    // doc 0 is image kind: dimensions come from the PNG BYTES (8+0, 8+0)
    assert(out(0).kind == "image" && out(0).width_px == 8 && out(0).height_px == 8)
    // doc 1 is audio kind: frame count comes from the WAV BYTES
    assert(out(1).kind == "audio" && out(1).n_frames == Multimodal.wavSampleCount(1L))
    // doc 2 is video kind: falls back to the stub (no JDK video codec)
    assert(out(2).kind == "video" && out(2).width_px == 0 && out(2).height_px == 0)
    // a corrupt image payload degrades to stub features instead of failing
    val corrupt = Multimodal.ImageIoDecoder.decode("image", Array[Byte](1, 2, 3), 16)
    assert(corrupt.width == 0 && corrupt.nFrames == 1)
  }

  test("ImageIoDecoder reads real PCM samples out of a rendered WAV") {
    val n = 300
    val wav = Multimodal.renderWav(seed = 11L, nSamples = n, rateHz = 16000)
    // RIFF magic: a genuine encoded WAV, not a fingerprint of text
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val d = Multimodal.ImageIoDecoder.decode("audio", wav, featureDim = 16)
    assert(d.nFrames == n)                       // frame count from the header
    assert(d.features(0) == 16000.0f)            // sample rate from the header
    assert(d.features(1) == 1.0f)                // mono
    assert(d.features(2) == n.toFloat)
    assert(d.features(3) == 32767.0f)            // pinned peak sample
    assert(d.features(4) > 0f && d.features(4) <= 32767f) // mean |amp|
    assert(d.features(5) >= d.features(4))       // RMS ≥ mean |amp|
    // histogram over |amplitude| sums to 1
    assert(math.abs(d.features.drop(7).sum - 1.0f) < 1e-4)
    // determinism: identical bytes → identical features
    val d2 = Multimodal.ImageIoDecoder.decode("audio", wav, featureDim = 16)
    assert(d.features.toSeq == d2.features.toSeq)
    // a non-WAV audio payload degrades to the stub, never fails
    val stubbed = Multimodal.ImageIoDecoder.decode("audio", "plain text".getBytes, 16)
    assert(stubbed.nFrames == Multimodal.StubDecoder.decode("audio", "plain text".getBytes, 16).nFrames)
  }

  test("audio kernels: 16-bit PCM decodes in either byte order, other formats drop") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = 320
    val wav = Multimodal.renderWav(seed = 5L, nSamples = n, rateHz = 16000)
    // the WAV's own samples, read back out of its little-endian body
    val samples = (0 until n).map(i => (wav(44 + 2 * i + 1) << 8) | (wav(44 + 2 * i) & 0xff))
    def write(body: Array[Byte], fmt: AudioFormat, tpe: AudioFileFormat.Type) = {
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(body), fmt, n.toLong), tpe, out)
      out.toByteArray
    }
    // the same samples as a big-endian AIFF and as 8-bit unsigned WAV
    val aiff = write(samples.flatMap(v => Seq((v >> 8).toByte, v.toByte)).toArray,
      new AudioFormat(16000f, 16, 1, true, true), AudioFileFormat.Type.AIFF)
    val pcm8 = write(samples.map(v => ((v >> 8) + 128).toByte).toArray,
      new AudioFormat(16000f, 8, 1, false, false), AudioFileFormat.Type.WAVE)
    assert(new String(aiff.take(4), "US-ASCII") == "FORM")
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav, 0, 0, 16000),
      Multimodal.MediaRow(2L, "audio", aiff, 0, 0, 16000),
      Multimodal.MediaRow(3L, "audio", pcm8, 0, 0, 16000)).toDF()
    // per media id, the rows without their id, in a fixed order
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.toSeq.tail.mkString(",")).toSeq.sorted).toMap
    for ((name, out) <- Seq(
        "audioFrameEnergies" -> Multimodal.audioFrameEnergies(media, frameSize = 100),
        "audioPeriodicity" -> Multimodal.audioPeriodicity(media, minLag = 16, maxLag = 64),
        "audioClipping" -> Multimodal.audioClipping(media, threshold = 20000))) {
      val got = byId(out)
      assert(got.keySet == Set(1L, 2L), s"$name: ids ${got.keySet}")
      assert(got(2L) == got(1L), s"$name: AIFF rows differ from the WAV's")
    }
    // the decoder reads both byte orders alike and stubs the 8-bit payload
    val dec = Multimodal.ImageIoDecoder
    val (dWav, dAiff) = (dec.decode("audio", wav, 16), dec.decode("audio", aiff, 16))
    assert(dAiff.nFrames == n && dAiff.nFrames == dWav.nFrames)
    assert(dAiff.features.toSeq == dWav.features.toSeq)
    assert(dec.decode("audio", pcm8, 16).features.toSeq ==
      Multimodal.StubDecoder.decode("audio", pcm8, 16).features.toSeq)
  }

  test("warm mm09 and mm15 reuse their persisted frames: a second run adds no cache entry") {
    val sf = "/root/testdata/sf0.001"
    val byName = graft.queries.Registry.all.map(q => q.name -> q).toMap
    val queries = Seq(byName("mm09_image_phash_dedup"), byName("mm15_video_near_dup"))
    // CacheManager.numCachedEntries is private[sql] in Scala, public in bytecode
    val cacheManager = spark.sharedState.cacheManager
    def cachedDatasets(): Int = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    graft.util.PlanCache.releaseAll()
    try {
      val before = (cachedDatasets(), graft.dedup.Dedup.cachedBaseCount)
      queries.foreach(_.run(spark, sf).count())
      val cold = (cachedDatasets(), graft.dedup.Dedup.cachedBaseCount)
      // each query persists on its first run, or the guard is vacuous
      assert(cold._1 >= before._1 + 2 && cold._2 > before._2, s"$before -> $cold")
      queries.foreach { q =>
        q.run(spark, sf).count()
        assert(cachedDatasets() == cold._1, s"${q.name}: warm run persisted again")
        assert(graft.dedup.Dedup.cachedBaseCount == cold._2,
          s"${q.name}: warm run added a fingerprint base")
      }
    } finally graft.util.PlanCache.releaseAll()
  }

  test("averageHash64: cross-implementation agreement, shift robustness, separation") {
    val ids = (0L until 120L by 3L).toSeq
    val hams = ids.map { id =>
      val png = Multimodal.renderPng(id, 8 + (id % 9).toInt, 8 + (id % 7).toInt)
      val op = Option(Multimodal.averageHash64(png)).map(_.longValue())
      // the independent per-cell-loop reference must realize the exact
      // same spec — this is the agreement the mm09 oracle gate rests on
      assert(op == graft.queries.ReferenceHashes.averageHash64(png), s"id=$id")
      val shifted = Multimodal.shiftBrightness(png, 16)
      val opS = Option(Multimodal.averageHash64(shifted)).map(_.longValue())
      assert(opS == graft.queries.ReferenceHashes.averageHash64(png, delta = 16), s"id=$id shifted")
      java.lang.Long.bitCount(op.get ^ opS.get)
    }
    // exposure shift is the perturbation aHash absorbs: a few bits, max
    assert(hams.forall(_ <= 6), s"shift hamming too high: $hams")
    // unrelated images sit far apart — the separation that makes a
    // hamming<=6 cutoff a near-dup test and not a noise generator
    val distinct = ids.take(20).map(id =>
      Multimodal.averageHash64(
        Multimodal.renderPng(id, 8 + (id % 9).toInt, 8 + (id % 7).toInt)).longValue())
    val cross = for (a <- distinct.indices; b <- distinct.indices if a < b)
      yield java.lang.Long.bitCount(distinct(a) ^ distinct(b))
    assert(cross.min > 6, s"unrelated pair too close: ${cross.min}")
    // non-decodable and sub-8x8 payloads: null, not garbage bits
    assert(Multimodal.averageHash64(Array[Byte](1, 2, 3)) == null)
    assert(Multimodal.averageHash64(Multimodal.renderPng(1L, 4, 4)) == null)
  }

  test("renderGif: lossless multi-frame round trip, formula-exact frame hashes") {
    (2L until 60L by 3L).foreach { id =>
      val w = 8 + (id % 9).toInt
      val h = 8 + (id % 7).toInt
      val n = Multimodal.gifFrameCount(id)
      val gif = Multimodal.renderGif(id, w, h, n)
      // GIF magic: a genuine encoded container, not a fingerprint of text
      assert(new String(gif.take(3), "US-ASCII") == "GIF", s"id=$id")
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      reader.setInput(iis)
      // frame count survives the container round trip
      assert(reader.getNumImages(true) == n, s"id=$id")
      (0 until n).foreach { f =>
        val img = reader.read(f)
        // palette encoding is lossless: every decoded pixel equals the
        // formula's gray exactly (this is what lets the mm11 oracle
        // predict hashes with no codec at all)
        var s = Multimodal.gifFrameSeed(id, f)
        var y = 0
        var ok = true
        while (y < h && ok) {
          var x = 0
          while (x < w && ok) {
            s = s * 6364136223846793005L + 1442695040888963407L
            val v = ((s >>> 40) & 0xff).toInt
            ok = (img.getRGB(x, y) & 0xffffff) == ((v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        assert(ok, s"id=$id frame=$f decoded pixels diverge from formula")
        // decoded-pixel aHash == formula-predicted aHash, bit for bit
        assert(Option(Multimodal.averageHash64(img)).map(_.longValue()) ==
          graft.queries.ReferenceHashes.gifFrameHash64(id, w, h, f),
          s"id=$id frame=$f")
      }
      reader.dispose(); iis.close()
    }
  }

  test("videoFrameHashes: one decode pass, per-frame formula-exact hashes, non-video drops") {
    import spark.implicits._
    val docs = (0L until 30L).map(id => (id, s"doc-$id")).toDF("doc_id", "text")
    val got = Multimodal.videoFrameHashes(Multimodal.mediaWithRealVideos(docs))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val want = (0L until 30L).filter(_ % 3 == 2).flatMap { id =>
      val w = 8 + (id % 9).toInt
      val h = 8 + (id % 7).toInt
      val n = Multimodal.gifFrameCount(id)
      (0 until n).map(f => (id, f, n,
        graft.queries.ReferenceHashes.gifFrameHash64(id, w, h, f).get))
    }
    assert(got.toSeq == want)
    // image/audio/undecodable rows never leak into the frame stream
    val mixed = Multimodal.mediaWithRealImages(docs)
    assert(Multimodal.videoFrameHashes(mixed.filter($"kind" =!= "video")).isEmpty)
  }

  test("audioFrameEnergies: formula-exact frames, partial tail, non-audio drops") {
    import spark.implicits._
    val docs = (0L until 30L).map(id => (id, s"doc-$id")).toDF("doc_id", "text")
    val media = Multimodal.mediaWithRealImages(docs)
    val got = Multimodal.audioFrameEnergies(media, frameSize = 100)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      .sortBy(t => (t._1, t._2))
    // the independent from-spec prediction (no audio library)
    val want = (0L until 30L).filter(_ % 3 == 1).flatMap { id =>
      graft.queries.ReferenceHashes.wavFrameStats(id, 100).map {
        case (idx, n, energy, peak) => (id, idx, n, energy, peak)
      }
    }
    assert(got.toSeq == want)
    // a frameSize that doesn't divide any sample count (256 + k·64)
    // forces a partial tail frame on every row — pin its arithmetic
    got.groupBy(_._1).foreach { case (id, frames) =>
      val total = frames.map(_._3).sum
      assert(total == 256 + (id % 7).toInt * 64, s"sample mass for $id")
      assert(frames.init.forall(_._3 == 100) && frames.last._3 == total % 100)
    }
    // frame 0 carries the fixture's pinned +32767 peak sample
    assert(got.filter(_._2 == 0).forall(_._5 == 32767))
    // image/video/undecodable rows never leak into the frame stream
    assert(Multimodal.audioFrameEnergies(
      media.filter($"kind" =!= "audio"), frameSize = 100).isEmpty)
  }

  test("audioClipping: decode matches the codec-free formula; runs count maximal") {
    import spark.implicits._
    val thr = 20000 // low enough that multi-sample runs actually occur
    val docs = (0L until 60L).map(id => (id, s"doc-$id")).toDF("doc_id", "text")
    val got = Multimodal.audioClipping(
        Multimodal.mediaWithRealImages(docs), threshold = thr)
      .select("media_id", "n_samples", "n_clipped", "max_run", "n_runs")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val want = (0L until 60L).filter(_ % 3 == 1).map { id =>
      val (n, c, m, k) = graft.queries.ReferenceHashes.wavClipStats(id, thr)
      (id, n, c, m, k)
    }
    assert(got.toSeq == want)
    // the fixture pins sample 0 at +32767 — every row clips at least once
    assert(got.forall(_._3 >= 1))
    // maximality invariants: max_run ≤ n_clipped, runs partition the mass
    assert(got.forall(t => t._4 <= t._3 && t._5 <= t._3 && t._4 * t._5 >= t._3))
    // at a low threshold some run must exceed 1 or the invariant is vacuous
    assert(got.exists(_._4 > 1), "fixture produced no multi-sample run at low threshold")
    // non-audio rows drop
    assert(Multimodal.audioClipping(
      Multimodal.mediaWithRealImages(docs).filter($"kind" =!= "audio"), thr).isEmpty)
  }

  test("activeSegments: segments are exactly the maximal active runs") {
    import spark.implicits._
    val thr = 357913941L
    val docs = (0L until 60L).map(id => (id, s"doc-$id")).toDF("doc_id", "text")
    val frames = Multimodal.audioFrameEnergies(
      Multimodal.mediaWithRealImages(docs), frameSize = 128)
    val got = Multimodal.activeSegments(frames, thr)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))
      .sortBy(t => (t._1, t._2))
    // independent reconstruction: group the from-spec frame stats into
    // maximal consecutive runs with plain Scala, no Spark windows
    val want = (0L until 60L).filter(_ % 3 == 1).flatMap { id =>
      val active = graft.queries.ReferenceHashes.wavFrameStats(id, 128)
        .filter { case (_, n, e, _) => e >= thr * n }
      val runs = active.foldLeft(List.empty[List[(Int, Int, Long, Int)]]) {
        case (acc, f @ (idx, _, _, _)) => acc match {
          case head :: tail if head.head._1 == idx - 1 => (f :: head) :: tail
          case _ => List(f) :: acc
        }
      }.reverse.map(_.reverse)
      runs.zipWithIndex.map { case (run, i) =>
        (id, (i + 1).toLong, run.head._1, run.last._1,
          run.size.toLong, run.map(_._3).sum, run.map(_._4).max)
      }
    }
    assert(got.toSeq == want)
    // and the segmentation is non-trivial on this fixture: some media
    // have gaps (≥ 2 segments), some are entirely silent
    val perMedia = got.groupBy(_._1).view.mapValues(_.size)
    assert(perMedia.values.exists(_ >= 2))
    assert(perMedia.size < 20) // 60 docs → 20 audio; at least one silent
  }

  test("rgbRows: every fast path and the fallback are pixel-identical to getRGB") {
    def perPixel(img: java.awt.image.BufferedImage): Seq[Int] =
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield img.getRGB(x, y)
    def viaRows(img: java.awt.image.BufferedImage): Seq[Int] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      Multimodal.rgbRows(img)((_, row) => buf ++= row.take(img.getWidth))
      buf.toSeq
    }
    // decoded fixture PNG: the JDK PNG reader's interleaved-byte sRGB
    // layout — the decode-path fast lane
    val png = Multimodal.decodeImage(Multimodal.renderPng(7L, 12, 9))
    assert(viaRows(png) == perPixel(png), "PNG (interleaved byte)")
    // decoded GIF frame: 8-bit IndexColorModel — the palette fast lane
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(Multimodal.renderGif(5L, 10, 11, 2)))
    val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
    reader.setInput(iis)
    val gifFrame = reader.read(1)
    reader.dispose(); iis.close()
    assert(viaRows(gifFrame) == perPixel(gifFrame), "GIF (indexed)")
    // synthesized packed-int frame — the TYPE_INT_RGB fast lane
    val rgbImg = new java.awt.image.BufferedImage(
      9, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 9)
      rgbImg.setRGB(x, y, (x * 37 + y * 101) * 7919)
    assert(viaRows(rgbImg) == perPixel(rgbImg), "TYPE_INT_RGB")
    // gray and alpha layouts must take the ColorModel fallback (gray's
    // conversion is real colorspace math, not a byte shuffle) and
    // still match exactly
    for (t <- Seq(java.awt.image.BufferedImage.TYPE_BYTE_GRAY,
      java.awt.image.BufferedImage.TYPE_4BYTE_ABGR,
      java.awt.image.BufferedImage.TYPE_USHORT_565_RGB)) {
      val img = new java.awt.image.BufferedImage(7, 6, t)
      for (y <- 0 until 6; x <- 0 until 7)
        img.setRGB(x, y, (x * 53 + y * 131) * 104729)
      assert(viaRows(img) == perPixel(img), s"fallback type $t")
    }
    // a subimage breaks the zero-translate alignment precondition and
    // must fall back — values still exact
    val sub = png.getSubimage(2, 1, 8, 7)
    assert(viaRows(sub) == perPixel(sub), "subimage (unaligned fallback)")
  }

  test("contentFeatures (Catalyst) is bitwise-equal to contentVector on every kind") {
    import spark.implicits._
    // real decodes for image/audio/video plus a DEGRADED audio row
    // (corrupt payload, kind=audio): the branch keys on kind, so the
    // stub dims get the PCM normalization — pinned here so the plan
    // and the row-level reference can never drift apart on it
    val media = Seq(
      Multimodal.MediaRow(0L, "image", Multimodal.renderPng(0L, 8, 8), 8, 8, 0),
      Multimodal.MediaRow(3L, "image", Multimodal.renderPng(3L, 11, 10), 11, 10, 0),
      Multimodal.MediaRow(1L, "audio", Multimodal.renderWav(1L, 320, 16000), 0, 0, 16000),
      Multimodal.MediaRow(4L, "audio", "not a wav".getBytes("UTF-8"), 0, 0, 16000),
      Multimodal.MediaRow(2L, "video", "plain text payload".getBytes("UTF-8"), 0, 0, 0))
      .toDF()
    val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder).toDF()
    val got = Multimodal.contentFeatures(feats)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Float](2)))
      .toMap
    val want = feats.select("media_id", "kind", "features")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1),
          Multimodal.contentVector(r.getString(1), r.getSeq[Float](2).toArray).toSeq)))
      .toMap
    assert(got.keySet == want.keySet)
    // bitwise: floatToIntBits catches a -0.0/0.0 or NaN-payload drift
    // that plain == would wave through
    got.foreach { case (id, (kind, vec)) =>
      val (wKind, wVec) = want(id)
      assert(kind == wKind)
      assert(vec.length == 13, s"id=$id dims")
      assert(vec.map(java.lang.Float.floatToIntBits) ==
        wVec.map(java.lang.Float.floatToIntBits), s"id=$id ($kind)")
    }
    // and the transform is expression-only: the input's decode stage
    // is the plan's ONLY object boundary — contentFeatures adds no
    // object-encoder round trip of its own (r20's typed map added a
    // MapElements + a second Deserialize/Serialize pair)
    def objNodes(df: org.apache.spark.sql.DataFrame): Int = {
      val s = df.queryExecution.optimizedPlan.toString
      Seq("DeserializeToObject", "SerializeFromObject", "MapElements")
        .map(n => s.sliding(n.length).count(_ == n)).sum
    }
    assert(objNodes(Multimodal.contentFeatures(feats)) == objNodes(feats),
      "contentFeatures added an object-encoder round trip")
  }

  test("channelStats: decoded channel sums equal the codec-free formula") {
    import spark.implicits._
    val docs = Seq((0L, "img a"), (3L, "img b"), (6L, "img c"),
      (1L, "audio"), (2L, "video"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars", org.apache.spark.sql.functions.lit(5))
    val got = Multimodal.channelStats(Multimodal.mediaWithRealImages(docs))
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // image ids only (id % 3 == 0); audio/video rows must drop
    assert(got.keySet == Set(0L, 3L, 6L))
    got.foreach { case (id, (w, h, sr, sg, sb)) =>
      assert(w == 8 + (id % 9).toInt && h == 8 + (id % 7).toInt)
      val (er, eg, eb) =
        graft.queries.ReferenceHashes.pngChannelSums(id, w, h)
      assert((sr, sg, sb) == ((er, eg, eb)),
        s"channel sums for image $id diverge from the pixel formula")
      // sanity: sums sit strictly inside (0, 255·w·h) for LCG noise
      assert(sr > 0 && sr < 255L * w * h)
    }
  }
}
