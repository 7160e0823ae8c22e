package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

/**
 * Multimodal columns for a training-data pipeline: media as opaque
 * `binary` payloads with typed metadata, and a decode/feature-extract
 * stage that runs per-partition with a pluggable decoder.
 *
 * The decoder boundary is where a real deployment binds an image/audio
 * library; this container has none, so [[StubDecoder]] produces
 * deterministic pseudo-features derived from the payload bytes. The
 * Spark-side plumbing — schema, batch shape, partition-wise execution,
 * downstream similarity integration — is real and tested.
 *
 * mapPartitions (preference (d) in the custom-operator ladder) is the
 * right tool here and only here: decoding is genuinely imperative
 * per-row work against a native library whose handles should be opened
 * once per partition, not once per row — the same reason Python
 * pipelines use mapInPandas for this stage. Everything before and after
 * the decode stays in Catalyst expressions.
 */
object Multimodal {

  val Kinds = Seq("image", "audio", "video")

  /** Media table row: id, kind, opaque payload, typed metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                            width: Int, height: Int, sample_rate_hz: Int)

  final case class MediaFeatures(media_id: Long, kind: String, n_frames: Int,
                                 n_bytes: Int, width_px: Int, height_px: Int,
                                 features: Array[Float])

  /** What a decoder returns for one payload. `width`/`height` are the
    * dimensions DECODED from the bytes (0 when the format has none or
    * the decoder is a stub) — distinct from MediaRow's declared
    * metadata, which a real pipeline must never trust. */
  final case class Decoded(nFrames: Int, width: Int, height: Int,
                           features: Array[Float])

  /** The external-library boundary. Implementations must be
    * serializable (shipped to executors) and cheap to reuse across the
    * rows of a partition. */
  trait MediaDecoder extends Serializable {
    def decode(kind: String, payload: Array[Byte], featureDim: Int): Decoded
  }

  /**
   * Deterministic stand-in for a real decoder: pseudo-features from a
   * rolling hash of the payload, frame count from payload length. A
   * real deployment replaces this object — nothing else changes.
   */
  object StubDecoder extends MediaDecoder {
    override def decode(kind: String, payload: Array[Byte], featureDim: Int): Decoded = {
      val frames = kind match {
        case "image" => 1
        case "audio" => math.max(1, payload.length / 64)
        case "video" => math.max(1, payload.length / 256)
        case _       => 0
      }
      var h = 1125899906842597L // deterministic seed
      val features = new Array[Float](featureDim)
      var i = 0
      while (i < payload.length) {
        h = 31 * h + payload(i)
        features(i % featureDim) += (h % 1000) / 1000.0f
        i += 1
      }
      Decoded(frames, 0, 0, features)
    }
  }

  /**
   * A REAL media decoder on the JDK's own codecs — no external library:
   * `javax.imageio` for PNG/JPEG/BMP/GIF and `javax.sound.sampled` for
   * WAV/AIFF PCM. Images decode to actual pixels (features are genuine
   * image statistics: dimensions, channel means, luminance histogram);
   * audio decodes to actual PCM samples (features are genuine sample
   * statistics: channels, rate, peak/mean amplitude). Video still
   * delegates to [[StubDecoder]] (the JDK ships no video codec), as
   * does any payload neither API can parse — the pipeline never fails
   * on a corrupt blob, it degrades to fingerprint features.
   */
  object ImageIoDecoder extends MediaDecoder {

    /** Feature layout for decoded audio: (0) sample rate Hz, (1) channel
      * count, (2) frame count, (3) peak |amplitude| in raw int16 units,
      * (4) mean |amplitude|, (5) RMS, (6) zero crossings; remaining slots
      * hold a normalized |amplitude| histogram. Only what [[pcm16]]
      * accepts (16-bit signed PCM in either byte order) decodes;
      * anything else degrades to [[StubDecoder]], so a corrupt blob
      * never fails the pipeline. */
    private def decodeAudio(payload: Array[Byte], featureDim: Int): Decoded = {
      val pcm = pcm16(payload)
      if (pcm.isEmpty) return StubDecoder.decode("audio", payload, featureDim)
      val (fmt, samples) = pcm.get
      val channels = math.max(fmt.getChannels, 1)
      val nSamples = samples.length
      val nFrames = nSamples / channels
      var peak = 0; var sumAbs = 0L; var sumSq = 0.0; var zc = 0; var prev = 0
      val histBins = math.max(featureDim - 7, 0)
      val hist = new Array[Long](math.max(histBins, 1))
      var i = 0
      while (i < nSamples) {
        val v = samples(i)
        val a = math.abs(v)
        if (a > peak) peak = a
        sumAbs += a
        sumSq += v.toDouble * v
        if (i > 0 && ((v ^ prev) < 0)) zc += 1
        if (histBins > 0) hist(math.min(a * histBins / 32768, histBins - 1)) += 1
        prev = v
        i += 1
      }
      val features = new Array[Float](featureDim)
      if (featureDim > 0) features(0) = fmt.getSampleRate
      if (featureDim > 1) features(1) = channels.toFloat
      if (featureDim > 2) features(2) = nFrames.toFloat
      if (featureDim > 3) features(3) = peak.toFloat
      if (featureDim > 4) features(4) =
        if (nSamples > 0) (sumAbs.toDouble / nSamples).toFloat else 0f
      if (featureDim > 5) features(5) =
        if (nSamples > 0) math.sqrt(sumSq / nSamples).toFloat else 0f
      if (featureDim > 6) features(6) = zc.toFloat
      i = 0
      while (i < histBins) {
        features(7 + i) = if (nSamples > 0) hist(i).toFloat / nSamples else 0f
        i += 1
      }
      Decoded(nFrames, 0, 0, features)
    }

    /** Feature layout for decoded video: (0) frame count, (1) width,
      * (2) height, (3..) mean luminance (0–1) of each frame in order,
      * as many as fit. The JDK's GIF reader handles multi-frame GIFs —
      * the one genuine video-ish container the JDK can parse; anything
      * it can't parse degrades to [[StubDecoder]] like the other kinds. */
    private def decodeVideo(payload: Array[Byte], featureDim: Int): Decoded = {
      val iis = memoryIis(payload)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return StubDecoder.decode("video", payload, featureDim)
        val reader = readers.next()
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        if (n <= 0) return StubDecoder.decode("video", payload, featureDim)
        val first = reader.read(0)
        val w = first.getWidth
        val h = first.getHeight
        val features = new Array[Float](featureDim)
        if (featureDim > 0) features(0) = n.toFloat
        if (featureDim > 1) features(1) = w.toFloat
        if (featureDim > 2) features(2) = h.toFloat
        var f = 0
        while (f < n && 3 + f < featureDim) {
          val img = if (f == 0) first else reader.read(f)
          var sum = 0L
          val fw = img.getWidth
          rgbRows(img) { (_, row) =>
            var x = 0
            while (x < fw) {
              val rgb = row(x)
              sum += ((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114
              x += 1
            }
          }
          features(3 + f) =
            (sum / 1000.0 / (img.getWidth.toLong * img.getHeight) / 255.0).toFloat
          f += 1
        }
        reader.dispose()
        Decoded(n, w, h, features)
      } catch {
        case _: java.io.IOException => StubDecoder.decode("video", payload, featureDim)
      } finally iis.close()
    }

    override def decode(kind: String, payload: Array[Byte], featureDim: Int): Decoded = {
      if (kind == "audio") return decodeAudio(payload, featureDim)
      if (kind == "video") return decodeVideo(payload, featureDim)
      if (kind != "image") return StubDecoder.decode(kind, payload, featureDim)
      val img = decodeImage(payload)
      if (img == null) return StubDecoder.decode(kind, payload, featureDim)
      val w = img.getWidth
      val h = img.getHeight
      val features = new Array[Float](featureDim)
      features(0) = w.toFloat
      features(1) = h.toFloat
      features(2) = (w.toFloat * h) // pixel count
      // channel means (3..5) and a luminance histogram over the rest
      var sr = 0L; var sg = 0L; var sb = 0L
      val histBins = math.max(featureDim - 6, 0)
      val hist = new Array[Long](math.max(histBins, 1))
      rgbRows(img) { (_, row) =>
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sr += r; sg += g; sb += b
          if (histBins > 0) {
            val lum = (r * 299 + g * 587 + b * 114) / 1000 // integer luma, deterministic
            hist(lum * histBins / 256) += 1
          }
          x += 1
        }
      }
      val n = (w.toLong * h).toFloat
      if (featureDim > 3) features(3) = sr / n / 255.0f
      if (featureDim > 4) features(4) = sg / n / 255.0f
      if (featureDim > 5) features(5) = sb / n / 255.0f
      var i = 0
      while (i < histBins) { features(6 + i) = hist(i) / n; i += 1 }
      Decoded(1, w, h, features)
    }
  }

  /** The one PCM decode: an audio payload's samples (channels
    * interleaved) with its format, when `javax.sound.sampled` parses it
    * as 16-bit signed PCM in either byte order (WAV is little-endian,
    * AIFF big-endian). None for anything else — unparseable bytes,
    * 8-bit, unsigned, float or compressed audio — so no caller ever
    * reads another format's bytes as if they were int16 samples. */
  private def pcm16(payload: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Int])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 ||
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val bytes = in.readAllBytes()
          val hiFirst = fmt.isBigEndian
          val out = new Array[Int](bytes.length / 2)
          var i = 0
          while (i < out.length) {
            val hi = if (hiFirst) 2 * i else 2 * i + 1
            out(i) = (bytes(hi) << 8) | (bytes(hi ^ 1) & 0xff)
            i += 1
          }
          Some((fmt, out))
        }
      } finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** PNG-encode a frame through a memory-backed ImageOutputStream —
    * the encode-side twin of [[memoryIis]]: `ImageIO.write(img, fmt,
    * OutputStream)` wraps the sink in a `FileCacheImageOutputStream`
    * (default `useCache=true`), creating and deleting a temp FILE per
    * encode; under a 32-thread partition pass those creates contend in
    * the filesystem and dominate the render stage. The emitted bytes
    * are IDENTICAL — the writer and image data are unchanged, only the
    * stream's backing store moves (and mm01's oracle re-derives the
    * exact PNG byte totals, so a byte drift would fail the gate). */
  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /**
   * Render a deterministic PNG: `w`×`h` RGB pixels from an LCG seeded
   * by `seed`, encoded with the JDK's PNG writer. This is the fixture
   * side of the real-decode round trip: mm04's oracle recomputes the
   * dimension formulas, so a broken decode (or a decoder that trusts
   * declared metadata instead of the bytes) breaks the hash.
   */
  def renderPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // direct raster fill (r21): per-pixel setRGB allocates a
    // data-elements array per call; a fresh TYPE_INT_RGB frame is one
    // int bank with stride == w, so the row-major LCG stream writes
    // straight into it — setRGB stores exactly rgb & 0xffffff here, so
    // the stored raster (and the encoded PNG, which mm01's byte-total
    // oracle gates) is identical
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var s = seed * 6364136223846793005L + 1442695040888963407L
    var i = 0
    val n = w * h
    while (i < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      data(i) = ((s >>> 40) & 0xffffff).toInt
      i += 1
    }
    encodePng(img)
  }

  /**
   * Render an 8×8 black/white PNG whose [[averageHash64]] is EXACTLY
   * `bits` — the gadget constructor for the planted-truth image dedup
   * gate (mm21). Why exact: at 8×8 every aHash cell is one pixel
   * (cell (i, j) = pixel (x = j, y = i), bit c = 8·y + x), white luma
   * is exactly 255 and black exactly 0, and the integer
   * cross-multiplied mean compare reduces to 255·64 > 255·k for white
   * (true iff k < 64) and 0 > 0 for black (always false) — so with
   * 1 ≤ popcount(bits) ≤ 63 the decoded hash equals the requested
   * pattern bit for bit, making planted Hamming distances closed-form
   * from the patterns alone. Enforced by require, pinned by spec.
   */
  def renderPatternPng(bits: Long): Array[Byte] = {
    val k = java.lang.Long.bitCount(bits)
    require(k >= 1 && k <= 63, s"pattern must mix black and white, got $k bits")
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var c = 0
    while (c < 64) {
      val v = if (((bits >>> c) & 1L) == 1L) 0xffffff else 0x000000
      img.setRGB(c % 8, c / 8, v)
      c += 1
    }
    encodePng(img)
  }

  /**
   * Render a solid-color `w`×`h` PNG — the gadget constructor for the
   * planted-truth media-ANN gate (mm23). Why solid colors: the decoded
   * CONTENT vector ([[contentVector]]) of a solid-color image is a
   * closed-form function of (r, g, b) ALONE — channel means are
   * exactly r/255, g/255, b/255 (the per-cell sum is value·n, and
   * value·n / n / 255 rounds to the same float at every n) and the
   * luma histogram is the single indicator bit of bin
   * ⌊luma·bins/256⌋ — so members of one gadget rendered at DIFFERENT
   * sizes decode to bitwise-IDENTICAL content vectors: the
   * scale-invariance the content embedding claims, exercised as a
   * planted certainty.
   */
  def renderSolidPng(r: Int, g: Int, b: Int, w: Int, h: Int): Array[Byte] = {
    require(r >= 0 && r <= 255 && g >= 0 && g <= 255 && b >= 0 && b <= 255)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    // direct raster fill — see renderPng; stored value identical
    java.util.Arrays.fill(img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData, rgb)
    encodePng(img)
  }

  /**
   * Render a deterministic WAV: `nSamples` mono 16-bit PCM samples at
   * `rateHz` from an LCG seeded by `seed`, encoded with the JDK's WAVE
   * writer. Sample 0 is pinned to +32767 so the decoded peak amplitude
   * is a constant an independent engine can predict; the remaining
   * samples span [-32767, 32767]. Fixture side of mm06's real-decode
   * round trip (mirrors [[renderPng]] for mm04).
   */
  def renderWav(seed: Long, nSamples: Int, rateHz: Int): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    var s = seed * 6364136223846793005L + 1442695040888963407L
    var i = 0
    while (i < nSamples) {
      val v =
        if (i == 0) 32767
        else {
          s = s * 6364136223846793005L + 1442695040888963407L
          ((s >>> 24) % 65535L).toInt - 32767
        }
      data(2 * i) = (v & 0xff).toByte // little-endian 16-bit PCM
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    // Canonical 44-byte RIFF/WAVE header written by hand, BYTE-IDENTICAL
    // to what `AudioSystem.write(..., Type.WAVE, out)` emits for mono
    // 16-bit little-endian PCM (verified exhaustively across every
    // fixture size variant before the switch). Why not AudioSystem:
    // its write path re-runs a ServiceLoader provider scan PER CALL,
    // which serializes a 32-thread render partition pass — measured
    // 51 µs/op wall across 32 threads vs 33 µs single-threaded (~50×
    // the expected parallel cost). The decode side (mm06/mm12/mm13's
    // real javax.sound PCM decode) is unchanged and still gates every
    // byte of this header + payload.
    val dataLen = data.length
    val out = new Array[Byte](44 + dataLen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def ascii(off: Int, t: String): Unit = {
      var j = 0; while (j < t.length) { out(off + j) = t.charAt(j).toByte; j += 1 }
    }
    ascii(0, "RIFF"); le32(4, 36 + dataLen); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, rateHz); le32(28, rateHz * 2); le16(32, 2); le16(34, 16)
    ascii(36, "data"); le32(40, dataLen)
    System.arraycopy(data, 0, out, 44, dataLen)
    out
  }

  /** Decoded frame count a correct WAV decode must find for audio row
    * `id` — the fixture formula mm06's oracle recomputes. */
  def wavSampleCount(id: Long): Int = 256 + (id % 7).toInt * 64

  /** Fixture geometry (width, height) of image row `id`, shared by the
    * animated GIF of video row `id` — the dimension formulas mm04's
    * oracle recomputes. */
  def imageSize(id: Long): (Int, Int) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)

  /**
   * Media table with REAL image and audio payloads: image-kind rows
   * carry a genuine PNG (dimensions [[imageSize]]), audio-kind rows a
   * genuine WAV (sample count
   * [[wavSampleCount]], 16 kHz mono, pinned peak) — so an independent
   * engine can predict what a correct decode must find. Video rows keep
   * UTF-8 stand-in payloads behind the declared stub boundary (the JDK
   * ships no video codec). Row-at-a-time encoding is fixture synthesis,
   * not a pipeline operator — the pipeline itself only ever DECODES,
   * inside [[extractFeatures]]'s partition pass.
   */
  def mediaWithRealImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NO spread here (r22 measured negative): spreading this scan to
    // the core count parallelizes the render, but the image paths
    // persist narrow projections downstream (mm09's fingerprint base,
    // the feature cache) that every warm run scans at several plan
    // positions — a 32-partition persisted base turned mm09's warm run
    // from 7 single-task stages into 195 tasks and cost +0.4 s steady-
    // state, with mm05/mm02 flat. The trimmed-video path (below) has no
    // such persisted fan-in and DID win from the spread.
    docs.select("doc_id", "text").as[(Long, String)].map { case (id, text) =>
      Kinds((id % 3).toInt) match {
        case "image" =>
          val (w, h) = imageSize(id)
          MediaRow(id, "image", renderPng(id, w, h), w, h, 0)
        case "audio" =>
          MediaRow(id, "audio", renderWav(id, wavSampleCount(id), 16000), 0, 0, 16000)
        case kind =>
          MediaRow(id, kind, text.getBytes("UTF-8"), 0, 0, 16000)
      }
    }.toDF()
  }

  /** Manufacture a media table from the text corpus (UTF-8 payloads) —
    * a stand-in source until real binary columns exist in the fixtures. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedlit(Kinds), (col("doc_id") % Kinds.size).cast(IntegerType) + 1)
        .as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      lit(64).as("width"), lit(64).as("height"), lit(16000).as("sample_rate_hz"))

  /**
   * The one decode pass every media kernel runs: the media table pruned
   * to the six [[MediaRow]] columns, narrowed to `kind`'s rows (all
   * kinds for None) by a Catalyst filter ahead of the deserializer, and
   * `f` run once per partition. No exchange, persist or job of its own.
   *
   * `f` reaches `mapPartitions` as given, never wrapped: `MapPartitions`
   * compares its function by reference, and the plan caches keyed on
   * canonicalized plans (mm09's fingerprint base, the frame-hash frame
   * behind [[videoNearDups]]) hit from one run to the next only because
   * their kernels pass non-capturing lambdas — the same instance on
   * every call. A closure created here per call would miss every time.
   */
  private[graft] def decodePass[U <: Product : TypeTag](media: DataFrame,
      kind: Option[String])(f: Iterator[MediaRow] => Iterator[U]): Dataset[U] = {
    val spark = media.sparkSession
    import spark.implicits._
    val rows = media.select("media_id", "kind", "payload", "width", "height", "sample_rate_hz")
    kind.fold(rows)(k => rows.filter(col("kind") === k)).as[MediaRow].mapPartitions(f)
  }

  /**
   * Decode + feature-extract, one decoder per partition. The input is
   * pruned to the columns the decoder needs before the shuffle-free
   * partition pass; output is a narrow typed frame ready for the
   * similarity operators.
   */
  def extractFeatures(media: DataFrame, decoder: MediaDecoder,
                      featureDim: Int = 16): Dataset[MediaFeatures] =
    decodePass(media, None) { rows =>
      // per-partition setup happens here (library handle, scratch buffers)
      rows.map { r =>
        val d = decoder.decode(r.kind, r.payload, featureDim)
        MediaFeatures(r.media_id, r.kind, d.nFrames, r.payload.length,
          d.width, d.height, d.features)
      }
    }

  /**
   * REAL image resize (JDK `Graphics2D`, bilinear): decode the payload,
   * scale to `w`×`h`, re-encode as PNG. Non-image kinds and
   * undecodable payloads pass through untouched — the same graceful
   * degrade as [[ImageIoDecoder]]. Runs per-partition for the same
   * reason as the decode stage (imperative per-row work, library
   * state reused across a partition's rows).
   */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = decodeImage(payload)
    if (img == null) return payload
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    encodePng(out)
  }

  /** The resize stage over a media table: image payloads re-encoded at
    * `w`×`h` (declared metadata updated to match), other kinds pass
    * through. */
  def resizeMedia(media: DataFrame, w: Int, h: Int): DataFrame =
    decodePass(media, None)(_.map { r =>
      if (r.kind == "image")
        r.copy(payload = resizeImage(r.payload, w, h), width = w, height = h)
      else r
    }).toDF()

  /** Frame sampling as pure metadata math (every `stride`-th frame). */
  def sampleFrameCount(features: DataFrame, stride: Int): DataFrame =
    features.withColumn("n_sampled_frames",
      ceil(col("n_frames").cast(DoubleType) / stride).cast(IntegerType))

  /** In-memory ImageInputStream over a payload — the JDK's
    * `ImageIO.createImageInputStream`/`ImageIO.read` default path
    * writes EVERY payload to a disk-backed temp-file cache first
    * (`FileCacheImageInputStream` under the default `useCache=true`),
    * which on the fixture-sized images is ~5× the cost of the decode
    * itself (measured 103 µs vs 16 µs per 8–16 px PNG). Constructing
    * the memory-cache stream directly sidesteps that per-image temp
    * file without touching the PROCESS-global `ImageIO.setUseCache`
    * switch. Byte-for-byte the same decode: reader discovery and the
    * codec are unchanged, only the stream's backing store moves. */
  private def memoryIis(payload: Array[Byte]) =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))

  /** Per-thread PNG reader for [[decodeImage]]'s magic-byte fast path
    * (r21): `ImageIO.getImageReaders` re-walks the service registry —
    * iterator + provider `canDecodeInput` sniffs — and instantiates +
    * disposes a fresh `PNGImageReader` PER PAYLOAD; on the 8–16 px
    * fixture frames that setup is a large share of the measured
    * ~17 µs/decode. `ImageReader`s are documented reusable via
    * repeated `setInput` (state fully resets), and executor threads
    * are pooled, so one reader per thread amortizes construction to
    * zero. Identical decode: the registry's discovery would select
    * this same PNGImageReader for any PNG-magic payload; a corrupt
    * body still throws `IIOException → null`, and the next `setInput`
    * resets the reader. Non-PNG payloads keep the full discovery
    * path. */
  private val pngReaderTl = new ThreadLocal[javax.imageio.ImageReader]

  private def isPng(p: Array[Byte]): Boolean =
    p.length >= 8 && p(0) == 0x89.toByte && p(1) == 'P'.toByte &&
      p(2) == 'N'.toByte && p(3) == 'G'.toByte && p(4) == 0x0d.toByte &&
      p(5) == 0x0a.toByte && p(6) == 0x1a.toByte && p(7) == 0x0a.toByte

  /** Decode an image payload to its first frame — `ImageIO.read`
    * semantics (same reader-discovery order, null when no registered
    * reader matches or the payload is corrupt) minus the temp-file
    * stream cache; see [[memoryIis]]. PNG-magic payloads reuse the
    * per-thread reader ([[pngReaderTl]]); everything else runs full
    * registry discovery. The codec fast path for every single-frame
    * decode site in this object. */
  def decodeImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = memoryIis(payload)
    try {
      if (isPng(payload)) {
        var reader = pngReaderTl.get
        if (reader == null) {
          val rs = javax.imageio.ImageIO.getImageReadersByFormatName("png")
          if (!rs.hasNext) return null
          reader = rs.next()
          pngReaderTl.set(reader)
        }
        reader.setInput(iis)
        reader.read(0)
      } else {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try { reader.setInput(iis); reader.read(0) }
          finally reader.dispose()
        }
      }
    } catch { case _: java.io.IOException => null }
    finally iis.close()
  }

  /**
   * Row-bulk pixel access (r21): streams a frame's default-RGB pixels
   * one scanline at a time into a reused buffer and invokes
   * `f(y, row)` per row — exactly `BufferedImage.getRGB(x, y)`'s
   * values for every pixel, without its per-pixel cost. Per-pixel
   * `getRGB` allocates a fresh data-elements object per call
   * (`raster.getDataElements(x, y, null)`), which dominates the decode
   * paths on fixture-sized frames. Three layouts read the raster's
   * DataBuffer directly because their ColorModel conversion is a pure
   * byte shuffle / table lookup with no color math:
   *
   *  - 8-bit sRGB interleaved bytes, no alpha (the JDK PNG reader's
   *    RGB output and `TYPE_3BYTE_BGR`): `getRGB` packs the three
   *    samples verbatim — band offsets honored, 0xFF alpha;
   *  - `TYPE_INT_RGB` packed ints (this object's own synthesized
   *    frames): `getRGB` is the stored int with 0xFF alpha;
   *  - 8-bit indexed (decoded GIF frames): `IndexColorModel.getRGB`
   *    is a lookup into the palette table `getRGBs` exposes verbatim.
   *
   * Anything else (gray — whose conversion applies real colorspace
   * math — alpha variants, custom models) takes the scanline-bulk
   * `getRGB(0, y, w, 1, row, 0, w)` call: the same per-pixel
   * ColorModel conversion as `getRGB(x, y)`, minus the per-pixel
   * allocation. The spec pins all four paths pixel-identical to
   * per-pixel `getRGB`, and every downstream consumer (aHash, channel
   * stats, luma histograms) stays gated by codec-free oracles.
   */
  private[multimodal] def rgbRows(img: java.awt.image.BufferedImage)
                                 (f: (Int, Array[Int]) => Unit): Unit = {
    import java.awt.image.{BufferedImage, ComponentColorModel, ComponentSampleModel,
      DataBufferByte, DataBufferInt, IndexColorModel, PixelInterleavedSampleModel,
      SinglePixelPackedSampleModel}
    val w = img.getWidth; val h = img.getHeight
    val row = new Array[Int](w)
    val raster = img.getRaster
    val cm = img.getColorModel
    val db = raster.getDataBuffer
    // the fast paths index the DataBuffer bank directly, so they only
    // apply when the raster starts at the bank's origin (always true
    // for freshly decoded / constructed frames; subimages fall back)
    val aligned = raster.getMinX == 0 && raster.getMinY == 0 &&
      raster.getSampleModelTranslateX == 0 &&
      raster.getSampleModelTranslateY == 0 &&
      db.getNumBanks == 1 && db.getOffset == 0
    (raster.getSampleModel, db) match {
      case (sm: PixelInterleavedSampleModel, bytes: DataBufferByte)
          if aligned && cm.isInstanceOf[ComponentColorModel] &&
            !cm.hasAlpha && cm.getColorSpace.isCS_sRGB &&
            cm.getNumComponents == 3 && cm.getComponentSize.forall(_ == 8) =>
        val data = bytes.getData
        val stride = sm.getScanlineStride
        val ps = sm.getPixelStride
        val offs = sm.getBandOffsets // (r, g, b) offsets within a pixel
        var y = 0
        while (y < h) {
          var x = 0
          var p = y * stride
          while (x < w) {
            row(x) = 0xff000000 |
              ((data(p + offs(0)) & 0xff) << 16) |
              ((data(p + offs(1)) & 0xff) << 8) |
              (data(p + offs(2)) & 0xff)
            p += ps
            x += 1
          }
          f(y, row)
          y += 1
        }
      case (sm: SinglePixelPackedSampleModel, ints: DataBufferInt)
          if aligned && img.getType == BufferedImage.TYPE_INT_RGB =>
        val data = ints.getData
        val stride = sm.getScanlineStride
        var y = 0
        while (y < h) {
          var x = 0
          val base = y * stride
          while (x < w) {
            row(x) = 0xff000000 | (data(base + x) & 0xffffff)
            x += 1
          }
          f(y, row)
          y += 1
        }
      case (sm: PixelInterleavedSampleModel, bytes: DataBufferByte)
          if aligned && cm.isInstanceOf[IndexColorModel] &&
            sm.getNumBands == 1 && sm.getPixelStride == 1 &&
            cm.getPixelSize == 8 =>
        val icm = cm.asInstanceOf[IndexColorModel]
        val table = new Array[Int](icm.getMapSize)
        icm.getRGBs(table) // the exact ARGB values getRGB returns
        val data = bytes.getData
        val stride = sm.getScanlineStride
        var y = 0
        while (y < h) {
          var x = 0
          val base = y * stride
          while (x < w) {
            row(x) = table(data(base + x) & 0xff)
            x += 1
          }
          f(y, row)
          y += 1
        }
      case _ =>
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          f(y, row)
          y += 1
        }
    }
  }

  /**
   * 64-bit perceptual average-hash (aHash) of an image payload, the
   * standard image-dedup fingerprint: re-encodes, exposure shifts, and
   * (approximately) rescales of the same picture land within a few
   * bits, while unrelated images sit ~32 bits apart — so the SimHash
   * Hamming-band machinery applies unchanged to image near-dup.
   *
   * The spec (both implementations — this one and the independent
   * oracle re-derivation in ReferenceHashes — must realize it exactly):
   *  - integer luma per pixel: (299·r + 587·g + 114·b) / 1000;
   *  - an 8×8 grid assigned by the bucket formula i = ⌊y·8/h⌋,
   *    j = ⌊x·8/w⌋ (equivalently: cell (i,j) covers
   *    y ∈ [⌈i·h/8⌉, ⌈(i+1)·h/8⌉) × x ∈ [⌈j·w/8⌉, ⌈(j+1)·w/8⌉)) —
   *    an exact area partition, no resampling step to make
   *    implementation-dependent;
   *  - bit 8·i+j set iff the cell's mean luma exceeds the global mean,
   *    compared cross-multiplied in integers (cellSum·w·h >
   *    totalSum·cellArea) so no division ever rounds.
   *
   * Returns null for undecodable payloads. One pixel scan, cell sums
   * accumulated in a single pass.
   */
  def averageHash64(payload: Array[Byte]): java.lang.Long = {
    val img = decodeImage(payload)
    if (img == null) return null
    averageHash64(img)
  }

  /** [[averageHash64]] over an already-decoded frame — the shared core
    * for the payload form above and per-frame hashing of multi-frame
    * containers ([[videoFrameHashes]]), where one payload decodes to
    * many frames and re-encoding each back to bytes just to re-decode
    * them would be waste. */
  def averageHash64(img: java.awt.image.BufferedImage): java.lang.Long = {
    val w = img.getWidth; val h = img.getHeight
    if (w < 8 || h < 8) return null
    val cellSum = new Array[Long](64)
    // counted during the scan, not recomputed from boundary formulas —
    // the binning and the area can then never disagree
    val cellCnt = new Array[Long](64)
    var total = 0L
    rgbRows(img) { (y, row) =>
      val i = y * 8 / h
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        val c = i * 8 + (x * 8 / w)
        cellSum(c) += lum
        cellCnt(c) += 1
        total += lum
        x += 1
      }
    }
    var bits = 0L
    var c = 0
    // 128-bit compare: cellSum·w·h approaches 255·(wh)²/64, which
    // overflows Long once w·h exceeds ~1.5e9 pixels — and the oracle-side
    // re-derivation would overflow identically, so the cross-
    // implementation gate could never catch the silent corruption.
    // Math.multiplyHigh + unsigned low-word compare keeps the
    // cross-multiplied form exact at any image size.
    val wh = w.toLong * h
    while (c < 64) {
      val lhsHi = Math.multiplyHigh(cellSum(c), wh)
      val lhsLo = cellSum(c) * wh
      val rhsHi = Math.multiplyHigh(total, cellCnt(c))
      val rhsLo = total * cellCnt(c)
      val gt =
        if (lhsHi != rhsHi) lhsHi > rhsHi
        else java.lang.Long.compareUnsigned(lhsLo, rhsLo) > 0
      if (gt) bits |= (1L << c)
      c += 1
    }
    java.lang.Long.valueOf(bits)
  }

  /** Exposure-shift an image payload: every channel moves by `delta`
    * (clamped to [0,255]) and the result re-encodes as PNG — the
    * perturbation aHash is designed to absorb. Non-image payloads pass
    * through, like [[resizeImage]]. */
  def shiftBrightness(payload: Array[Byte], delta: Int): Array[Byte] = {
    val img = decodeImage(payload)
    if (img == null) return payload
    val w = img.getWidth
    val out = new java.awt.image.BufferedImage(
      w, img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val shifted = new Array[Int](w)
    rgbRows(img) { (y, row) =>
      var x = 0
      while (x < w) {
        val rgb = row(x)
        def clamp(v: Int): Int = math.min(255, math.max(0, v))
        val r = clamp(((rgb >> 16) & 0xff) + delta)
        val g = clamp(((rgb >> 8) & 0xff) + delta)
        val b = clamp((rgb & 0xff) + delta)
        shifted(x) = (r << 16) | (g << 8) | b
        x += 1
      }
      // row-bulk setRGB: same stored pixels as per-pixel setRGB on a
      // TYPE_INT_RGB frame, without its per-pixel data-elements churn
      out.setRGB(0, y, w, 1, shifted, 0, w)
    }
    encodePng(out)
  }

  /** The per-(seed, frame) LCG start for [[renderGif]]'s pixel stream —
    * part of the fixture SPEC: frame `f` of GIF `seed` is fully
    * determined by this value and the row-major LCG step, so an
    * independent engine can predict any frame's pixels (and therefore
    * its aHash) without ever touching a GIF codec. */
  def gifFrameSeed(seed: Long, frame: Int): Long =
    seed * 1000003L + frame.toLong * 2654435761L

  /**
   * Render a deterministic ANIMATED GIF: `nFrames` frames of `w`×`h`
   * grayscale pixels, each frame's grays drawn row-major from an LCG
   * started at [[gifFrameSeed]] (gray = bits 40..47 of the state, the
   * same extraction as [[renderPng]]), written as one multi-frame GIF
   * through the JDK writer's sequence API. Grayscale is load-bearing,
   * twice over: a 256-gray palette makes GIF's palette encoding
   * LOSSLESS (arbitrary RGB would be color-quantized and the decoded
   * pixels would no longer match the formula), and integer luma of
   * gray v is exactly v ((299+587+114)·v/1000), so the aHash an
   * independent engine predicts from the formula equals the aHash of
   * the decoded pixels bit-for-bit. Fixture side of mm11's real
   * multi-frame decode gate (mirrors [[renderPng]]/[[renderWav]]).
   */
  def renderGif(seed: Long, w: Int, h: Int, nFrames: Int): Array[Byte] =
    renderGif(seed, w, h, nFrames, 0)

  /** [[renderGif]] over the base-sequence frame range
    * `startFrame until endFrame` (endFrame is EXCLUSIVE — the 4-arg
    * form passes its frame count here with startFrame 0): a TRIMMED
    * re-encode of the same footage, the canonical duplicated-video
    * case (re-uploads cut the first seconds) mm15's near-dup detector
    * must catch. Frame indices keep their base numbering, so the
    * trimmed copy's decoded frames hash identically to the base's
    * frames ≥ startFrame. */
  def renderGif(seed: Long, w: Int, h: Int, endFrame: Int,
                startFrame: Int): Array[Byte] = {
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = startFrame
      while (f < endFrame) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        // direct raster fill (r21): a fresh TYPE_BYTE_INDEXED frame is
        // one byte bank with stride == w; setSample stored the same
        // byte per pixel with per-call dispatch — the stored raster
        // (and the encoded GIF, whose lossless round trip the mm11
        // oracle gates) is identical
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        var s = gifFrameSeed(seed, f)
        var i = 0
        val n = w * h
        while (i < n) {
          s = s * 6364136223846793005L + 1442695040888963407L
          data(i) = ((s >>> 40) & 0xff).toByte
          i += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** Decoded frame count a correct multi-frame GIF decode must find
    * for video row `id` — the fixture formula mm11's oracle recomputes
    * (mirrors [[wavSampleCount]] for audio). */
  def gifFrameCount(id: Long): Int = 2 + (id % 5).toInt

  /** Media table with REAL multi-frame video payloads: the video-kind
    * doc ids (id % 3 == 2) carry an animated GIF ([[renderGif]],
    * dimensions from the image-row formulas, [[gifFrameCount]] frames).
    * Complements [[mediaWithRealImages]] — which keeps video rows
    * behind the stub boundary so its established byte/frame oracles
    * stay stable — for the operators that exercise true multi-frame
    * decode. */
  def mediaWithRealVideos(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long].filter(_ % 3 == 2).map { id =>
      val (w, h) = imageSize(id)
      MediaRow(id, "video", renderGif(id, w, h, gifFrameCount(id)), w, h, 0)
    }.toDF()
  }

  /**
   * Per-frame perceptual fingerprints of a media table's video rows:
   * (media_id, frame_idx, n_frames, frame_hash), decoded in ONE
   * per-partition pass — the reader opens once per payload, every
   * frame hashes from its decoded pixels via the [[averageHash64]]
   * core, and only the narrow hash rows leave the partition (payloads
   * never shuffle, the same property [[imageHashes]] has). Undecodable
   * payloads and sub-8×8 frames drop. This is the real form of frame
   * sampling/dedup at scale: a downstream `frame_idx % stride` filter
   * or a Hamming band join over `frame_hash` both run on rows of ~24
   * bytes, regardless of video size.
   */
  def videoFrameHashes(media: DataFrame): DataFrame =
    decodePass(media, Some("video"))(_.flatMap { r =>
      val iis = memoryIis(r.payload)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Iterator.empty
        else {
          val reader = readers.next()
          reader.setInput(iis)
          try {
            val n = reader.getNumImages(true)
            (0 until n).flatMap { f =>
              Option(averageHash64(reader.read(f)))
                .map(hash => (r.media_id, f, n, hash.longValue()))
            }.iterator
          } finally reader.dispose()
        }
      } catch {
        case _: java.io.IOException => Iterator.empty
      } finally iis.close()
    }).toDF("media_id", "frame_idx", "n_frames", "frame_hash")

  /** Offset separating trimmed-variant media ids from their base ids —
    * far above any fixture doc_id, so `variant - TrimVariantOffset`
    * recovers the base. */
  val TrimVariantOffset = 1000000000L

  /** [[mediaWithRealVideos]] plus a TRIMMED re-encode (first frame cut,
    * [[renderGif]]'s startFrame form) of every other video — the
    * near-duplicate population mm15 must separate from unrelated
    * footage. Variant ids are base + [[TrimVariantOffset]]. */
  def mediaWithTrimmedVideos(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // same gated spread as mediaWithRealImages: the GIF render below
    // is the priciest per-row pass in the engine and a single-file
    // fixture scan serialized it on one core. mapPartitions, not
    // Dataset.flatMap: flatMap wraps its function in a fresh closure
    // per call, so the plan would never match itself and the
    // frame-hash cache below would miss on every warm mm15/mm20 run
    graft.util.Spread.toCores(docs.select("doc_id"), col("doc_id"))
      .as[Long].filter(_ % 3 == 2).mapPartitions(_.flatMap { id =>
        val (w, h) = imageSize(id)
        val n = gifFrameCount(id)
        val base = MediaRow(id, "video", renderGif(id, w, h, n), w, h, 0)
        if (id % 6 == 5)
          Seq(base, MediaRow(id + TrimVariantOffset, "video",
            renderGif(id, w, h, n, 1), w, h, 0))
        else Seq(base)
      }).toDF()
  }

  // decode-once guard for the near-dup plan: the frame-hash projection
  // feeds three join positions (both self-join sides and the size
  // frame); without a persist each would re-run the full GIF decode
  private val frameHashCache = new graft.util.PlanCache(maxEntries = 4)

  /**
   * Video-level near-duplicates from frame-fingerprint overlap: two
   * videos are near-dups when the Jaccard similarity of their DISTINCT
   * frame-hash sets reaches `minJaccard` — which catches trims,
   * re-encodes, and re-uploads that share most footage. The pair
   * search is the inverted-index plan (tx13's shape): hashes equi-join
   * on the fingerprint so only videos sharing at least one frame ever
   * meet, and the shared count per pair comes from the join's group-by
   * — no all-pairs enumeration at any point. Payloads stay inside the
   * one decode pass ([[videoFrameHashes]]); everything after runs on
   * ~16-byte (id, hash) rows, and the per-video size frame broadcasts.
   */
  def videoNearDups(media: DataFrame, minJaccard: Double): DataFrame = {
    val fh = frameHashCache.persisted(
      videoFrameHashes(media).select(col("media_id"), col("frame_hash")).distinct())
    val sizes = fh.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    fh.as("a").join(fh.as("b"),
        col("a.frame_hash") === col("b.frame_hash") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("media_id").as("id_a"), col("n").as("n_a"))), Seq("id_a"))
      .join(broadcast(sizes.select(col("media_id").as("id_b"), col("n").as("n_b"))), Seq("id_b"))
      .withColumn("jaccard",
        col("n_shared").cast(DoubleType) / (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /**
   * Video CONTAINMENT pairs: n_shared / min(n_a, n_b) ≥ threshold over
   * the distinct frame-hash sets — the trim/clip detector Jaccard
   * structurally under-scores (a short clip fully inside a long video
   * has containment 1.0 but Jaccard ≈ clip/video length; tx38's
   * containment rationale at video grain). Same inverted-index plan,
   * decode-once cache, and broadcast size frames as [[videoNearDups]]
   * — only the final division differs, so the scale shape is
   * identical: no all-pairs, payloads never shuffle.
   */
  def videoContainmentPairs(media: DataFrame, minContainment: Double): DataFrame = {
    val fh = frameHashCache.persisted(
      videoFrameHashes(media).select(col("media_id"), col("frame_hash")).distinct())
    val sizes = fh.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    fh.as("a").join(fh.as("b"),
        col("a.frame_hash") === col("b.frame_hash") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("media_id").as("id_a"), col("n").as("n_a"))), Seq("id_a"))
      .join(broadcast(sizes.select(col("media_id").as("id_b"), col("n").as("n_b"))), Seq("id_b"))
      .withColumn("containment",
        col("n_shared").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("containment"))
  }

  /**
   * Per-frame energy profile of a media table's audio rows: the
   * decoded PCM stream cut into fixed `frameSize`-sample frames
   * (last frame partial), each summarized as (n_samples, energy =
   * Σ sample², peak = max |sample|) — the windowed feature pass VAD /
   * silence-trim / loudness normalization start from. One
   * per-partition decode pass ([[videoFrameHashes]]' shape for audio):
   * the payload parses once, and only ~32-byte frame rows
   * leave the partition — payloads never shuffle, so a downstream
   * silence filter or loudness join runs on frame metadata regardless
   * of audio length. Integer arithmetic throughout (energy ≤
   * frameSize · 32767² ≈ 1.4e11 ≪ Long.MaxValue): no float fold
   * order to make results partitioning-dependent, which is what lets
   * an independent engine reproduce every cell. Audio contract
   * ([[pcm16]]): 16-bit signed PCM in either byte order (WAV, AIFF);
   * payloads in any other format or undecodable, and non-audio kinds,
   * drop.
   */
  def audioFrameEnergies(media: DataFrame, frameSize: Int): DataFrame = {
    require(frameSize > 0, "frameSize must be positive")
    decodePass(media, Some("audio"))(_.flatMap { r =>
      pcm16(r.payload).iterator.flatMap { case (_, samples) =>
        samples.grouped(frameSize).zipWithIndex.map { case (frame, idx) =>
          var energy = 0L
          var peak = 0
          frame.foreach { v =>
            energy += v.toLong * v
            if (math.abs(v) > peak) peak = math.abs(v)
          }
          (r.media_id, idx, frame.length, energy, peak)
        }
      }
    }).toDF("media_id", "frame_idx", "n_samples", "energy", "peak")
  }

  /**
   * Contiguous above-threshold runs of an [[audioFrameEnergies]] frame
   * stream — the silence-trim / voice-activity segmentation every
   * audio corpus-prep pass needs. A frame is active when
   * energy ≥ threshold · n_samples (a mean-energy test kept in exact
   * integer arithmetic — no division, so no float boundary to disagree
   * over); consecutive active frame indices merge into one segment via
   * gap-based sessionization on the frame SPINE (q21's recipe applied
   * to frames). Runs on frame METADATA only — the per-media window is
   * bounded by audio length ÷ frameSize, never by payload bytes, and
   * payloads were already dropped one operator upstream. Output per
   * segment: [start_frame, end_frame], frame count, summed energy,
   * peak — all integers.
   */
  def activeSegments(frames: DataFrame, threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames.filter(col("energy") >= lit(threshold) * col("n_samples"))
      .withColumn("__prev", lag(col("frame_idx"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("frame_idx") - col("__prev") > 1, 1)
          .otherwise(0))
      .withColumn("seg_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("media_id"), col("seg_id"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("total_energy"),
        max(col("peak")).as("peak"))
  }

  /**
   * Dominant periodicity of each audio row by INTEGER autocorrelation:
   * R(L) = Σ x[i]·x[i+L] over the decoded PCM for every lag in
   * [minLag, maxLag], reporting the argmax lag (ties → the smaller
   * lag), its raw correlation and the zero-lag energy R(0) — the
   * pitch/periodicity feature an audio-curation pass thresholds on
   * (R(best)/R(0) close to 1 ⇒ strongly periodic ⇒ tones/beeps;
   * near 0 ⇒ noise). Everything is exact Long arithmetic (|x| ≤ 32767
   * ⇒ each term ≤ 2³⁰; bounded-clip audio keeps the sums far under
   * 2⁶³ — overflow needs ~8e12 samples per clip), so every cell is
   * reproducible by an independent engine from the sample values
   * alone — no FFT, no floats, no fold-order caveats. One decode per
   * payload per partition, lag sweep in a tight local loop; only the
   * ~40-byte feature row leaves the partition. Audio contract as in
   * [[audioFrameEnergies]]: 16-bit signed PCM in either byte order;
   * other formats, undecodable rows and non-audio kinds drop.
   */
  def audioPeriodicity(media: DataFrame, minLag: Int, maxLag: Int): DataFrame = {
    require(0 < minLag && minLag <= maxLag, "need 0 < minLag <= maxLag")
    decodePass(media, Some("audio"))(_.flatMap { r =>
      pcm16(r.payload).map { case (_, samples) =>
        val n = samples.length
        var r0 = 0L
        var i = 0
        while (i < n) { r0 += samples(i).toLong * samples(i); i += 1 }
        var bestLag = minLag
        var bestR = Long.MinValue
        var lag = minLag
        while (lag <= maxLag) {
          var acc = 0L
          var j = 0
          while (j + lag < n) {
            acc += samples(j).toLong * samples(j + lag)
            j += 1
          }
          if (acc > bestR) { bestR = acc; bestLag = lag }
          lag += 1
        }
        (r.media_id, n, r0, bestLag, bestR)
      }
    }).toDF("media_id", "n_samples", "r0", "best_lag", "best_r")
  }

  /**
   * Clipping profile of a media table's audio rows: per audio payload,
   * how many decoded PCM samples sit at or beyond ±`threshold`
   * (`n_clipped`), the LONGEST consecutive clipped run (`max_run` —
   * the distortion signature: noise grazes the rail for 1–2 samples,
   * true clipping flat-tops for many), and the number of distinct
   * clipped runs (`n_runs`). The audio-QC gate a speech corpus prep
   * applies before transcription. Same shape as [[audioPeriodicity]]:
   * one per-partition decode pass, a single integer walk over the
   * samples, and only the ~40-byte stats row leaves the partition —
   * payloads never shuffle. All-integer output: reproducible
   * cell-exact by an independent engine from the sample values alone.
   * Audio contract as in [[audioFrameEnergies]]: 16-bit signed PCM in
   * either byte order; other formats, undecodable rows and non-audio
   * kinds drop.
   */
  def audioClipping(media: DataFrame, threshold: Int): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    decodePass(media, Some("audio"))(_.flatMap { r =>
      pcm16(r.payload).map { case (_, samples) =>
        var nClipped = 0L
        var maxRun = 0L
        var nRuns = 0L
        var run = 0L
        var i = 0
        while (i < samples.length) {
          if (math.abs(samples(i)) >= threshold) {
            run += 1
            if (run == 1) nRuns += 1
            if (run > maxRun) maxRun = run
            nClipped += 1
          } else run = 0
          i += 1
        }
        (r.media_id, samples.length, nClipped, maxRun, nRuns)
      }
    }).toDF("media_id", "n_samples", "n_clipped", "max_run", "n_runs")
  }

  /**
   * Per-channel pixel statistics of a media table's image rows: one
   * per-partition decode pass emits (id, width, height, sum_r, sum_g,
   * sum_b) — exact integer channel totals read out of the DECODED
   * pixels, the per-image profile a curation pipeline filters on
   * (all-black frames, washed-out scans, channel-dead captures). As
   * with [[imageHashes]], only this ~40-byte frame flows downstream;
   * payloads never reach a shuffle. Sums are Long: 255 · w · h stays
   * under 2⁶³ until w·h ≈ 3.6e16 pixels — declared bound, far past any
   * real image. Undecodable rows drop.
   */
  def channelStats(media: DataFrame): DataFrame =
    decodePass(media, Some("image"))(_.flatMap { r =>
      Option(decodeImage(r.payload)).map { img =>
        var (sr, sg, sb) = (0L, 0L, 0L)
        val w = img.getWidth
        rgbRows(img) { (_, row) =>
          var x = 0
          while (x < w) {
            val v = row(x)
            sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
            x += 1
          }
        }
        (r.media_id, w, img.getHeight, sr, sg, sb)
      }
    }).toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")

  /** Perceptual fingerprints of a media table's image rows: (id,
    * ahash), decoded per-partition like [[extractFeatures]]. Only this
    * narrow frame flows downstream — payloads never reach a shuffle,
    * which is what makes banded image dedup viable at billions of
    * images. Undecodable rows drop (they can't near-dup anything). */
  def imageHashes(media: DataFrame): DataFrame =
    decodePass(media, Some("image"))(_.flatMap { r =>
      Option(averageHash64(r.payload)).map(h => (r.media_id, h.longValue()))
    }).toDF("id", "ahash")

  /**
   * Scale-invariant CONTENT embedding of an [[ImageIoDecoder]] feature
   * vector — the retrieval space for media ANN (mm02/mm23). The raw
   * 16-dim decode vector is cosine-DEGENERATE for retrieval: its
   * size/format dims dwarf every content dim (images: w, h and w·h up
   * to hundreds vs 0–1 channel means; audio: 16000 Hz sample rate and
   * raw-int16 peak ≈ 32767 vs unit-scale everything else), so every
   * vector of a kind pointed in nearly the same direction and top-k
   * measured tie-breaking, not content. This map keeps ONLY per-unit
   * content moments, every output dimension in [0, 1]-scale:
   *
   *  - image  (layout w, h, w·h, means r/g/b, luma hist ×10):
   *    → [mean_r, mean_g, mean_b, hist_0..hist_9]         (dims 3..15)
   *  - audio  (layout rate, ch, frames, peak, meanAbs, rms, zc,
   *    |amp| hist ×9):
   *    → [peak, meanAbs, rms]/32768, zc/frames (the crossing RATE —
   *      duration-free), hist_0..hist_8                   (13 dims)
   *  - video (StubDecoder rolling-hash fingerprint — no size axis
   *    dominates a direction): first 13 dims unchanged (cosine is
   *    already scale-free in the vector's global magnitude).
   *
   * The branch keys on the row's KIND, not on whether the decode
   * succeeded: a corrupt/non-PCM AUDIO payload degrades to the
   * StubDecoder fingerprint but still takes the audio branch, so its
   * stub dims get the PCM normalization applied (harmless — a uniform
   * rescale of 3 dims plus one ratio, still deterministic and mirrored
   * exactly by the oracle's refContentVector, which keys the same way).
   *
   * Always `featureDim − 3` output dims, so all kinds share one space.
   */
  def contentVector(kind: String, f: Array[Float]): Array[Float] = {
    val out = new Array[Float](math.max(f.length - 3, 0))
    kind match {
      case "image" =>
        var i = 3
        while (i < f.length) { out(i - 3) = f(i); i += 1 }
      case "audio" =>
        if (f.length > 3) out(0) = f(3) / 32768.0f
        if (f.length > 4) out(1) = f(4) / 32768.0f
        if (f.length > 5) out(2) = f(5) / 32768.0f
        if (f.length > 6) out(3) = f(6) / math.max(f(2), 1.0f)
        var i = 7
        while (i < f.length) { out(i - 3) = f(i); i += 1 }
      case _ =>
        var i = 0
        while (i < out.length) { out(i) = f(i); i += 1 }
    }
    out
  }

  /** [[contentVector]] over a decoded-features frame (the
    * [[extractFeatures]] output): (media_id, kind, cvec) — no decode
    * re-run, no shuffle. Pure Catalyst expressions (r21): the former
    * typed `Dataset.map` paid an object-encoder round-trip per row —
    * the one custom-code-where-an-expression-fits instance in a gated
    * plan, and BENCH_r20's only regression (mm02 1.47× min). The
    * per-kind transform is `slice`/`element_at`/arithmetic inside
    * whole-stage codegen. Divisions run in DOUBLE (Spark's `Divide`
    * accepts only double/decimal) and cast back to FLOAT, which is
    * bit-identical to [[contentVector]]'s Float math: `/32768` is an
    * exponent shift (exact in both widths), and for `x / max(y, 1)`
    * the double quotient rounded to float equals direct float division
    * (53 ≥ 2·24+2 significand bits, so the double rounding is
    * innocuous for division — Figueroa's bound). `greatest` and
    * `math.max` agree on NaN (both propagate it). Requires the
    * fixed-length vectors [[extractFeatures]] emits (≥ 8 dims for the
    * audio branch's `element_at`s); [[contentVector]] remains the
    * any-length row-level reference, and the spec pins this plan
    * bitwise-equal to it over every kind including degraded rows. */
  def contentFeatures(features: DataFrame): DataFrame = {
    val f = col("features")
    val audio = concat(
      array(
        (element_at(f, 4) / 32768.0).cast(FloatType),
        (element_at(f, 5) / 32768.0).cast(FloatType),
        (element_at(f, 6) / 32768.0).cast(FloatType),
        (element_at(f, 7) / greatest(element_at(f, 3), lit(1.0f)))
          .cast(FloatType)),
      slice(f, lit(8), size(f) - 7))
    features.select(col("media_id"), col("kind"),
      when(col("kind") === "image", slice(f, lit(4), size(f) - 3))
        .when(col("kind") === "audio", audio)
        .otherwise(slice(f, lit(1), size(f) - 3))
        .as("cvec"))
  }
}
