package graft.queries

/**
 * Independent reference implementations of the hash functions behind
 * the fingerprint queries, written from the PUBLIC xxHash
 * specification (github.com/Cyan4973/xxHash — XXH64), NOT by calling
 * Spark's `XxHash64Function`.
 *
 * Purpose: oracle generators for fingerprint-valued queries (tx07,
 * tx09, tx16) embed driver-computed fingerprints as SQL VALUES
 * literals. If those literals were produced by the same Catalyst
 * expressions the query runs, the gate would only check that the
 * pipeline agrees with itself. Deriving them here instead makes the
 * gate a genuine cross-implementation check: a bug in the native
 * [[graft.expressions.HashExpressions.SimHash]] eval loop (vote
 * order, bit packing, tokenization drift) breaks the hash instead of
 * cancelling out. `ReferenceHashesSpec` pins this implementation to
 * Spark's builtin `xxhash64` on adversarial lengths, so the two
 * implementations are verified equivalent yet independently coded.
 */
object ReferenceHashes {

  private final val P1 = -7046029288634856825L // 0x9E3779B185EBCA87
  private final val P2 = -4417276706812531889L // 0xC2B2AE3D27D4EB4F
  private final val P3 = 1609587929392839161L  // 0x165667B19E3779F9
  private final val P4 = -8796714831421723037L // 0x85EBCA77C2B2AE63
  private final val P5 = 2870177450012600261L  // 0x27D4EB2F165667C5

  /** XXH64 of `bytes` with `seed`, per the reference spec: 32-byte
    * stripes over four lanes, lane merge, then 8/4/1-byte tail, all
    * reads little-endian. */
  def xxh64(bytes: Array[Byte], seed: Long): Long = {
    import java.lang.Long.rotateLeft
    val len = bytes.length
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        while (i + 32 <= len) {
          v1 = rotateLeft(v1 + buf.getLong(i) * P2, 31) * P1
          v2 = rotateLeft(v2 + buf.getLong(i + 8) * P2, 31) * P1
          v3 = rotateLeft(v3 + buf.getLong(i + 16) * P2, 31) * P1
          v4 = rotateLeft(v4 + buf.getLong(i + 24) * P2, 31) * P1
          i += 32
        }
        var acc = rotateLeft(v1, 1) + rotateLeft(v2, 7) +
          rotateLeft(v3, 12) + rotateLeft(v4, 18)
        acc = (acc ^ (rotateLeft(v1 * P2, 31) * P1)) * P1 + P4
        acc = (acc ^ (rotateLeft(v2 * P2, 31) * P1)) * P1 + P4
        acc = (acc ^ (rotateLeft(v3 * P2, 31) * P1)) * P1 + P4
        (acc ^ (rotateLeft(v4 * P2, 31) * P1)) * P1 + P4
      } else seed + P5
    h += len
    while (i + 8 <= len) {
      h = rotateLeft(h ^ (rotateLeft(buf.getLong(i) * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      h = rotateLeft(h ^ ((buf.getInt(i) & 0xffffffffL) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      h = rotateLeft(h ^ ((bytes(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33
    h *= P2
    h ^= h >>> 29
    h *= P3
    h ^= h >>> 32
    h
  }

  /** Seed Spark's builtin `xxhash64` uses for string columns. */
  final val SparkSeed = 42L

  /** XXH64 of one 64-bit value (its 8 little-endian bytes) — the
    * element step of Spark's seed-chained array hashing, built on the
    * from-spec byte hash above rather than Spark's specialized
    * `hashLong`. */
  def xxh64Long(l: Long, seed: Long): Long = {
    val b = new Array[Byte](8)
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l)
    xxh64(b, seed)
  }

  /** The LSH banded keys of one document, independently re-derived
    * end-to-end: tokenize (split on spaces, keeping empties) →
    * distinct `w`-gram shingles in first-occurrence order → k-MinHash
    * with the `h1 + j·h2` two-hash mixing family (h1 = XXH64 seed 42,
    * h2 = XXH64 seed 1042 forced odd, SIGNED min) → per-band key =
    * seed-chained XXH64 over the band's signature rows (seed 42, the
    * builtin `xxhash64(array<long>)` contract). Returns None for
    * documents with no shingles (fewer than `w` tokens), mirroring the
    * pipeline's `size(sh) > 0` filter. Every step here is a fresh
    * implementation of the documented contract — none of it calls the
    * Catalyst expressions the tx06 oracle gates. */
  def minhashBandKeys(text: String, w: Int = 3, k: Int = 16,
                      bands: Int = 4): Option[Seq[(Int, Long)]] = {
    val toks = text.split(" ", -1)
    if (toks.length < w) return None
    val shingles = new java.util.LinkedHashSet[String]()
    for (i <- 0 to toks.length - w)
      shingles.add(toks.slice(i, i + w).mkString(" "))
    if (shingles.isEmpty) return None
    val sig = Array.fill(k)(Long.MaxValue)
    shingles.forEach { sh =>
      val bytes = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h1 = xxh64(bytes, SparkSeed)
      val h2 = xxh64(bytes, 1042L) | 1L
      var j = 0
      var hj = h1
      while (j < k) {
        if (hj < sig(j)) sig(j) = hj
        hj += h2
        j += 1
      }
    }
    val rowsPerBand = k / bands
    Some((0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .foldLeft(SparkSeed)((acc, j) => xxh64Long(sig(j), acc))
      (b, key)
    })
  }

  /** SimHash64 of `text`, independently re-derived: the same
    * tokenization contract as `TextAnalysis.tokens` (split on single
    * spaces, KEEPING empty tokens — Spark's `split` has limit -1) and
    * the same ±1 vote per bit of each token's XXH64, but through this
    * file's from-spec hash and a fresh vote loop. */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    for (tok <- text.split(" ", -1)) {
      val h = xxh64(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8), SparkSeed)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /**
   * Independent re-derivation of the image average-hash for mm09's
   * oracle, from the same spec as
   * [[graft.multimodal.Multimodal.averageHash64]] but structured
   * differently on purpose: per-cell block loops (not one scan with
   * running bins), an optional exposure `delta` folded into the pixel
   * read (the operator path materializes a shifted PNG and re-decodes
   * it — lossless, so the pixels must agree), and its own clamp/luma
   * arithmetic. None for undecodable or sub-8×8 payloads.
   */
  def averageHash64(payload: Array[Byte], delta: Int = 0): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (img == null || img.getWidth < 8 || img.getHeight < 8) return None
    val w = img.getWidth; val h = img.getHeight
    def lum(x: Int, y: Int): Long = {
      val rgb = img.getRGB(x, y)
      def ch(v: Int): Int = {
        val s = v + delta
        if (s < 0) 0 else if (s > 255) 255 else s
      }
      (ch((rgb >> 16) & 0xff) * 299 + ch((rgb >> 8) & 0xff) * 587 +
        ch(rgb & 0xff) * 114) / 1000
    }
    var total = 0L
    for (y <- 0 until h; x <- 0 until w) total += lum(x, y)
    var bits = 0L
    for (i <- 0 until 8; j <- 0 until 8) {
      // ceil boundaries — the block form of the operator's bucket
      // formula ⌊y·8/h⌋ = i (see the spec in Multimodal.averageHash64)
      val (y0, y1) = ((i * h + 7) / 8, ((i + 1) * h + 7) / 8)
      val (x0, x1) = ((j * w + 7) / 8, ((j + 1) * w + 7) / 8)
      var cell = 0L
      for (y <- y0 until y1; x <- x0 until x1) cell += lum(x, y)
      // full-width product compare (cell·w·h overflows Long past
      // ~1.5e9 pixels); independent of the operator-side formulation
      val area = (y1 - y0).toLong * (x1 - x0)
      val (lHi, lLo) = (Math.multiplyHigh(cell, w.toLong * h), cell * (w.toLong * h))
      val (rHi, rLo) = (Math.multiplyHigh(total, area), total * area)
      if (if (lHi != rHi) lHi > rHi else java.lang.Long.compareUnsigned(lLo, rLo) > 0)
        bits |= (1L << (i * 8 + j))
    }
    Some(bits)
  }

  /**
   * Predicted aHash of frame `frame` of fixture GIF `seed` — computed
   * from the documented pixel FORMULA alone, never from a codec: the
   * fixture writes 256-gray palette frames (lossless in GIF) whose
   * grays come row-major from an LCG, and integer luma of gray v is
   * exactly v, so the hash is a pure function of (seed, w, h, frame).
   * This is a STRONGER independence than the mm04/mm09 oracles (which
   * share `javax.imageio` with the operator): the operator must decode
   * real GIF bytes and reproduce values this side derives with no
   * image library at all. None for sub-8×8 (matches the operator's
   * aHash bound).
   */
  def gifFrameHash64(seed: Long, w: Int, h: Int, frame: Int): Option[Long] = {
    if (w < 8 || h < 8) return None
    val lum = Array.ofDim[Int](h, w)
    var s = seed * 1000003L + frame.toLong * 2654435761L
    for (y <- 0 until h; x <- 0 until w) {
      s = s * 6364136223846793005L + 1442695040888963407L
      lum(y)(x) = ((s >>> 40) & 0xff).toInt
    }
    var total = 0L
    for (y <- 0 until h; x <- 0 until w) total += lum(y)(x)
    var bits = 0L
    for (i <- 0 until 8; j <- 0 until 8) {
      val (y0, y1) = ((i * h + 7) / 8, ((i + 1) * h + 7) / 8)
      val (x0, x1) = ((j * w + 7) / 8, ((j + 1) * w + 7) / 8)
      var cell = 0L
      for (y <- y0 until y1; x <- x0 until x1) cell += lum(y)(x)
      // fixture frames are tiny (≤ 16×14): plain Long math cannot
      // overflow here, unlike the arbitrary-size payload path above
      if (cell * w * h > total * ((y1 - y0).toLong * (x1 - x0)))
        bits |= (1L << (i * 8 + j))
    }
    Some(bits)
  }

  /**
   * Predicted per-channel pixel sums of fixture PNG `seed` at `w`×`h` —
   * computed from the documented pixel FORMULA alone, never from a
   * codec (the gifFrameHash64 independence recipe): the fixture warms
   * the LCG once from the seed, then draws each row-major pixel as
   * ((s >>> 40) & 0xffffff) with R/G/B in the usual byte lanes, and
   * PNG is lossless, so a correct decode must read back exactly these
   * integers. The operator (`Multimodal.channelStats`) goes through
   * real PNG bytes and `javax.imageio`; this side touches no image
   * library at all.
   */
  def pngChannelSums(seed: Long, w: Int, h: Int): (Long, Long, Long) = {
    var s = seed * 6364136223846793005L + 1442695040888963407L
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < w * h) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val v = ((s >>> 40) & 0xffffff).toInt
      sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
      i += 1
    }
    (sr, sg, sb)
  }

  /**
   * Predicted 16-dim feature vector of fixture PNG `seed` at `w`×`h` —
   * from the documented pixel FORMULA alone, never from a codec (the
   * [[pngChannelSums]]/[[gifFrameHash64]] independence recipe applied
   * to the mm02/mm07 feature pipeline): pixels come row-major from the
   * twice-warmed LCG, PNG is lossless, so the decoder must land on
   * these integers. Feature layout per the documented decode contract
   * (dims, pixel count, channel means, 10-bin integer-luma histogram);
   * the float operation SEQUENCE is part of that contract — Long
   * sums, then `sum / n.toFloat / 255.0f` — and is reproduced
   * operation for operation so the vectors agree bit-for-bit, while
   * the pixel source here is arithmetic, not an image library.
   */
  def pngFormulaFeatures(seed: Long, w: Int, h: Int, dim: Int): Array[Float] = {
    val f = new Array[Float](dim)
    f(0) = w.toFloat
    f(1) = h.toFloat
    f(2) = w.toFloat * h
    var s = seed * 6364136223846793005L + 1442695040888963407L
    var sr = 0L; var sg = 0L; var sb = 0L
    val bins = math.max(dim - 6, 0)
    val hist = new Array[Long](math.max(bins, 1))
    var i = 0
    while (i < w * h) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val v = ((s >>> 40) & 0xffffff).toInt
      val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
      sr += r; sg += g; sb += b
      if (bins > 0) hist(((r * 299 + g * 587 + b * 114) / 1000) * bins / 256) += 1
      i += 1
    }
    val n = (w.toLong * h).toFloat
    if (dim > 3) f(3) = sr / n / 255.0f
    if (dim > 4) f(4) = sg / n / 255.0f
    if (dim > 5) f(5) = sb / n / 255.0f
    i = 0
    while (i < bins) { f(6 + i) = hist(i) / n; i += 1 }
    f
  }

  /**
   * Predicted feature vector of fixture WAV `id` — from the documented
   * sample FORMULA alone ([[wavSamples]]), no audio library. Layout per the
   * documented audio decode contract: rate, channels, frames, peak,
   * mean |amp|, RMS (sequential double fold — order is part of the
   * contract), zero crossings, 9-bin |amp| histogram.
   */
  def wavFormulaFeatures(id: Long, rateHz: Int, dim: Int): Array[Float] = {
    val samples = wavSamples(id)
    val n = samples.length
    var peak = 0; var sumAbs = 0L; var sumSq = 0.0; var zc = 0; var prev = 0
    val bins = math.max(dim - 7, 0)
    val hist = new Array[Long](math.max(bins, 1))
    var i = 0
    while (i < n) {
      val v = samples(i)
      val a = math.abs(v)
      if (a > peak) peak = a
      sumAbs += a
      sumSq += v.toDouble * v
      if (i > 0 && ((v ^ prev) < 0)) zc += 1
      if (bins > 0) hist(math.min(a * bins / 32768, bins - 1)) += 1
      prev = v
      i += 1
    }
    val f = new Array[Float](dim)
    if (dim > 0) f(0) = rateHz.toFloat
    if (dim > 1) f(1) = 1.0f // fixture WAVs are mono
    if (dim > 2) f(2) = n.toFloat
    if (dim > 3) f(3) = peak.toFloat
    if (dim > 4) f(4) = (sumAbs.toDouble / n).toFloat
    if (dim > 5) f(5) = math.sqrt(sumSq / n).toFloat
    if (dim > 6) f(6) = zc.toFloat
    i = 0
    while (i < bins) { f(7 + i) = hist(i).toFloat / n; i += 1 }
    f
  }

  /**
   * The documented degraded-decode contract for payloads no codec
   * parses (the fixture's "video" rows are UTF-8 text): pseudo-features
   * from the rolling hash h ← 31·h + byte off the fixed seed, each
   * step adding (h mod 1000)/1000 (SIGNED Long remainder — negative
   * contributions are part of the contract) into slot i mod dim,
   * sequentially. Re-derived here from the contract, not by calling
   * the decode stage.
   */
  def rollingHashFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val f = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) {
      h = 31 * h + payload(i)
      f(i % dim) += (h % 1000) / 1000.0f
      i += 1
    }
    f
  }

  /**
   * The samples of fixture WAV `id`, from the documented sample FORMULA
   * alone, never by parsing WAV bytes (the gifFrameHash64 independence
   * recipe for audio): 256 + (id mod 7)·64 mono samples; sample 0 is
   * pinned to +32767 and sample i > 0 comes from the i-th state of the
   * LCG s ← s·6364136223846793005 + 1442695040888963407 seeded at the
   * id (one warm-up step before the loop), taking
   * ((s >>> 24) mod 65535) − 32767. The operator must decode real
   * RIFF/PCM bytes with `javax.sound.sampled` and land on what the
   * audio oracles below derive from these integers with no audio
   * library at all.
   */
  private def wavSamples(id: Long): Array[Int] = {
    val n = 256 + (id % 7).toInt * 64
    var s = id * 6364136223846793005L + 1442695040888963407L
    val samples = new Array[Int](n)
    samples(0) = 32767
    var i = 1
    while (i < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      samples(i) = ((s >>> 24) % 65535L).toInt - 32767
      i += 1
    }
    samples
  }

  /** Per-frame (frame_idx, n_samples, energy, peak) of fixture WAV `id`
    * at `frameSize`-sample frames, last frame partial (mm12/mm13's
    * oracle side). */
  def wavFrameStats(id: Long, frameSize: Int): Seq[(Int, Int, Long, Int)] =
    wavSamples(id).grouped(frameSize).zipWithIndex.map { case (frame, idx) =>
      var energy = 0L
      var peak = 0
      frame.foreach { v =>
        energy += v.toLong * v
        if (math.abs(v) > peak) peak = math.abs(v)
      }
      (idx, frame.length, energy, peak)
    }.toSeq

  /** Clipping profile of audio row `id` — predicted from the
    * fixture's sample FORMULA alone (mm17's oracle side; no audio
    * library): (n, samples with |x| ≥ threshold, longest consecutive
    * such run, number of runs). */
  def wavClipStats(id: Long, threshold: Int): (Int, Long, Long, Long) = {
    val samples = wavSamples(id)
    val n = samples.length
    var nClipped = 0L
    var maxRun = 0L
    var nRuns = 0L
    var run = 0L
    var i = 0
    while (i < n) {
      if (math.abs(samples(i)) >= threshold) {
        run += 1
        if (run == 1) nRuns += 1
        if (run > maxRun) maxRun = run
        nClipped += 1
      } else run = 0
      i += 1
    }
    (n, nClipped, maxRun, nRuns)
  }

  /** Integer autocorrelation periodicity of audio row `id` — predicted
    * from the fixture's sample FORMULA alone (mm16's oracle side; no
    * audio library): (n, R(0), argmax lag in [minLag, maxLag] with
    * smaller-lag tie-break, R(argmax)). */
  def wavAutocorr(id: Long, minLag: Int, maxLag: Int): (Int, Long, Int, Long) = {
    val samples = wavSamples(id)
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
      while (j + lag < n) { acc += samples(j).toLong * samples(j + lag); j += 1 }
      if (acc > bestR) { bestR = acc; bestLag = lag }
      lag += 1
    }
    (n, r0, bestLag, bestR)
  }
}
