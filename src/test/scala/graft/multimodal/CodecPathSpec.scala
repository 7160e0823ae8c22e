package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/**
 * Regression guards for the r20 codec fast paths. Both replaced a
 * stock-JDK call whose default stream handling serialized 32-thread
 * partition passes (ImageIO's per-payload temp-FILE stream cache;
 * AudioSystem.write's per-call ServiceLoader provider scan) with an
 * equivalent that MUST stay byte/pixel-identical — these specs pin the
 * equivalence against the stock paths themselves, so a future JDK or
 * code change that drifts either one fails here rather than as a
 * tier-gate hash mismatch.
 */
class CodecPathSpec extends AnyFunSuite {

  private def stockDecode(p: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    catch { case _: java.io.IOException => null }

  private def pixels(img: java.awt.image.BufferedImage): Seq[Int] =
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      yield img.getRGB(x, y)

  test("decodeImage ≡ stock ImageIO.read: pixels, dims, null cases") {
    // PNGs across the fixture size grid, a GIF first frame, and the
    // planted pattern/solid constructions
    val payloads: Seq[Array[Byte]] =
      (0 until 24).map(i =>
        Multimodal.renderPng(i.toLong, 8 + i % 9, 8 + i % 7)) ++
      Seq(Multimodal.renderGif(7L, 8, 8, 3),
        Multimodal.renderPatternPng(0x5aa55aa55aa55aa5L),
        Multimodal.renderSolidPng(200, 10, 30, 11, 11))
    payloads.foreach { p =>
      val a = Multimodal.decodeImage(p)
      val b = stockDecode(p)
      assert(a != null && b != null)
      assert(a.getWidth == b.getWidth && a.getHeight == b.getHeight)
      assert(pixels(a) == pixels(b), "decoded pixels drifted from stock")
    }
    // degrade cases: corrupt payload and a non-image byte stream both
    // return null exactly like the stock path
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")) == null)
    val corrupt = Multimodal.renderPng(1L, 9, 9).take(20)
    assert(Multimodal.decodeImage(corrupt) == null)
    assert(stockDecode(corrupt) == null)
  }

  test("renderWav's hand-rolled RIFF header ≡ AudioSystem.write, byte for byte") {
    // every fixture size variant (id % 7 spans all seven sample
    // counts) plus a different rate, against the stock writer
    for (id <- 0L until 14L; rate <- Seq(16000, 8000)) {
      val n = 256 + (id % 7).toInt * 64
      val ours = Multimodal.renderWav(id, n, rate)
      // stock encode of the same PCM data (the data bytes are the
      // trailing 2n of our output — pinned identical by construction
      // if the header is right, and re-encoded here independently)
      val data = ours.drop(44)
      assert(data.length == n * 2)
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
      val stream = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        stream, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      assert(java.util.Arrays.equals(ours, out.toByteArray),
        s"WAV bytes drifted from AudioSystem at id=$id rate=$rate")
    }
  }

  test("encodePng path ≡ stock ImageIO.write bytes (renderPng round trip)") {
    // rebuild the exact image renderPng(seed, w, h) encodes (same LCG
    // start and step), push it through STOCK ImageIO.write, and demand
    // the whole encoded byte stream (header + IDAT) matches what the
    // memory-backed encoder emitted
    for (i <- 0 until 8) {
      val w = 8 + i; val h = 9
      val ours = Multimodal.renderPng(i.toLong, w, h)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var s = i.toLong * 6364136223846793005L + 1442695040888963407L
      for (y <- 0 until h; x <- 0 until w) {
        s = s * 6364136223846793005L + 1442695040888963407L
        img.setRGB(x, y, ((s >>> 40) & 0xffffff).toInt)
      }
      val stock = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", stock)
      assert(java.util.Arrays.equals(ours, stock.toByteArray),
        s"PNG bytes drifted from stock ImageIO.write at i=$i")
    }
  }
}

class PlanCacheCountSpec extends AnyFunSuite with graft.SparkSpec {
  test("PlanCache.memoizedCount: memoized per canonicalized source plan") {
    val cache = new graft.util.PlanCache(maxEntries = 2)
    import spark.implicits._
    val n1 = cache.memoizedCount((1 to 37).toDF("x"))
    // a second frame with the SAME canonicalized plan hits the memo;
    // a DIFFERENT plan gets its own entry
    val n2 = cache.memoizedCount((1 to 37).toDF("x"))
    val m = cache.memoizedCount((1 to 5).toDF("x"))
    assert(n1 == 37 && n2 == 37 && m == 5)
    cache.clear()
  }

  test("PlanCache.clear drops the count memo: the next memoizedCount counts again") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val cache = new graft.util.PlanCache(maxEntries = 2)
    val df = (1 to 41).toDF("memo_probe")
    val counts = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    // only counts over this test's own `memo_probe` frame: a count
    // another test queued before registration can still be delivered
    // after it, and must not land here
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("count_sentinel")) sentinel.countDown()
        else if (funcName == "count" &&
                 qe.analyzed.exists(_.output.map(_.name) == Seq("memo_probe"))) {
          counts.incrementAndGet(); ()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(cache.memoizedCount(df) == 41)
      assert(cache.memoizedCount(df) == 41) // memo hit: no job
      cache.clear()
      assert(cache.memoizedCount(df) == 41) // counted again
      // listener delivery is asynchronous but in order: once a sentinel
      // action run afterwards is seen, every count before it is too
      spark.range(1).toDF("count_sentinel").collect()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(counts.get == 2, s"expected 2 counting executions, saw ${counts.get}")
    cache.clear()
  }
}
