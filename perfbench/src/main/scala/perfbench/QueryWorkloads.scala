package perfbench

import graft.queries.{GraftQuery, Registry}

/**
 * `headline_warm`: headline registry queries on the sf0.1 fixture, run
 * warm (after an untimed warm-up pass), in a seeded order per pass,
 * closed loop, one client. Per-job fixed cost and driver-side planning
 * dominate.
 *
 * Every timed row count is checked against the count pinned for the
 * fixture's identity in `expected.tsv` (written by pin_counts.py).
 */
object QueryWorkloads {
  /** One or two headline queries per module. The full 38-query pass
    * takes ~50 s warm on 4 cores, and q45 alone ~17 s of a run (warm-up
    * plus one pass), too long for a run of this benchmark. */
  val Headline = Seq(
    "q01_pricing_summary", // ops: scan + aggregate
    "q17_region_revenue", // ops: five-way join, 10 jobs
    "q19_asof_join", // ops: as-of join
    "st01_stream_hourly", // streaming: drain + memory-sink copy-out
    "dq23_hll_sketch", // quality: sketch aggregate
    "sim01_ann_cosine", // similarity
    "tx06_near_dup_pairs", // text + dedup: MinHash banding
    "mm09_image_phash_dedup") // multimodal

  def headlineWarm(r: Run): Unit = {
    val dir = s"${r.fixtures}/sf0.1"
    val queries = Headline.map(Registry.byName)
    val expected = Expected.load(r, Expected.fixtureIdentity(dir))
    // an untimed warm-up pass fills the JIT, codegen and plan caches;
    // the first timed pass still runs slower, which the median absorbs
    val warm = queries.map(q => q.name -> r.timed(runQuery(r, q, dir, expected, -1))._2)
    r.setup += warm.map(_._2).sum
    r.info("warm_up_s") = warm.map { case (n, s) => f"$n=$s%.2f" }.mkString(" ")
    r.timedPasses(nominalSeconds = 7.0) { pass =>
      val order = new scala.util.Random(r.seed * 1000 + pass).shuffle(queries)
      order.foreach(q => runQuery(r, q, dir, expected, pass))
    }
  }

  /** One query: `q.run` then `count()`, timed together; pass -1 is the
    * untimed warm-up. */
  private def runQuery(r: Run, q: GraftQuery, dir: String,
                       expected: Map[String, Long], pass: Int): Unit = {
    def once(): Boolean = {
      val df = r.trace.span("q.run")(q.run(r.spark, dir))
      val n = r.trace.span("action")(df.count())
      val want = expected.get(q.name)
      if (!want.contains(n)) r.fail(s"${q.name} pass $pass: $n rows, expected ${want.getOrElse("no pinned count")}")
      want.contains(n)
    }
    if (pass < 0) {
      try once() catch { case e: Exception => r.fail(s"${q.name} warm-up: $e") }
    } else r.timedOp(q.name, pass)(once())
    val mb = r.noteStorage()
    if (pass >= 0) r.cachesMb += mb
  }
}

/** Pinned row counts: `expected.tsv` holds `identity<TAB>query<TAB>count<TAB>source`
  * lines, one per query per fixture identity. */
object Expected {
  def load(r: Run, identity: String): Map[String, Long] = {
    r.info("fixture") = identity
    val all = scala.io.Source.fromFile(r.expectedFile).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t")).toSeq
    val mine = all.collect { case Array(id, q, n, _) if id == identity => q -> n.toLong }.toMap
    if (mine.isEmpty) r.fail(s"no pinned counts for fixture $identity")
    mine
  }

  /** Content hash of a fixture directory's files. */
  def fixtureIdentity(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else {
        md.update(f.getName.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    walk(new java.io.File(dir))
    "sf0.1:" + md.digest().take(8).map("%02x".format(_)).mkString
  }
}
