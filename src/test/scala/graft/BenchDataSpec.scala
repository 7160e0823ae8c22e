package graft

import org.scalatest.funsuite.AnyFunSuite

/** The blow-up staleness mechanism: the source fingerprint must change
  * whenever the fixture files do — that is the whole guard against
  * gating/timing a 10× dir derived from replaced data. */
class BenchDataSpec extends AnyFunSuite with SparkSpec {

  /** Run `body` on a scratch dir holding an 8-byte stand-in file per
    * fixture table. */
  private def withFixtureDir[A](body: java.io.File => A): A =
    graft.util.Scratch.withDir("graft-fp-spec-") { path =>
      val dir = new java.io.File(path)
      val tables = Seq("documents", "embeddings", "lineitem", "orders",
        "customer", "events", "region", "nation", "supplier", "part")
      tables.foreach { t =>
        val f = new java.io.File(dir, s"$t.parquet")
        java.nio.file.Files.write(f.toPath, new Array[Byte](8))
      }
      body(dir)
    }

  test("sourceFingerprint: stable for unchanged files, flips on size or mtime change") {
    withFixtureDir { dir =>
      val fp1 = BenchData.sourceFingerprint(dir.toString)
      assert(fp1.matches("[0-9a-f]{8}"))
      assert(BenchData.sourceFingerprint(dir.toString) == fp1, "must be deterministic")

      // size change on one table → new fingerprint
      val ev = new java.io.File(dir, "events.parquet")
      java.nio.file.Files.write(ev.toPath, new Array[Byte](32))
      val fp2 = BenchData.sourceFingerprint(dir.toString)
      assert(fp2 != fp1, "size change must invalidate")

      // same size, newer mtime (a regeneration that happens to match
      // byte count) → still a new fingerprint
      assert(ev.setLastModified(ev.lastModified() + 60000L))
      val fp3 = BenchData.sourceFingerprint(dir.toString)
      assert(fp3 != fp2, "mtime change must invalidate")
    }
  }

  test("ensureSkewed plants a genuinely hot key on every skewed axis") {
    import org.apache.spark.sql.functions._
    // sf0.001 keeps the build to seconds; the construction is pure key
    // arithmetic, so the planted fractions are scale-invariant
    val dir = BenchData.ensureSkewed(spark, "/root/testdata/sf0.001")
    val ev = graft.sources.Tables.events(spark, dir)
    val hotUserShare = ev.filter(col("user_id") === 1).count().toDouble /
      ev.count()
    assert(hotUserShare >= 0.10,
      s"hot user must own >=10% of events, got $hotUserShare")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val hotCustShare = ord.filter(col("o_custkey") === 1).count().toDouble /
      ord.count()
    assert(hotCustShare >= 0.10,
      s"hot custkey must own >=10% of orders, got $hotCustShare")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hotLangShare = docs.filter(col("lang") === "en").count().toDouble /
      docs.count()
    assert(hotLangShare >= 0.85,
      s"dominant lang must own >=85% of documents, got $hotLangShare")
    // s2 axes: hot JOIN key on the fact side …
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val hotOrderShare = li.filter(col("l_orderkey") === 1).count().toDouble /
      li.count()
    assert(hotOrderShare >= 0.08,
      s"hot l_orderkey must own ~10% of lineitem, got $hotOrderShare")
    // … a mega-duplicate cluster (same 60-token body, tiny tails) …
    val cluster = docs.filter(col("text").startsWith("megadup01 megadup02"))
    assert(cluster.count() == docs.filter(pmod(col("doc_id"), lit(20)) === 3).count(),
      "every doc_id % 20 == 3 doc must carry the cluster body")
    assert(cluster.count() >= 2)
    // … and a dominant token at ~20% of the whole token stream
    val tok = docs.select(explode(split(col("text"), " ")).as("t"))
    val fillShare = tok.filter(col("t") === "zzfiller").count().toDouble /
      tok.count()
    assert(fillShare >= 0.15 && fillShare <= 0.25,
      s"dominant token must carry ~20% of tokens, got $fillShare")
    // n_chars must track the rewritten text — tx18's fill reads it
    assert(docs.filter(length(col("text")) =!= col("n_chars")).count() == 0)
  }

  test("ensureCorpusBlowUp scales only documents/embeddings; relational verbatim") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001"
    val dir = BenchData.ensureCorpusBlowUp(spark, src, factor = 3)
    def n(d: String, t: String): Long = spark.read.parquet(s"$d/$t.parquet").count()
    assert(n(dir, "documents") == 3 * n(src, "documents"))
    assert(n(dir, "embeddings") == 3 * n(src, "embeddings"))
    for (t <- Seq("lineitem", "orders", "customer", "events", "nation"))
      assert(n(dir, t) == n(src, t), s"$t must copy verbatim")
    // the copies must not manufacture fake near-dups: every replica's
    // text is token-suffixed, so doc_ids are disjoint and the replica
    // population is exactly factor × the base population per base id
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.select("doc_id").distinct().count() == docs.count(),
      "replica doc_ids must be unique")
  }

  test("skew1x plants the identical construction directly on the source fixture") {
    import org.apache.spark.sql.functions._
    val dir = BenchData.ensureSkewed(spark, "/root/testdata/sf0.001",
      blowUp = false)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.count() == base.count(), "skew1x must not change the volume")
    assert(docs.filter(col("text").startsWith("megadup01")).count() ==
      base.filter(pmod(col("doc_id"), lit(20)) === 3).count())
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(li.filter(col("l_orderkey") === 1).count().toDouble / li.count() >= 0.08)
  }
}
