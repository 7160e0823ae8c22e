package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Scratch

class StorageSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Run `body` on a scratch dir whose `small` subdir holds a
    * 4,000-row store in `nFiles` files. */
  private def withSmallStore[A](nFiles: Int)(body: String => A): A =
    Scratch.withDir("graft-storage-spec-") { tmp =>
      (1 to 4000).map(i => (i.toLong, s"payload-$i", i % 7))
        .toDF("id", "payload", "grp")
        .repartition(nFiles)
        .write.mode("overwrite").parquet(s"$tmp/small")
      body(tmp)
    }

  test("compact bin-packs to ceil(bytes/target) files and preserves every row") {
    withSmallStore(32) { tmp =>
      val (bytes, nSmall) = Storage.dataFiles(spark, s"$tmp/small")
      assert(nSmall == 32)
      // a target a shade over 1/3 of the store forces exactly 3 bins —
      // small enough to prove real bin-packing, not a collapse-to-1
      val target = bytes / 3 + 1
      val compacted = Storage.compact(spark, s"$tmp/small", s"$tmp/compacted", target)
      val (cBytes, nCompact) = Storage.dataFiles(spark, s"$tmp/compacted")
      assert(nCompact == ((bytes + target - 1) / target).toInt)
      assert(nCompact < nSmall)
      assert(cBytes > 0)
      // bit-exact content: same multiset of rows back out
      val before = spark.read.parquet(s"$tmp/small")
        .orderBy("id").collect().toSeq
      val after = compacted.orderBy("id").collect().toSeq
      assert(after == before)
    }
  }

  test("compact's rewrite plan has no exchange (coalesce, not repartition)") {
    withSmallStore(16) { tmp =>
      val (bytes, _) = Storage.dataFiles(spark, s"$tmp/small")
      // capture the plan compact ACTUALLY executes (not a lookalike):
      // a QueryExecutionListener sees the write's executed plan, so a
      // regression to repartition-always cannot slip past this test.
      // Compaction of a 100 TB store must cost one read + one write,
      // never a shuffle.
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        Storage.compact(spark, s"$tmp/small", s"$tmp/c", bytes / 2 + 1)
        // listener delivery is async on the listener bus — poll for the
        // write's plan instead of asserting against an empty buffer
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      val writes = plans.toArray(Array.empty[String])
        .filter(p => p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation"))
      assert(writes.nonEmpty, s"no write plan captured (${plans.size} plans seen)")
      writes.foreach(p =>
        assert(!p.contains("Exchange"), s"unexpected shuffle in compact's plan:\n$p"))
    }
  }

  test("dynamic partition overwrite rewrites only the delta's partitions") {
    Scratch.withDir("graft-storage-dpo-") { tmp =>
      val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "a", 4.0))
        .toDF("id", "part", "v")
      df.write.mode("overwrite").partitionBy("part").parquet(tmp)
      def snapshot(p: String): Seq[(String, Long, Long)] = {
        val d = new java.io.File(s"$tmp/part=$p")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
      }
      val bBefore = snapshot("b"); val cBefore = snapshot("c")
      // writer-scoped option, the same form io08 uses in production code:
      // no session-global conf to leak into concurrent writes
      Seq((9L, "a", 99.0)).toDF("id", "part", "v")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part").parquet(tmp)
      // untouched partitions: same files, same bytes, same mtimes —
      // the static-mode overwrite would have truncated them away
      assert(snapshot("b") == bBefore)
      assert(snapshot("c") == cBefore)
      // the delta's partition fully replaced (both old 'a' rows gone)
      val out = spark.read.parquet(tmp).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("part"))).sorted.toSeq
      assert(out == Seq((2L, "b"), (3L, "c"), (9L, "a")))
    }
  }

  test("compacting a partitioned store preserves the directory layout") {
    Scratch.withDir("graft-storage-part-") { tmp =>
      (1 to 3000).map(i => (i.toLong, s"p${i % 3}", s"payload-$i"))
        .toDF("id", "part", "payload")
        .repartition(24)
        .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/small")
      val (bytes, nSmall) = Storage.dataFiles(spark, s"$tmp/small")
      assert(nSmall > 24) // 24 tasks × up to 3 partition dirs each
      val out = Storage.compact(spark, s"$tmp/small", s"$tmp/c",
        bytes, partitionBy = Seq("part"))
      // layout survives: per-value directories exist, so partition
      // pruning still works on the compacted store
      (0 to 2).foreach { p =>
        assert(new java.io.File(s"$tmp/c/part=p$p").isDirectory, s"part=p$p lost")
      }
      val (_, nOut) = Storage.dataFiles(spark, s"$tmp/c")
      assert(nOut <= 3, s"expected one file per partition dir, got $nOut")
      assert(out.count() == 3000)
      // and `part` is still a partition column, not folded into data
      assert(out.schema.fieldNames.toSet == Set("id", "part", "payload"))
      val pruned = out.filter(col("part") === "p1")
        .queryExecution.executedPlan.toString
      assert(pruned.contains("PartitionFilters: [isnotnull(part"),
        s"pruning lost after compaction:\n$pruned")
    }
  }

  test("manifest skipping: disjoint file ranges, strict pruning, superset guarantee") {
    Scratch.withDir("graft-storage-manifest-") { tmp =>
      val df = (1L to 10000L).map(k => (k, s"payload-$k")).toDF("k", "payload")
      val manifest = Storage.sortedStoreWithManifest(df, "k", s"$tmp/store", nFiles = 8)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(manifest.length == 8)
      // range-sorted store → per-file key ranges are pairwise disjoint
      val ranges = manifest.map(m => (m._2, m._3)).sortBy(_._1)
      ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $ranges")
      }
      assert(manifest.map(_._4).sum == 10000L)
      // a narrow range prunes to few files...
      val m = Storage.sortedStoreWithManifest(df, "k", s"$tmp/store2", 8)
      val files = Storage.pruneFiles(m, 2000, 2600)
      assert(files.nonEmpty && files.size <= 2, s"expected <=2 of 8 files: ${files.size}")
      // ...and skipping is a SUPERSET guarantee: the pruned read plus the
      // exact predicate returns exactly the full-scan answer
      val got = spark.read.parquet(files: _*)
        .filter(col("k").between(2000, 2600)).count()
      assert(got == 601)
    }
  }

  test("interleaveBits matches a reference Morton encode bit-for-bit") {
    // independent per-bit reference: bit i of a → bit 2i, bit i of b →
    // bit 2i+1 — checked on adversarial values (0, 1, all-ones-32,
    // alternating masks, primes) crossed both ways
    def mortonRef(a: Long, b: Long): Long = {
      var out = 0L
      for (i <- 0 until 32) {
        out |= ((a >>> i) & 1L) << (2 * i)
        out |= ((b >>> i) & 1L) << (2 * i + 1)
      }
      out
    }
    val vals = Seq(0L, 1L, 2L, 0xFFFFFFFFL, 0x55555555L, 0xAAAAAAAAL,
      7919L, 104729L, 1234567890L)
    val pairs = for (a <- vals; b <- vals) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Storage.interleaveBits(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == mortonRef(a, b), s"morton($a, $b)")
    }
  }

  test("2-D clustered store prunes on the second dimension where a 1-D sort cannot") {
    Scratch.withDir("graft-storage-zorder-") { tmp =>
      // two independent dimensions: a narrow box in (a, b) space
      val df = (0L until 8192L).map(k => (k % 128, k / 128, k)).toDF("a", "b", "payload")
      val zManifest = Storage.clusteredStoreWithManifest(df, "a", "b", s"$tmp/z", 16)
      // 1-D contrast store: sorted on a alone, manifest carries b's
      // per-file min/max the same way — every file then spans ~all of b
      val aSorted = df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      aSorted.write.mode("overwrite").parquet(s"$tmp/flat")
      val flatManifest = spark.read.parquet(s"$tmp/flat")
        .groupBy(input_file_name().as("file"))
        .agg(min(col("a")).as("min_a"), max(col("a")).as("max_a"),
          min(col("b")).as("min_b"), max(col("b")).as("max_b"),
          count(lit(1)).as("n_rows"))
      // the second-dimension claim needs a b-ONLY box (a unconstrained):
      // the a-sorted store's every file spans all of b, so it can prune
      // NOTHING, while the z-store's compact boxes skip on b alone
      val (loB, hiB) = (8L, 23L)
      val zFilesB = Storage.pruneFiles2D(zManifest, 0L, 127L, loB, hiB)
      val flatFilesB = Storage.pruneFiles2D(flatManifest, 0L, 127L, loB, hiB)
      val (_, nz) = Storage.dataFiles(spark, s"$tmp/z")
      assert(flatFilesB.size == 16, "1-D a-sort cannot skip any file on b")
      assert(zFilesB.size < nz,
        s"z-order read ${zFilesB.size} of $nz on the b-only box")
      // superset guarantee on a genuinely 2-D box: pruned read + exact
      // predicate == full scan
      val (loA, hiA) = (32L, 47L)
      val zFiles = Storage.pruneFiles2D(zManifest, loA, hiA, loB, hiB)
      val got = spark.read.parquet(zFiles: _*)
        .filter(col("a").between(loA, hiA) && col("b").between(loB, hiB))
        .agg(count(lit(1)), sum("payload")).collect()(0)
      val want = df.filter(col("a").between(loA, hiA) && col("b").between(loB, hiB))
        .agg(count(lit(1)), sum("payload")).collect()(0)
      assert(got == want)
    }
  }

  test("write-audit-publish: refusal pins the pointer, a fixed batch advances it") {
    import spark.implicits._
    Scratch.withDir("graft-wapspec-") { root =>
      val audits = Seq[(String, org.apache.spark.sql.DataFrame => Boolean)](
        "positive" -> (d => d.filter(col("v") <= 0).limit(1).count() == 0))
      // before any publish: no pointer, no view
      assert(Storage.readPublished(spark, root).isEmpty)
      // gen 0 publishes
      val (ok0, _) = Storage.writeAuditPublish(
        Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root, 0, audits)
      assert(ok0)
      assert(Storage.readPublished(spark, root).get.count() == 2)
      // gen 1 fails its audit: pointer must not move, staging stays for
      // inspection, readers still see gen 0
      val (ok1, report) = Storage.writeAuditPublish(
        Seq((3L, -5L)).toDF("k", "v"), root, 1, audits)
      assert(!ok1 && report == Seq("positive" -> false))
      assert(Storage.readPublished(spark, root).get
        .as[(Long, Long)].collect().sorted.toSeq == Seq((1L, 10L), (2L, 20L)))
      assert(new java.io.File(s"$root/gen-1").isDirectory, "refused staging kept")
      // the corrected batch republishes the SAME generation slot
      val (ok2, _) = Storage.writeAuditPublish(
        Seq((3L, 5L)).toDF("k", "v"), root, 1, audits)
      assert(ok2)
      assert(Storage.readPublished(spark, root).get
        .as[(Long, Long)].collect().toSeq == Seq((3L, 5L)))
    }
  }

  test("rollback: pointer returns to a live generation, refuses a missing one") {
    import spark.implicits._
    Scratch.withDir("graft-rb-spec-") { root =>
      val audits: Seq[(String, org.apache.spark.sql.DataFrame => Boolean)] = Seq.empty
      assert(Storage.writeAuditPublish(Seq((1L, 10L)).toDF("k", "v"), root, 0, audits)._1)
      assert(Storage.writeAuditPublish(Seq((2L, 20L)).toDF("k", "v"), root, 1, audits)._1)
      assert(Storage.readPublished(spark, root).get
        .as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
      Storage.rollback(root, 0)
      assert(Storage.readPublished(spark, root).get
        .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)),
        "readers must see generation 0 after the rollback")
      // a generation that was never published (or already expired) must
      // refuse loudly instead of pointing readers at nothing
      intercept[IllegalArgumentException](Storage.rollback(root, 7))
      // the failed attempt must not have moved the pointer
      assert(Storage.readPublished(spark, root).get
        .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
      // a generation that was STAGED but REFUSED by its audits leaves its
      // dir on disk for inspection — rollback must refuse it too, or the
      // recovery path would publish data that never passed audit (the WAP
      // invariant _PUBLISHED only ever names audited generations)
      val audited = Seq[(String, org.apache.spark.sql.DataFrame => Boolean)](
        "positive" -> (d => d.filter(col("v") <= 0).limit(1).count() == 0))
      assert(!Storage.writeAuditPublish(
        Seq((9L, -9L)).toDF("k", "v"), root, 2, audited)._1)
      assert(new java.io.File(s"$root/gen-2").isDirectory, "refused staging kept")
      intercept[IllegalArgumentException](Storage.rollback(root, 2))
      assert(Storage.readPublished(spark, root).get
        .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)),
        "a refused-generation rollback attempt must not move the pointer")
    }
  }

  test("rangeBoundaries: deterministic across partitionings, balanced, skew-stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1000 distinct keys → boundaries at exact octile ranks, every
    // partitioning must agree (repartitionByRange would not)
    val keys = (1L to 1000L).toDF("k")
    val b1 = Storage.rangeBoundaries(keys.repartition(1), "k", 8)
    val b7 = Storage.rangeBoundaries(keys.repartition(7, col("k")), "k", 8)
    assert(b1 == b7, "boundary plan must not depend on partitioning")
    assert(b1 == Seq(125L, 250L, 375L, 500L, 625L, 750L, 875L),
      "exact ceil-rank octiles of 1..1000 (cum(k) = k, target 125i)")
    // bucket sizes from the plan: half-open [b_i, b_i+1) octiles of a
    // distinct-key sequence are within ±1 of n/8
    val bucket = b1.foldLeft(lit(0)) { (acc, b) =>
      acc + (col("k") >= lit(b)).cast("int") }
    val sizes = keys.groupBy(bucket.as("b")).count()
      .orderBy(col("b")).as[(Int, Long)].collect()
    assert(sizes.map(_._2).forall(n => n >= 124L && n <= 126L),
      s"balanced by construction, got ${sizes.toSeq}")
    // a hot key (half the rows) cannot push other buckets empty of
    // plan: the hot key lands in ONE bucket; boundaries stay exact
    val skewed = (keys.as[Long].collect().toSeq ++ Seq.fill(1000)(500L))
      .toDF("k")
    val bs = Storage.rangeBoundaries(skewed.repartition(5), "k", 4)
    assert(bs.length == 3 && bs.contains(500L),
      s"hot key must become a boundary, got $bs")
  }

  test("degenerate splitting direction still hits the target count") {
    withSmallStore(1) { tmp =>
      val (bytes, n) = Storage.dataFiles(spark, s"$tmp/small")
      assert(n == 1)
      // one oversized file, target = half its size → must SPLIT to 2
      val compacted = Storage.compact(spark, s"$tmp/small", s"$tmp/split", bytes / 2 + 1)
      val (_, nOut) = Storage.dataFiles(spark, s"$tmp/split")
      assert(nOut == 2)
      assert(compacted.count() == 4000)
    }
  }
}
