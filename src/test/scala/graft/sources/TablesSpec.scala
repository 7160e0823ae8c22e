package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.{PlanCache, Scratch}

/** Loader contracts against the CURRENT driver fixtures.
  *
  * [[Tables.eventsRaw]]'s nanos-legacy fallback mutates session config
  * (`spark.sql.legacy.parquet.nanosAsLong`) because Spark offers no
  * per-relation override — acceptable only while the fallback is
  * UNREACHABLE. This spec pins that: a fixture regeneration that ships
  * TIMESTAMP(NANOS) again would silently start mutating the shared
  * session on every load, and must turn a test red instead. A
  * synthesized TIMESTAMP(NANOS) file pins the fallback itself.
  *
  * The loaders resolve each file version's schema once; the job counts
  * below pin that a repeat load infers nothing and a rewrite infers
  * again.
  */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val Sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it started. Only jobs of this
    * call's own job group count, and a sentinel job of a second group
    * run after `body` drains the listener bus (one queue delivers in
    * posting order), so a job queued by an earlier test cannot land in
    * the count and none of `body`'s can arrive after it is read. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(sentinel), "sentinel job never seen")
      (a, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Write `df` as ONE parquet file at `path`, replacing what is there. */
  private def writeFile(df: DataFrame, path: String): Unit =
    Scratch.withDir("graft-tables-spec-") { tmp =>
      df.coalesce(1).write.parquet(s"$tmp/out")
      val part = new java.io.File(s"$tmp/out").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  test("a repeat load of an unchanged file starts no Spark job and scans the same plan") {
    val dir = Sf0001
    PlanCache.releaseAll()
    val (first, inferJobs) = jobsOf(Tables.orders(spark, dir))
    assert(inferJobs >= 1, "the first load after a flush infers the schema")
    val (second, jobs) = jobsOf(Tables.orders(spark, dir))
    assert(jobs == 0, s"a repeat load started $jobs jobs")
    assert(second.schema == first.schema)
    // a supplied schema leaves the scan plan that PlanCache keys on as
    // the inferring reader plans it
    val plain = spark.read.parquet(s"$dir/orders.parquet")
    assert(second.schema == plain.schema)
    assert(second.queryExecution.analyzed.canonicalized ==
      plain.queryExecution.analyzed.canonicalized)
  }

  test("PlanCache.releaseAll drops the schema memo: the next load infers again") {
    val dir = Sf0001
    Tables.nation(spark, dir)
    assert(jobsOf(Tables.nation(spark, dir))._2 == 0)
    PlanCache.releaseAll()
    assert(jobsOf(Tables.nation(spark, dir))._2 >= 1)
  }

  test("a rewritten parquet file infers again and its new columns are read, never a stale schema") {
    Scratch.withDir("graft-tables-spec-") { dir =>
      val path = s"$dir/orders.parquet"
      writeFile(spark.range(3).toDF("a"), path)
      assert(Tables.orders(spark, dir).columns.toSeq == Seq("a"))
      assert(jobsOf(Tables.orders(spark, dir))._2 == 0)
      writeFile(spark.range(3).selectExpr("id AS a", "id * 2 AS b"), path)
      val (df, jobs) = jobsOf(Tables.orders(spark, dir))
      assert(jobs >= 1, "the rewritten file was not inferred again")
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.orderBy("a").collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))
    }
  }

  test("a rewritten Spark-written parquet directory infers again and its new columns are read") {
    Scratch.withDir("graft-tables-spec-") { dir =>
      val path = s"$dir/orders.parquet"
      spark.range(3).toDF("a").write.parquet(path)
      assert(Tables.orders(spark, dir).columns.toSeq == Seq("a"))
      assert(jobsOf(Tables.orders(spark, dir))._2 == 0)
      spark.range(3).selectExpr("id AS a", "cast(id AS string) AS c")
        .write.mode("overwrite").parquet(path)
      val (df, jobs) = jobsOf(Tables.orders(spark, dir))
      assert(jobs >= 1, "the rewritten directory was not inferred again")
      assert(df.columns.toSeq == Seq("a", "c"))
      assert(df.orderBy("a").collect().map(_.getString(1)).toSeq == Seq("0", "1", "2"))
    }
  }

  test("a missing table still fails, names its path and leaves the nanos conf alone") {
    Scratch.withDir("graft-tables-spec-") { dir =>
      Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
          "customer" -> Tables.customer, "events" -> Tables.events).foreach { case (name, load) =>
        val e = intercept[Exception](load(spark, s"$dir/nowhere"))
        assert(e.getMessage.contains(s"nowhere/$name.parquet"), e.getMessage)
      }
      // the events loader's fallback is for a file the reader rejects,
      // not for one that is not there
      assert(spark.conf.get(NanosAsLong, "false") == "false")
    }
  }

  test("a TIMESTAMP(NANOS) events file sets the legacy conf on every load, memo hit or not, in any session") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = Seq(1700000000123456789L, 1700000001987654321L)
    Scratch.withDir("graft-tables-spec-") { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val writer = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).build()
      try nanos.zipWithIndex.foreach { case (ns, i) =>
        writer.write(new SimpleGroupFactory(schema).newGroup()
          .append("event_id", i.toLong).append("ts", ns))
      } finally writer.close()
      val path = s"$dir/events.parquet"
      /** (unix micros of `ts`, `ts_ns`) per row, read in session `s`. */
      def read(s: org.apache.spark.sql.SparkSession): Seq[(Long, Long)] = {
        val (raw, ts, tsNs) = Tables.eventsFile(s, path)
        assert(s.conf.get(NanosAsLong, "false") == "true", "the load did not set the conf")
        raw.selectExpr("event_id", ts, tsNs).orderBy("event_id")
          .selectExpr("unix_micros(ts)", "ts_ns").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val expected = nanos.map(ns => (ns / 1000, ns))
      val other = spark.newSession()
      try {
        // miss: the plain read fails, the fallback infers under the conf
        assert(read(spark) == expected)
        // hits, in this session and in one that never inferred the file
        Seq(spark, other).foreach { s =>
          s.conf.unset(NanosAsLong)
          assert(jobsOf(Tables.eventsFile(s, path))._2 == 0, "the layout was inferred again")
          s.conf.unset(NanosAsLong)
          assert(read(s) == expected)
        }
      } finally {
        spark.conf.unset(NanosAsLong)
        other.conf.unset(NanosAsLong)
      }
    }
  }

  test("the plan caches still hit over schema-supplied scans: warm sim01, sim05 and tx06 build nothing again") {
    import graft.dedup.Dedup
    import graft.similarity.Similarity
    val dir = Sf0001
    // sim01 is brute force and holds no cache; sim05 reaches the
    // candidate projection and the quantizer fit, tx06 the shingle
    // projection
    val queries = Seq("sim01_ann_cosine", "sim05_ivf_ann", "tx06_near_dup_pairs")
      .map(graft.queries.Registry.byName)
    def builds(): (Int, Int, Int) =
      (Similarity.projectionBuilds.get, Similarity.quantizerFits.get, Dedup.cachedBaseCount)
    PlanCache.releaseAll()
    val before = builds()
    queries.foreach(_.run(spark, dir).count())
    val cold = builds()
    assert(cold._1 > before._1 && cold._2 > before._2 && cold._3 > before._3,
      s"the cold run built nothing: $before -> $cold")
    queries.foreach(_.run(spark, dir).count())
    assert(builds() == cold, "a warm run built a projection or a fit again")
    PlanCache.releaseAll()
  }

  test("events reads natively on current fixtures — the nanos-legacy session mutation is unreachable") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    PlanCache.releaseAll()
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      // after the flush the first load infers; the one checked below
      // is a memo hit, and the conf check covers both
      Tables.events(spark, dir)
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"$dir ts type")
      assert(df.limit(1).count() == 1L, s"$dir events readable")
      // the conf must still be at its default — Some("true") here means
      // eventsRaw's catch branch ran and the session was mutated
      assert(spark.conf.get(key, "false") == "false",
        s"eventsRaw reached the nanos fallback on $dir and mutated the session")
    }
  }

  test("streaming events loader is equally fallback-free on current fixtures") {
    // EventStream.readEvents used to set the legacy-nanos conf
    // UNCONDITIONALLY before probing the footer — caught by the batch
    // pin above when the whole suite shares one session. Pin the
    // streaming loader separately so the discipline can't regress on
    // either path.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val df = graft.streaming.EventStream.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(spark.conf.get(key, "false") == "false",
      "readEvents mutated the session on a MICROS fixture")
  }
}
