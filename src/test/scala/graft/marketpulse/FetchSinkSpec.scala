package graft.marketpulse

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Scratch

/** Committed after the recorded write: once the recording delivers it,
  * every process start committed before it has been delivered too. */
@jdk.jfr.Name("graft.test.SinkSentinel")
final class SinkSentinel extends jdk.jfr.Event

/** S1 (pluggable fetch) and S5 (JSON write-back) boundary tests: the
  * two halves that wrap the ingest path the way the reference's DAG
  * wraps it (fetch → land → read; merge → write back). */
class FetchSinkSpec extends AnyFunSuite with SparkSpec {

  private def parsed: DataFrame =
    Ingest.parseDocuments(spark, Seq(Fixtures.aapl, Fixtures.v, Fixtures.brkB))

  test("document write-back: file-per-symbol layout, round-trips through readDocuments") {
    Scratch.withDir("graft-docsink-") { dir =>
      DocumentSink.writeDocuments(parsed, dir)

      // one pretty-printed file per CANONICAL symbol (get_stock.py:86)
      assert(new File(dir).list().toSet == Set("AAPL.json", "V.json", "BRK.B.json"))

      val reread = Ingest.readDocuments(spark, dir)
      def meta(df: DataFrame): Map[String, Map[String, String]] =
        df.select(col("symbol"), col("data").getField(Schemas.MetaKey)).collect()
          .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      assert(meta(reread) == meta(parsed))

      // the flattened series survives the write→read cycle value-exact
      def staged(df: DataFrame) =
        Staging.stgAlphavantage(df).orderBy("symbol", "trading_date").collect().toSeq
      assert(staged(reread) == staged(parsed))
    }
  }

  test("local write-back starts no child process") {
    Scratch.withDir("graft-docsink-") { dir =>
      // the first landing warms every lazily initialised class, so the
      // recorded overwrite sees only what a refresh cycle's write does
      DocumentSink.writeDocuments(parsed, dir)
      val starts = new ConcurrentLinkedQueue[String]()
      val delivered = new CountDownLatch(1)
      val rs = new RecordingStream()
      try {
        rs.enable("jdk.ProcessStart").withStackTrace()
        rs.enable(classOf[SinkSentinel])
        // charged to the sink by call stack: Spark's own threads start
        // processes of their own once per JVM (`getconf PAGESIZE`)
        rs.onEvent("jdk.ProcessStart", e =>
          if (e.getStackTrace.getFrames.asScala.exists(
                _.getMethod.getType.getName.startsWith("graft.marketpulse.DocumentSink")))
            starts.add(e.getString("command")))
        rs.onEvent("graft.test.SinkSentinel", _ => delivered.countDown())
        rs.startAsync()
        DocumentSink.writeDocuments(parsed, dir)
        new SinkSentinel().commit()
        assert(delivered.await(60, TimeUnit.SECONDS), "the recording never delivered its sentinel")
      } finally rs.close()
      assert(new File(dir).list().toSet == Set("AAPL.json", "V.json", "BRK.B.json"))
      assert(starts.isEmpty, s"${starts.size} process starts by the sink: $starts")
    }
  }

  test("both publish paths: same names, bytes and mode; no .tmp or .crc; a rewrite replaces in place") {
    // a umask unlike the usual process umask (022), so a mode that
    // ignored the Hadoop conf would show
    spark.conf.set("fs.permissions.umask-mode", "027")
    try Scratch.withDir("graft-docsink-") { base =>
      val conf = spark.sessionState.newHadoopConf()
      val docs = DocumentSink.documents(parsed).collect()
        .map(r => s"${r.getString(0)}.json" -> r.getString(1).getBytes(UTF_8)).toMap
      val (nio, hadoop) = (s"$base/nio", s"$base/hadoop")
      assert(DocumentSink.publisher(nio, conf, 0L).isInstanceOf[DocumentSink.NioPublisher])
      assert(DocumentSink.publisher(s"file:$nio", conf, 0L).isInstanceOf[DocumentSink.NioPublisher])
      def land(): Unit = {
        DocumentSink.writeDocuments(parsed, nio)
        val out = new DocumentSink.HadoopPublisher(hadoop, conf, 7L)
        try docs.foreach { case (name, bytes) => out.publish(name.stripSuffix(".json"), bytes) }
        finally out.close()
      }
      def check(): Unit = Seq(nio, hadoop).foreach { dir =>
        assert(new File(dir).list().toSet == docs.keySet, dir) // hidden .tmp/.crc included
        docs.foreach { case (name, bytes) =>
          val path = Paths.get(dir, name)
          assert(Files.readAllBytes(path).sameElements(bytes), path)
          assert(java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(path)) == "rw-r-----", path)
        }
      }
      land()
      check()
      // every landed file replaced: stale bytes are overwritten
      for (dir <- Seq(nio, hadoop); name <- docs.keys)
        Files.write(Paths.get(dir, name), "stale".getBytes(UTF_8))
      land()
      check()
    } finally spark.conf.unset("fs.permissions.umask-mode")
  }

  test("reference DAG: fetch → merge with landed state → write-back → models, idempotent") {
    Scratch.withDir("graft-dag-") { dir =>
      val root = s"$dir/alphavantage"

      // cycle 1: first fetch lands and models derive from it
      val run1 = Pipeline.referenceDag(spark, Seq("GOOGL"),
        new Fetch.StubFetcher(Map("GOOGL" -> Fixtures.overlapOld)), root)
      assert(run1.staging.count() == 2)
      assert(new File(s"$root/GOOGL.json").isFile)

      // cycle 2: refetch restates 10-02 and adds 10-03; the landed state
      // supplies 10-01 and loses the restated date to the newer fetch
      val run2 = Pipeline.referenceDag(spark, Seq("GOOGL"),
        new Fetch.StubFetcher(Map("GOOGL" -> Fixtures.overlapNew)), root)
      val stg2 = run2.staging.orderBy("trading_date").collect()
      assert(stg2.map(_.get(1).toString).toSeq ==
        Seq("2025-10-01", "2025-10-02", "2025-10-03"))
      assert(stg2(1).getAs[Double]("open") == 99.0) // restated by the refetch

      // cycle 3: the SAME fetch again — a no-op by U2 idempotence
      val run3 = Pipeline.referenceDag(spark, Seq("GOOGL"),
        new Fetch.StubFetcher(Map("GOOGL" -> Fixtures.overlapNew)), root)
      assert(run3.staging.orderBy("trading_date").collect().toSeq == stg2.toSeq)
    }
  }

  test("fetch stage: provider aliases cross the boundary, invalid documents drop") {
    val invalid = """{"Error Message": "rate limit exceeded"}"""
    val stub = new Fetch.StubFetcher(Map(
      "AAPL" -> Fixtures.aapl,
      "BRK-B" -> Fixtures.brkB,
      "V" -> invalid))
    val out = Fetch.fetchDocuments(spark, Seq("AAPL", "BRK.B", "V", "MISSING"), stub)

    // canonical symbols are mapped to their provider form BEFORE the
    // call (get_stock.py:57), in list order
    assert(stub.requested.toSeq == Seq("AAPL", "BRK-B", "V", "MISSING"))

    // V's series-less document fails the validity check and is skipped
    // (get_stock.py:64-68); MISSING returned nothing; the alias comes
    // back canonicalized
    assert(out.select("symbol").collect().map(_.getString(0)).toSet ==
      Set("AAPL", "BRK.B"))
  }
}
