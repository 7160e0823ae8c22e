package graft.marketpulse

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ProcessStarts, SparkSpec}
import graft.util.Scratch

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
      // the warm-up landing makes the recorded one an overwrite, as in a
      // refresh cycle
      val forks = ProcessStarts.through(ProcessStarts.HadoopFs, "graft.marketpulse.DocumentSink")(
        DocumentSink.writeDocuments(parsed, dir))
      assert(new File(dir).list().toSet == Set("AAPL.json", "V.json", "BRK.B.json"))
      assert(forks.isEmpty, s"${forks.size} process starts by the sink: $forks")
    }
  }

  test("the landed store equals the stock local filesystem's: names, bytes and mode; no .tmp or .crc; a rewrite replaces in place") {
    // a umask unlike the usual process umask (022), so a mode that
    // ignored the Hadoop conf would show
    spark.conf.set("fs.permissions.umask-mode", "027")
    try Scratch.withDir("graft-docsink-") { base =>
      val stock = spark.sessionState.newHadoopConf()
      stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
      stock.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
      stock.setBoolean("fs.file.impl.disable.cache", true)
      val local = new URI("file:///")
      // the comparison means something only if the two confs differ
      assert(FileSystem.get(local, spark.sessionState.newHadoopConf()).getClass ==
        classOf[graft.util.NioLocalFileSystem])
      assert(AbstractFileSystem.get(local, spark.sessionState.newHadoopConf()).getClass ==
        classOf[graft.util.NioLocalFs])
      assert(FileSystem.get(local, stock).getClass == classOf[LocalFileSystem])
      assert(AbstractFileSystem.get(local, stock).getClass == classOf[LocalFs])

      val docs = DocumentSink.documents(parsed).collect()
        .map(r => r.getString(0) -> r.getString(1).getBytes(UTF_8)).toMap
      val (landed, reference) = (s"$base/landed", s"$base/stock")
      def land(): Unit = {
        DocumentSink.writeDocuments(parsed, landed)
        DocumentSink.publish(reference, stock, 7L, docs.iterator)
      }
      def check(): Unit = {
        val names = docs.keySet.map(symbol => s"$symbol.json")
        Seq(landed, reference).foreach(dir =>
          assert(new File(dir).list().toSet == names, dir)) // hidden .tmp/.crc included
        names.foreach { name =>
          val Seq(a, b) = Seq(landed, reference).map(Paths.get(_, name))
          assert(Files.readAllBytes(a).sameElements(Files.readAllBytes(b)), name)
          assert(Files.readAllBytes(a).sameElements(docs(name.stripSuffix(".json"))), name)
          val Seq(modeA, modeB) = Seq(a, b).map(p =>
            PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
          assert(modeA == modeB && modeA == "rw-r-----", s"$name: $modeA vs $modeB")
        }
      }
      land()
      check()
      // every landed file replaced: stale bytes are overwritten
      for (dir <- Seq(landed, reference); name <- docs.keys)
        Files.write(Paths.get(dir, s"$name.json"), "stale".getBytes(UTF_8))
      land()
      check()
    } finally spark.conf.unset("fs.permissions.umask-mode")
  }

  test("a rewrite replaces the document in one step: a polling reader never finds it missing or torn") {
    Scratch.withDir("graft-docsink-") { dir =>
      val conf = spark.sessionState.newHadoopConf()
      val versions = Seq("old", "new").map(v => s"""{"version": "$v"}""".getBytes(UTF_8))
      DocumentSink.publish(dir, conf, 0L, Iterator("AAPL" -> versions.head))
      val path = Paths.get(dir, "AAPL.json")
      @volatile var writing = true
      var (reads, missing, torn) = (0, 0, 0)
      val reader = new Thread(() =>
        while (writing) {
          reads += 1
          try {
            val bytes = Files.readAllBytes(path)
            if (!versions.exists(_.sameElements(bytes))) torn += 1
          } catch { case _: java.nio.file.NoSuchFileException => missing += 1 }
        })
      reader.start()
      try DocumentSink.publish(dir, conf, 1L, Iterator.tabulate(2000)(i => "AAPL" -> versions(i % 2)))
      finally { writing = false; reader.join() }
      assert(reads > 0 && missing == 0 && torn == 0, s"$reads reads: $missing missing, $torn torn")
      assert(new File(dir).list().toSeq == Seq("AAPL.json"))
    }
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
