package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Scratch

/** tx39 (collocation mining), sim13 (k-NN labeling), st22 (streaming
  * rolling actives): min-support and association ordering on a crafted
  * corpus, vote tie-breaks on crafted vectors, stream ≡ batch. */
class CollocationKnnSpec extends AnyFunSuite with SparkSpec {

  private def withDocsFixture[A](texts: Seq[String])(body: String => A): A =
    Scratch.withDir("graft-tx39spec-") { dir =>
      import spark.implicits._
      texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "spec", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      body(dir)
    }

  test("tx39: min support prunes at 5, association ranks rare pairs above common") {
    // "rare pair" occurs exactly 5 times and ONLY together;
    // "of the" occurs 5 times but both words flood the corpus alone —
    // pmi(rare pair) ≫ pmi(of the). "low sup" occurs 4 times: pruned.
    val filler = Seq.fill(30)("of x").mkString(" ") // 'of' common alone
    val theFill = Seq.fill(30)("the y").mkString(" ")
    withDocsFixture(Seq(
      s"rare pair $filler of the $theFill",
      "rare pair of the low sup",
      "rare pair of the low sup",
      "rare pair of the low sup",
      "rare pair of the low sup")) { dir =>
      val out = Registry.byName("tx39_collocations").run(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
      val grams = out.map(_._1)
      assert(grams.contains("rare pair") && grams.contains("of the"))
      assert(!grams.contains("low sup"), "support-4 pair must be pruned")
      val rank = out.map(r => r._1 -> r._3).toMap
      assert(rank("rare pair") < rank("of the"),
        "exclusive pair must out-rank the common-word pair")
    }
  }

  test("sim13: split vote breaks to the smallest label") {
    Scratch.withDir("graft-sim13spec-") { dir =>
      import spark.implicits._
      // query 0; ten near candidates (cosine ≈ 1) split 5 votes label 2,
      // 5 votes label 1; two far candidates with label 9 never reach top-10
      val rows =
        (0L, Array(1.0f, 0.0f), 5) +:
          (10 to 19).map(i => (i.toLong, Array(1.0f, (i - 10) * 0.001f),
            if (i % 2 == 0) 2 else 1)) :+
          (30L, Array(-1.0f, 0.2f), 9) :+ (31L, Array(-1.0f, -0.2f), 9)
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = Registry.byName("sim13_knn_label").run(spark, dir).collect()
      assert(out.length === 1)
      assert(out.head.getAs[Long]("query_id") === 0L)
      assert(out.head.getAs[Int]("predicted_label") === 1) // 5-5 tie → smaller
      assert(out.head.getAs[Long]("votes") === 5L)
    }
  }

  test("st22: streamed rolling actives equal the batch q46 on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = Registry.byName("st22_stream_rolling_distinct").run(spark, dir)
      .orderBy("day").collect().map(_.toSeq)
    val want = Registry.byName("q46_rolling_distinct").run(spark, dir)
      .orderBy("day").collect().map(_.toSeq)
    assert(got.sameElements(want))
  }
}
