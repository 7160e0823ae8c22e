package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Scratch

/**
 * tx50's reason to exist, demonstrated on a constructed witness: a
 * near-duplicate pair whose two members hash to DIFFERENT tx19 splits
 * (the train/test leak), which tx50's cluster-keyed assignment must
 * keep together. The witness ids are SEARCHED for, not hard-coded
 * hopefully, so the spec stays valid if the split fractions change.
 */
class ClusterSplitSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def bucket(prefix: String, id: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$prefix$id".getBytes("UTF-8"))
    Integer.parseInt(d.take(2).map("%02x".format(_)).mkString, 16) % 100
  }
  private def split(b: Int): String =
    if (b < 98) "train" else if (b == 98) "valid" else "test"

  // the leak witness: the lowest id pair whose doc-keyed splits differ
  private val idTrain = (1L to 10000L).find(i => bucket("split:", i) < 98).get
  private val idTest = (1L to 10000L).find(i => bucket("split:", i) == 99).get

  /** Run `body` on a scratch dir holding the witness corpus. */
  private def withWitness[A](body: String => A): A =
    Scratch.withDir("graft-tx50-") { tmp =>
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      val docs = Seq(
        (idTrain, dup, "en", "web", dup.length.toLong),
        (idTest, dup, "en", "web", dup.length.toLong)) ++
        Seq(21L, 22L, 23L).zipWithIndex.map { case (id, i) =>
          val text = s"singleton text number $i with entirely unshared words " +
            s"alpha$i beta$i gamma$i delta$i epsilon$i"
          (id, text, "en", "web", text.length.toLong)
        }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      body(tmp)
    }

  test("tx19 splits the near-dup twins apart — the leak the witness plants") {
    val rows = withWitness { dir =>
      Registry.byName("tx19_split_assign").run(spark, dir)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(rows(idTrain) == "train" && rows(idTest) == "test",
      s"witness ids $idTrain/$idTest no longer straddle under tx19 — " +
        "the doc-keyed hash or fractions changed; re-derive the witness")
  }

  test("tx50 moves the whole cluster together and passes singletons through") {
    val rows = withWitness { dir =>
      Registry.byName("tx50_cluster_split").run(spark, dir)
        .select("doc_id", "cluster", "bucket", "split").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3))))
        .toMap
    }
    val canonical = math.min(idTrain, idTest)
    // the twins share the canonical cluster and therefore the split
    assert(rows(idTrain)._1 == canonical && rows(idTest)._1 == canonical)
    assert(rows(idTrain)._3 == rows(idTest)._3,
      "near-dup twins landed in different splits — the leak survived")
    // and the shared split is the CLUSTER hash, not either doc hash
    assert(rows(idTrain)._2 == bucket("csplit:", canonical))
    assert(rows(idTrain)._3 == split(bucket("csplit:", canonical)))
    // singletons: cluster = own id, split = hash of own id
    for (id <- Seq(21L, 22L, 23L)) {
      assert(rows(id)._1 == id, s"singleton $id lost its identity cluster")
      assert(rows(id)._3 == split(bucket("csplit:", id)))
    }
  }
}
