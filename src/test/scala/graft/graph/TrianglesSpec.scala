package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class TrianglesSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
    toMap(Triangles.perNodeCounts(edges.toDF("a", "b")))

  private def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every node sits in C(3,2)=3 triangles") {
    val k4 = for (i <- 1L to 4L; j <- i + 1 to 4L) yield (i, j)
    val c = counts(k4)
    assert(c == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("a path and a star have no triangles") {
    assert(counts(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)).isEmpty)
    assert(counts((2L to 8L).map(1L -> _)).isEmpty)
  }

  test("hub graph: degree orientation matches the naive a<b<c count") {
    // one hub (0) connected to everyone plus a sparse ring among the
    // leaves — the shape where naive low-id orientation would make the
    // hub a wedge source; counts must agree regardless
    val n = 20L
    val hub = (1L to n).map(0L -> _)
    val ring = (1L until n).map(i => i -> (i + 1)) :+ (1L -> n)
    val edges = (hub ++ ring).map { case (x, y) => (math.min(x, y), math.max(x, y)) }.distinct
    val got = counts(edges)

    // naive reference: close wedges under plain a<b<c with a local scan
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(x, y, z) <- nodes.combinations(3)
      if es((x, y)) && es((y, z)) && es((x, z))
      v <- Seq(x, y, z)
    } naive(v) += 1
    assert(got == naive.toMap, s"degree-ordered $got != naive $naive")
  }

  test("adjacency join strategy is row-invisible (r22: gate forced both ways)") {
    // the broadcast-vs-shuffle_hash gate on the adjacency frame is a
    // join-strategy choice over the same inner equi-joins — prove both
    // branches produce the identical census on a graph with triangles,
    // near-misses (open wedges), and a hub
    val edges = {
      val k5 = for (i <- 1L to 5L; j <- i + 1 to 5L) yield (i, j)
      val hub = (10L to 30L).map(100L -> _)
      val ring = (10L until 30L).map(i => i -> (i + 1))
      (k5 ++ hub ++ ring).distinct
    }
    val shuffled = // cap 0 forces the shuffle_hash branch
      toMap(Triangles.perNodeCounts(edges.toDF("a", "b"), identity, 0L))
    val broadcasted = counts(edges)
    assert(shuffled == broadcasted,
      s"join strategy changed the triangle census: $shuffled != $broadcasted")
    assert(shuffled.nonEmpty)
  }

  test("counts are independent of input partitioning") {
    val edges = (for (i <- 1L to 12L; j <- i + 1 to 12L
                      if (i + j) % 3 != 0) yield (i, j)).toSeq
    val base = counts(edges)
    for (parts <- Seq(1, 7)) {
      val df = edges.toDF("a", "b").repartition(parts, col("b"))
      val got = toMap(Triangles.perNodeCounts(df))
      assert(got == base, s"partitioning $parts changed counts")
    }
  }
}
