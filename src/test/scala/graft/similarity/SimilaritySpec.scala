package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.Registry

class SimilaritySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // near query 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite
    (4L, Array(0.5f, 0.5f, 0.0f)))

  test("dot / norm / cosine on hand-checked vectors") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val row = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.l2Norm(col("a")).as("na")).collect().head
    assert(row.getDouble(0) == 32.0)
    assert(math.abs(row.getDouble(1) - math.sqrt(14.0)) < 1e-12)
  }

  test("fused multi-table signatures are bit-identical to the per-table column (r21)") {
    // the native HyperplaneSignatures expression must equal
    // array(hyperplaneSignature(seed_t)…) on every row — random vectors,
    // a shorter-than-dim vector (dot folds min(|vec|, dim) elements),
    // an all-zero vector (no dot can exceed 0) and a NULL vector (the
    // when/otherwise formulation yields the all-zero signature)
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Array[Double])] =
      (0L until 40L).map(i => (i, Array.fill(9)(rnd.nextGaussian()))) ++
        Seq((40L, Array.fill(5)(1.0)), (41L, Array.fill(9)(0.0)),
          (42L, null.asInstanceOf[Array[Double]]))
    val df = rows.toDF("id", "vec")
    val dim = 9; val bits = 6; val tables = 12
    val seeds = (0 until tables).map(t => 42L + t)
    val fused = graft.expressions.HashExpressions
      .hyperplaneSignatures(col("vec"), dim, bits, seeds)
    val perTable = array(seeds.map(s =>
      Similarity.hyperplaneSignature(col("vec"), dim, bits, s)): _*)
    val bad = df.select(col("id"), fused.as("f"), perTable.as("p"))
      .filter(not(col("f") <=> col("p")))
      .collect()
    assert(bad.isEmpty, s"fused != per-table on: ${bad.mkString(", ")}")
  }

  test("brute-force top-k ranks by cosine with id tiebreak, excludes self") {
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") === 0L)
    val out = Similarity.bruteForceTopK(df, q, k = 4).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(1L, 4L, 2L, 3L))
    assert(out.head.getAs[Double]("cosine") > 0.99)
    assert(out.last.getAs[Double]("cosine") == -1.0)
    assert(!out.map(_.getAs[Long]("cand_id")).contains(0L))
  }

  test("projection cache is LRU-bounded; eviction rebuilds identical results") {
    graft.util.PlanCache.releaseAll()
    // distinct corpora — each gets its own canonicalized plan / cache key
    def corpus(tag: Int) = (0 until 12)
      .map(i => ((tag * 100 + i).toLong,
        Array((i % 3).toFloat + 1, (i % 5).toFloat - 2, tag.toFloat % 7 + 0.5f)))
      .toDF("id", "vec")
    val first = Similarity.ivfLayout(corpus(0), nCells = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    (1 to Similarity.MaxCachedProjections + 2)
      .foreach(t => Similarity.ivfLayout(corpus(t), nCells = 2).count())
    // the sweep exceeded the cap: the LRU must have evicted, not accreted
    assert(Similarity.cachedProjectionCount <= Similarity.MaxCachedProjections)
    // corpus 0 was evicted; rebuilding it yields hash-identical cells
    val again = Similarity.ivfLayout(corpus(0), nCells = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    assert(again == first)
    graft.util.PlanCache.releaseAll()
    assert(Similarity.cachedProjectionCount == 0)
  }

  test("IVF top-k on real embeddings: valid scores, measured recall vs exact") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, q, k = 5, nCells = 8, nProbe = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(ivf.size <= 50 && ivf.nonEmpty)
    val recall = (ivf & exact).size.toDouble / exact.size
    // unclustered random vectors are LSH/IVF's worst case; still expect
    // a sane fraction of the exact set from probing half the cells
    assert(recall > 0.2, s"recall $recall")

    // recallAtK reports the same overlap the set algebra above computes
    val reported = Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, q, k = 5),
      Similarity.ivfTopK(emb, q, k = 5, nCells = 8, nProbe = 4), k = 5)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(reported.size == 10)
    assert(reported.values.map(_._1).sum == (ivf & exact).size)
    reported.values.foreach { case (nHit, rec) =>
      assert(rec == nHit / 5.0 && nHit >= 0 && nHit <= 5)
    }
  }

  test("bucketed near-dup pairs ⊆ exact pairs, identical cosines, recall floor") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Similarity.nearDupPairs(emb, threshold = 0.3, dim = 64).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    val bucketed = Similarity.nearDupPairs(emb, threshold = 0.3, dim = 64, bits = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    assert(bucketed.nonEmpty)
    bucketed.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"pair $pair not in exact set")
      assert(cos == exact(pair), s"pair $pair cosine drifted") // scores exact, recall is not
    }
    // seeded data + seeded planes → recall is a fixed number; 4-bit
    // bucketing of unclustered vectors keeps a modest but stable slice
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.05, s"recall $recall below seeded floor")
  }

  test("int8 quantization round-trip error is bounded by scale/2 on real data") {
    import org.apache.spark.sql.types.DoubleType
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = Similarity.quantizeInt8(col("embedding"))
    val checked = emb.select(
        col("vec_id"),
        q.getField("scale").as("scale"),
        // max |x_i - q_i*scale| per vector, via a zipped reconstruction
        array_max(zip_with(
          Similarity.toDoubleVec(col("embedding")),
          Similarity.dequantize(q),
          (x, xhat) => abs(x - xhat))).as("max_err"),
        array_max(transform(q.getField("q"), c => abs(c))).as("max_q"))
      .collect()
    assert(checked.length == 500)
    checked.foreach { r =>
      val scale = r.getAs[Double]("scale")
      // floor(x/s + 0.5) is within half a step; tiny epsilon for the
      // double divide/multiply round trip
      assert(r.getAs[Double]("max_err") <= scale / 2 + 1e-12,
        s"vec ${r.getLong(0)}: reconstruction error above scale/2")
      assert(r.getAs[Int]("max_q") <= 127, "quantized magnitude escaped int8")
    }
  }

  test("int8-quantized ANN preserves most of the exact top-k (measured recall)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val quantized = Registry.byName("sim08_quantized_ann")
      .run(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val overlap = exact.intersect(quantized).size.toDouble / exact.size
    info(f"int8 ANN overlap@5 vs exact: ${exact.intersect(quantized).size}/${exact.size} = $overlap%.3f")
    // unclustered 64-dim corpus (neighbors separated by slim cosine
    // margins) is the worst case for quantization — still most of the
    // exact neighbors must survive; seeded data makes this a constant
    assert(overlap >= 0.6, f"int8 ANN overlap $overlap%.3f below floor")
  }

  test("PQ codes are in range and ADC equals explicit reconstruction scoring") {
    val emb = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dim = 64
    val cbs = Similarity.fitPqCodebooks(emb, dim)
    assert(cbs.size == 4 && cbs.forall(_.size == 16) &&
      cbs.forall(_.forall(_.length == 16)))
    val layout = Similarity.pqLayout(emb, dim).collect()
    assert(layout.nonEmpty)
    layout.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 4 && codes.forall(c => c >= 0 && c < 16))
      // rn2 must equal the reconstruction's squared norm
      val recon = codes.zipWithIndex.flatMap { case (c, m) => cbs(m)(c) }
      val n2 = recon.foldLeft(0.0)((a, w) => a + w * w)
      assert(math.abs(r.getDouble(2) - n2) < 1e-9)
    }
    // ADC identity: the lookup-table score of (q, cand) is the dot of
    // q with the reconstructed candidate — table lookups change the
    // COST, not the metric
    val q = emb.filter(col("id") < 3)
    val adc = Similarity.pqTopK(emb, q, k = 5, dim = dim).collect()
    val codeById = layout.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecById = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    adc.foreach { r =>
      val (qid, cid) = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      val recon = codeById(cid).zipWithIndex.flatMap { case (c, m) => cbs(m)(c) }
      val qv = vecById(qid)
      val dot = qv.zip(recon).map { case (a, b) => a * b }.sum
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val rn = math.sqrt(recon.map(x => x * x).sum)
      val expected = dot / (qn * rn)
      // pqTopK rounds to 4 decimals; allow exactly that quantization
      assert(math.abs(r.getAs[Double]("cosine") - expected) < 5.1e-5,
        s"ADC score ${r.getAs[Double]("cosine")} != reconstruction $expected")
    }
  }

  test("LSH top-k returns a subset of the exact ranking with true cosines") {
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") === 0L)
    val exact = Similarity.bruteForceTopK(df, q, k = 4).collect()
      .map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("cosine")).toMap
    val approx = Similarity.lshTopK(df, q, k = 4, dim = 3, bits = 4).collect()
    approx.foreach { r =>
      val cid = r.getAs[Long]("cand_id")
      assert(exact.contains(cid))
      assert(r.getAs[Double]("cosine") == exact(cid)) // scores are exact, recall is not
    }
  }

  test("bucketed MIPS: exact dots, subset of the raw-dot ranking, recall floor") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 10)
    val exactAll = Similarity.dotTopK(emb, q, k = 200).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("dot")).toMap
    val exact5 = Similarity.dotTopK(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val approx = Similarity.mipsLshTopK(emb, q, k = 5, dim = 64,
      bits = 4, tables = 12).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      // every admitted pair scores with the EXACT raw dot — the bucket
      // only gates admission, never the arithmetic
      exactAll.get(key).foreach(d => assert(r.getAs[Double]("dot") == d))
    }
    val hit = approx.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet & exact5
    val recall = hit.size.toDouble / exact5.size
    // seeded data + seeded planes → a fixed number; 12 OR-tables keep
    // a solid majority of the exact MIPS top-5 even on unclustered data
    assert(recall >= 0.5, s"MIPS-LSH recall $recall below seeded floor")
  }

  test("bucketed funnel: rerank scores are the exact full-dim cosines; recall floor") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 10)
    val exactCos = Similarity.bruteForceTopK(emb, q, k = 200).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("cosine")).toMap
    val exactFunnel = Similarity.prefixRerankTopK(emb, q,
        prefixDim = 16, shortlist = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val approx = Similarity.prefixRerankLshTopK(emb, q,
      prefixDim = 16, shortlist = 20, k = 5, bits = 4, tables = 9).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      // stage 2 is the exact full-width rerank: its cosine must be the
      // brute-force cosine bit-for-bit for every surviving pair
      exactCos.get(key).foreach(c => assert(r.getAs[Double]("cosine") == c))
      val pr = r.getAs[Int]("pre_rank")
      assert(pr >= 1 && pr <= 20, s"pre_rank $pr outside the shortlist")
    }
    val hit = approx.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet & exactFunnel
    val recall = hit.size.toDouble / exactFunnel.size
    assert(recall >= 0.5, s"funnel-LSH recall $recall below seeded floor")
  }
}
