package graft

/**
 * Builds (or reuses) the deterministic 10× blow-up fixture for a scale
 * dir and prints its location + identity, so the oracle gate can run
 * at the blow-up tier without going through a full bench:
 *
 * {{{
 *   sbt "runMain graft.BlowUp /root/testdata/sf0.1"
 *   sbt "runMain graft.Verify <printed dir> /tmp/verify_10x <names…>"
 *   python3 tools/selfcheck.py <printed dir> /tmp/verify_10x
 * }}}
 *
 * The blow-up (see [[BenchData]]) was designed for honest timing; the
 * same properties make it an honest CORRECTNESS fixture: copies are
 * key-disjoint, so every oracle that scales keeps scaling, and the
 * multi-partition boundary machinery (range exchanges, prefix sums,
 * window frames) finally runs at a partition count the sf0.01 gate
 * never reaches.
 */
object BlowUp {
  /** args: [sfDir] [flavor] — flavor ∈ `10` (default: the full 10×
    * blow-up), `rel100` (relational-only 100× decade tier), `skew`
    * (hot-key variant of the 10× tier), `skew1x` (the same hot-key
    * construction planted directly on the source fixture — the small
    * tier where the quadratic dedup oracles stay affordable),
    * `corpus100` (documents/embeddings at 100×, relational tables
    * verbatim). */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val flavor = if (args.length > 1) args(1) else "10"
    val spark = LocalSpark.session()
    val dir = flavor match {
      case "10"     => BenchData.ensureBlowUp(spark, sfDir, factor = 10)
      case "rel100" => BenchData.ensureRelationalBlowUp(spark, sfDir, factor = 100)
      case "skew"   => BenchData.ensureSkewed(spark, sfDir)
      case "skew1x" => BenchData.ensureSkewed(spark, sfDir, blowUp = false)
      case "corpus100" => BenchData.ensureCorpusBlowUp(spark, sfDir, factor = 100)
      case other    => sys.error(s"unknown blow-up flavor: $other")
    }
    println(s"BLOWUP_DIR=$dir")
    println(s"BLOWUP_IDENTITY=${BenchData.blowUpIdentity(dir)}")
    spark.stop()
  }
}
