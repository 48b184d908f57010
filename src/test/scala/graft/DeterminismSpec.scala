package graft

import org.apache.spark.sql.Row

/** The bit-reproducibility contract, tested directly: a declared query's
  * result must be IDENTICAL under a different shuffle-partition count —
  * the perturbation that exposed the round-5 pqFitBooks bug (distributed
  * avg() summed in partition order, so fitted centroids varied with the
  * environment). Covers the queries whose arithmetic rides on that
  * contract: model fits (k-means cells, PQ codebooks), sequential folds,
  * dyadic-weight scoring, and the composed IVF-PQ search.
  */
class DeterminismSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val sensitive = Seq(
    "q_ewma", "q_cusum", "q_pq_codes", "q_ivf_pq", "q_semantic_dedup",
    "q_quality_classifier", "q_random_projection",
    // r13: the Poisson-bootstrap CI (exact-cents replica sums + order-stat
    // CI must not depend on partial-agg order) and the k-center greedy
    // (each round's integer argmax collected driver-side must be a pure
    // function of the corpus SET)
    "q_bootstrap_ci", "q_kcenter_select",
    // r14: the DOULION estimate is integer counting on a hash-selected
    // edge set — nothing may depend on which partition flipped the coin
    "q_triangle_doulion")

  private def run(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("partition-order-sensitive queries are bitwise identical under a different shuffle layout") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val baseline = sensitive.map(q => q -> run(q)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      sensitive.foreach { q =>
        val perturbed = run(q)
        assert(perturbed == baseline(q),
          s"$q differs under shuffle.partitions=7 — partition-order-dependent arithmetic")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("refined quantizer fits are bitwise identical across input partition layouts") {
    import graft.operators.SimilarityOps
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // The refined (kmeansIters > 0) fits train on the bounded lowest-id
    // sample with exact-decimal means — the fitted model must be a constant
    // of the corpus SET, not of how the scan happens to be partitioned.
    def fits(nParts: Int) = {
      val (coarse, books) = SimilarityOps.fitIvfPq(emb.repartition(nParts),
        nCentroids = 8, nSub = 4, nPqCentroids = 8, kmeansIters = 2)
      (coarse.toSeq, books.map(_.toSeq).toSeq)
    }
    val (coarse8, books8) = fits(8)
    val (coarse32, books32) = fits(32)
    assert(coarse8 == coarse32,
      "coarse quantizer fit differs between 8- and 32-partition layouts")
    assert(books8 == books32,
      "PQ codebook fit differs between 8- and 32-partition layouts")
  }
}
