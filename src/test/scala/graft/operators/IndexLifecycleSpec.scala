package graft.operators

import graft.SparkSpec

/** The incremental-dedup corpus index: [[DedupOps.buildNearDupIndex]]
  * and the checkers that probe it agree with the one-shot batch pipeline.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("index and batch sides of incremental near-dup share ONE shingle hash space") {
    // DedupOps deliberately carries TWO 64-bit shingle hash spaces: the
    // ngram_hashes kernel space (sharedShinglePairs / verifyJaccard —
    // self-contained per call) and the xxhash64(concat_ws) space that
    // buildNearDupIndex AND sharedPairsAgainstIndex share. A future edit
    // moving only ONE of the index/batch sides to the kernel space would
    // make every batch∩index intersection silently empty (scores all 0,
    // no error). Pin: an exact text duplicate ingested against the index
    // MUST score jaccard 1.0 — impossible unless both sides hash shingles
    // identically.
    val existing = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "completely different text with no overlap at all here")
    ).toDF("doc_id", "text")
    val incoming = Seq((10L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val index = DedupOps.buildNearDupIndex(existing, n = 3)
    val got = DedupOps.incrementalNearDupAgainst(index, incoming, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((10L, 1L, 1.0)),
      s"exact duplicate must score jaccard 1.0 against the index (got ${got.toSeq}) — " +
        "a mismatch means the index and batch sides diverged into different hash spaces")
    // and the kernel-space batch pipeline must AGREE with the incremental
    // checker on the same near-dup decision (cross-space agreement is on
    // pair outputs, never on raw hash values)
    val batchPairs = DedupOps.ngramJaccard(existing.unionByName(incoming), n = 3,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.contains((1L, 10L, 1.0)),
      "batch pipeline (kernel hash space) must find the same exact-dup pair")
  }

  test("containment checker works against a maintained index too") {
    val existing = Seq((1L, "q w e r t y u i o p")).toDF("doc_id", "text")
    val incoming = Seq((20L, "zz q w e r t y u i o p zz")).toDF("doc_id", "text")
    val index = DedupOps.buildNearDupIndex(existing, n = 4)
    val got = DedupOps.incrementalContainmentAgainst(index, incoming, n = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((20L, 1L)))
  }
}
