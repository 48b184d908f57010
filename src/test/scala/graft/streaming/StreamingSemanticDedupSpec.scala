package graft.streaming

import graft.SparkSpec
import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming parity for rolling-ingestion semantic dedup: the quantizer is
  * a constant of the EXISTING corpus (deterministic init + exact-decimal
  * Lloyd means), so each incoming vector's cell — and therefore its
  * within-cell match set — is independent of how the incoming stream is
  * micro-batched. Unioning per-batch [[SimilarityOps.incrementalSemanticDedup]]
  * outputs must equal the one-shot batch answer, the property that makes
  * the operator safe inside `foreachBatch` against a static cell index.
  */
class StreamingSemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  test("per-micro-batch semantic dedup unions to the batch answer") {
    val rnd = new scala.util.Random(37)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val existingVecs = (0 until 40).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.3f))
    }
    // incoming: 6 fresh vectors + 4 near-copies of corpus members
    val fresh = (0 until 6).map(i => (100L + i, Array.fill(16)(rnd.nextFloat() * 10 - 5)))
    val copies = (0 until 4).map { i =>
      val (id, v) = existingVecs(i)
      (200L + id, v.map(x => x + rnd.nextFloat() * 0.01f))
    }
    val incoming = fresh ++ copies
    val existing = existingVecs.toDF("vec_id", "embedding")

    val expected = SimilarityOps.incrementalSemanticDedup(
        existing, incoming.toDF("vec_id", "embedding"),
        nCentroids = 4, threshold = 0.999)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(copies.map(_._1).toSet.subsetOf(expected.map(_._1)),
      s"every planted near-copy must be flagged: $expected")

    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    def ingest(batch: DataFrame, batchId: Long): Unit =
      got.synchronized {
        got ++= SimilarityOps.incrementalSemanticDedup(existing, batch,
            nCentroids = 4, threshold = 0.999)
          .select("new_id", "old_id").as[(Long, Long)].collect()
      }

    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode("append")
      .foreachBatch(ingest _)
      .start()
    try {
      in.addData(incoming.take(5): _*)
      q.processAllAvailable()
      in.addData(incoming.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.toSet == expected,
      s"streamed union diverged:\n spurious ${got.toSet diff expected}\n missing ${expected diff got.toSet}")
  }
}
