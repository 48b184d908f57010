package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The core-set (k-center exemplar panel) as a MAINTAINED artifact, not a
  * one-shot query: fit the panel once ([[SimilarityOps.kCenterFit]]),
  * assign streamed appends against the FROZEN panel through the same
  * codegen argmin the batch path uses ([[SimilarityOps.kCenterAssignWith]]
  * is a pure projection, so it runs unchanged on a streaming frame), and
  * re-greedy when the per-dimension mean shift of
  * [[QualityOps.embeddingDrift]] exceeds a bound — the coverage radius the
  * panel exists to bound recovers.
  */
class CoreSetLifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("streamed appends assign against the frozen panel exactly as a batch re-run would") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(73)
    val base = (0 until 64).map(i => (i.toLong, Array.fill(12)(rnd.nextFloat() * 2 - 1)))
    val panel = SimilarityOps.kCenterFit(base.toDF("vec_id", "embedding"), k = 6)
    assert(panel.size == 6 && panel.map(_._1).distinct.size == 6)

    // appends arrive as a stream in two micro-batches; the SAME operator
    // call serves them (no streaming-specific code path to drift apart)
    val appends = (100 until 110).map(i => (i.toLong, Array.fill(12)(rnd.nextFloat() * 2 - 1)))
    val in = MemoryStream[(Long, Array[Float])](spark)
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = SimilarityOps.kCenterAssignWith(in.toDF().toDF("vec_id", "embedding"), panel)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("coreset-ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed ++= b.as[(Long, Long, Long)].collect()
        ()
      }
      .start()
    in.addData(appends.take(4))
    q.processAllAvailable()
    in.addData(appends.drop(4))
    q.processAllAvailable()
    q.stop()

    val batch = SimilarityOps.kCenterAssignWith(appends.toDF("vec_id", "embedding"), panel)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.toSet == batch,
      s"streamed assign diverged from batch: ${(batch diff streamed.toSet) ++ (streamed.toSet diff batch)}")
    assert(streamed.size == batch.size, "no duplicate assignments across micro-batches")
    // and the panel's own members still self-assign at distance 0 batch-side
    val self = SimilarityOps.kCenterAssignWith(base.toDF("vec_id", "embedding"), panel)
      .where(col("vec_id").isin(panel.map(_._1): _*))
      .as[(Long, Long, Long)].collect()
    assert(self.forall(r => r._1 == r._2 && r._3 == 0L), s"centers must self-assign at 0: ${self.toSeq}")
  }

  test("drift fires the re-greedy and the coverage radius recovers") {
    val rnd = new scala.util.Random(79)
    // base corpus lives in the FIRST half of the space (per-dim mean ~1
    // there), drifted ingest in the second — the per-dimension MEAN moves
    // by ~1 (what embeddingDrift measures) and a frozen panel fitted on base
    // covers drifted rows badly (near-orthogonal support)
    def baseVec() = Array.tabulate(12)(i => if (i < 6) 0.5f + rnd.nextFloat() else 0.02f * rnd.nextFloat())
    def driftVec() = Array.tabulate(12)(i => if (i >= 6) 0.5f + rnd.nextFloat() else 0.02f * rnd.nextFloat())
    val base = (0 until 80).map(i => (i.toLong, baseVec())).toDF("vec_id", "embedding")
    val drifted = (200 until 280).map(i => (i.toLong, driftVec())).toDF("vec_id", "embedding")

    val frozen = SimilarityOps.kCenterFit(base, k = 6)

    // the lifecycle's trigger: the largest per-dimension mean shift
    def maxShift(cur: org.apache.spark.sql.DataFrame): Double =
      QualityOps.embeddingDrift(base, cur).agg(max(col("shift"))).head().getDouble(0)
    assert(maxShift(drifted) > 0.5, "constructed drift must trip the refit trigger")
    assert(maxShift(base) <= 0.5, "no false trigger without drift")

    def coverage(panel: Seq[(Long, Seq[Double], Double)]): (Long, Long) = {
      val r = SimilarityOps.kCenterAssignWith(drifted, panel)
        .agg(max(col("dist")), avg(col("dist")).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (frozenMax, frozenAvg) = coverage(frozen)
    val refit = SimilarityOps.kCenterFit(drifted, k = 6)
    val (refitMax, refitAvg) = coverage(refit)
    // recovery: the refit panel's coverage radius (max min-distance — the
    // quantity the greedy minimizes) and mean distance BOTH beat the frozen
    // panel's on the drifted corpus
    assert(refitMax < frozenMax,
      s"coverage radius must recover after refit: frozen $frozenMax vs refit $refitMax")
    assert(refitAvg < frozenAvg,
      s"mean assign distance must recover after refit: frozen $frozenAvg vs refit $refitAvg")
    // the frozen panel on orthogonal drift is near-useless (quantized
    // distances near 10000 = cosine ~0); the refit is materially tighter
    assert(frozenAvg > 9000L, s"orthogonal drift should leave frozen coverage ~10000: $frozenAvg")
    assert(refitAvg < 7000L, s"refit coverage should be materially tighter: $refitAvg")
  }
}
