package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The `GraftSession.checkpointed` strategy seam, RELIABLE side: with a
  * checkpoint directory configured, the same operator call sites that
  * normally take executor-local checkpoints write reliable checkpoint
  * files instead (the cluster-survivability story the seam exists for) —
  * and produce identical results. The local side is exercised by the whole
  * rest of the suite.
  */
class CheckpointSeamSpec extends SparkSpec {
  import spark.implicits._

  private def rddDirsUnder(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Seq(f)
      else f.listFiles().toSeq.flatMap(walk) :+ f
    walk(new java.io.File(dir)).count(_.getName.startsWith("rdd-"))
  }

  test("with a checkpoint dir configured the seam goes reliable; results identical to the local path") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L), (7L, 8L))
      .toDF("src", "dst")
    val emb = (1L to 24L).map(i =>
        (i, Seq(math.cos(i * 0.41).toFloat, math.sin(i * 0.41).toFloat)))
      .toDF("vec_id", "embedding")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("ida", "idb")

    // local-path results first (no checkpoint dir — the default)
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
    val localKcore = operators.GraphOps.kCore(edges, 2)
      .as[(Long, Long)].collect().toSet
    val localPanel = operators.SimilarityOps.kCenterFit(emb, k = 5)
    val localLabels = operators.DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet

    val dir = Files.createTempDirectory("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliableKcore = operators.GraphOps.kCore(edges, 2)
        .as[(Long, Long)].collect().toSet
      val reliablePanel = operators.SimilarityOps.kCenterFit(emb, k = 5)
      val reliableLabels = operators.DedupOps.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet
      assert(reliableKcore == localKcore,
        s"kCore diverged across checkpoint strategies: $reliableKcore vs $localKcore")
      assert(reliablePanel == localPanel,
        s"kCenterFit diverged across checkpoint strategies: $reliablePanel vs $localPanel")
      assert(reliableLabels == localLabels,
        s"connectedComponents diverged across checkpoint strategies: $reliableLabels vs $localLabels")
      // proof the reliable path actually ran: checkpoint files exist under
      // the configured dir (one rdd-* dir per materialized checkpoint)
      assert(rddDirsUnder(dir) > 0, s"no reliable checkpoint files were written under $dir")
    } finally {
      // Option(null) resets checkpointDir to None — back to the local path
      // for every spec that runs after this one
      spark.sparkContext.setCheckpointDir(null)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir must reset for later specs")
  }
}
