package graft.operators

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[Fixpoint]] round driver's contract, directly and through its
  * callers: it stops on a repeated probe or at the round cap, a finished
  * call holds one round's blocks however many rounds it ran, and each
  * further round costs the same fixed number of jobs. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** Triangle {1,2,3} with a pendant chain of `tail` nodes hanging off node
    * 1: the 2-core is the triangle, and each peel round drops only the
    * chain's current end, so the peel takes `tail` rounds to reach it. */
  private def triangleWithTail(tail: Int): DataFrame = {
    val chain = (0 until tail).map(i => (if (i == 0) 1L else 99L + i, 100L + i))
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++ chain
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  private def path(n: Int): DataFrame =
    (1 until n).map(i => (i.toLong, i + 1L)).toDF("ida", "idb")

  test("iterate stops on a repeated probe, or at maxRounds without converging") {
    def halve(maxRounds: Int) =
      Fixpoint.iterate(spark.range(40).toDF(), maxRounds)(_.count()) { (f, n) =>
        f.where(col("id") < math.max(n / 2, 5))
      }
    try {
      val done = halve(10)
      assert(done.converged && done.probes == Seq(40L, 20L, 10L, 5L, 5L), s"probes: ${done.probes}")
      assert(done.frame.as[Long].collect().sorted.toSeq == (0L until 5L))
      val capped = halve(2)
      assert(!capped.converged && capped.probes == Seq(40L, 20L, 10L), s"probes: ${capped.probes}")
      assert(capped.frame.count() == 10L, "the capped run returns its last round's frame")
    } finally GraftSession.releaseMaterialized(spark)
  }

  test("at the round cap kCore still throws and connectedComponents still returns its labels") {
    val e = intercept[IllegalArgumentException] {
      GraphOps.kCore(triangleWithTail(8), k = 2, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    // one round on a 300-node path: every node labelled, the far end not yet by 1
    val labels = DedupOps.connectedComponents(path(300), maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 300 && labels(300L) > 1L, s"cut labels: ${labels(300L)}")
    GraftSession.releaseMaterialized(spark)
  }

  /** RDDs a finished call leaves persisted. The result frame stays
    * reachable until they are counted: once it is collectable, a GC lets
    * the ContextCleaner unpersist its blocks mid-count. */
  private def heldBy(run: => DataFrame): Int =
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val frame = run
      frame.collect()
      val held = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      java.lang.ref.Reference.reachabilityFence(frame)
      held
    } finally GraftSession.releaseMaterialized(spark)

  test("kCore and connectedComponents hold one round's blocks however many rounds they run") {
    val kShort = heldBy(GraphOps.kCore(triangleWithTail(1), k = 2))
    val kLong = heldBy(GraphOps.kCore(triangleWithTail(8), k = 2))
    assert(kShort == kLong, s"kCore retention grows with rounds: 1-node tail $kShort RDDs, 8-node tail $kLong")
    // label propagation with pointer jumping: O(log diameter) rounds
    val cShort = heldBy(DedupOps.connectedComponents(path(3)))
    val cLong = heldBy(DedupOps.connectedComponents(path(300)))
    assert(cShort == cLong,
      s"connectedComponents retention grows with rounds: path 3 $cShort RDDs, path 300 $cLong")
  }

  test("each further kCore peel round costs three jobs: degree exchange, keep broadcast, probe") {
    // Under AQE every exchange of a round's plan runs as its own job, so a
    // round is its two stage jobs plus ONE probe job that also materializes
    // the round's checkpoint. A round that re-derived earlier rounds, planned
    // a second broadcast of `keep`, or needed a separate checkpoint job would
    // break the slope.
    def jobsFor(tail: Int): Int =
      try jobsDuring(GraphOps.kCore(triangleWithTail(tail), k = 2).collect())
      finally GraftSession.releaseMaterialized(spark)
    val (j2, j4, j8) = (jobsFor(2), jobsFor(4), jobsFor(8))
    assert(j4 - j2 == 3 * 2 && j8 - j4 == 3 * 4,
      s"per-round job count must be flat at 3: tail 2→$j2 jobs, 4→$j4, 8→$j8")
  }
}
