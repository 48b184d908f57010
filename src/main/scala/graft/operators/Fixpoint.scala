package graft.operators

import graft.GraftSession
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** The round driver of the iterative operators (connected components,
  * k-core peeling, farthest-point k-center): one frame per round, each
  * derived from the last, until a scalar probe stops changing.
  *
  *  - Round 0 checkpoints `init`; round r ≥ 1 checkpoints `step(frame,
  *    probe value)` of round r-1. Checkpoints truncate lineage (without
  *    that the self-referential plan grows every round) and are LAZY
  *    ([[GraftSession.checkpointed]], `eager = false`).
  *  - The round's probe is a full action over the new frame, so it
  *    materializes the checkpoint as a side effect: one probe job per round
  *    instead of checkpoint job + probe job — and per-job latency is what
  *    degrades first on a contended driver box (ARCHITECTURE, "Driver-box
  *    bench divergence"). A probe that reads only part of the frame would
  *    leave the rest to a hidden extra checkpoint job.
  *  - Once the new round is materialized, the previous round's blocks are
  *    released: one round stays resident, not one per round. A round's
  *    blocks are the RDDs it newly persisted (on the reliable path that
  *    includes the cache the checkpoint write reads), so nothing else may
  *    persist into the same SparkContext while rounds run.
  *  - The rounds stop when a probe equals the previous one (the callers'
  *    probes are monotone — shrinking counts, decreasing label sums — so
  *    an unchanged probe IS the fixpoint), or after `maxRounds` rounds past
  *    round 0.
  */
object Fixpoint {

  /** The last round's frame (resident until [[release]] or
    * [[GraftSession.releaseMaterialized]]), every probe value from round 0
    * on, and whether the last two probes agreed within the round cap. */
  final case class Rounds[V](frame: DataFrame, probes: Seq[V], converged: Boolean,
                             private val held: Set[Int]) {
    /** Drop the last round's blocks, for callers that keep only probe values. */
    def release(): Unit = Fixpoint.release(frame.sparkSession.sparkContext, held)
  }

  def iterate[V](init: DataFrame, maxRounds: Int)(probe: DataFrame => V)(
      step: (DataFrame, V) => DataFrame): Rounds[V] = {
    val sc = init.sparkSession.sparkContext
    def round(df: DataFrame): (DataFrame, V, Set[Int]) = {
      val ((frame, v), held) = persisting(sc) {
        val frame = GraftSession.checkpointed(df, eager = false)
        (frame, probe(frame)) // the probe materializes the checkpoint
      }
      (frame, v, held)
    }
    var (frame, v, held) = round(init)
    val probes = Vector.newBuilder[V] += v
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val (next, nv, nextHeld) = round(step(frame, v))
      release(sc, held)
      converged = nv == v
      frame = next; v = nv; held = nextHeld
      probes += nv
      r += 1
    }
    Rounds(frame, probes.result(), converged, held)
  }

  /** `body`'s result and the ids of the RDDs it newly persisted. */
  private[operators] def persisting[T](sc: SparkContext)(body: => T): (T, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private[operators] def release(sc: SparkContext, ids: Set[Int]): Unit = {
    val live = sc.getPersistentRDDs
    ids.flatMap(live.get).foreach(_.unpersist(blocking = false))
  }
}
