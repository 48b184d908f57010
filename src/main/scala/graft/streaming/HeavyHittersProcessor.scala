package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** One observed item within a stream partition key. */
case class ItemEvent(key: String, seq: Long, item: String)

/** A snapshot row: the Misra-Gries estimate for one tracked item after the
  * micro-batch that carried `as_of_seq` for that key. */
case class HeavyHitter(key: String, as_of_seq: Long, item: String, est: Long)

/** Streaming heavy hitters per key — Misra-Gries summaries in `MapState`.
  *
  * The sketch keeps at most `capacity` counters per key regardless of
  * stream length or item cardinality: an unseen item either claims a free
  * slot or decrements every tracked counter (the classic majority-vote
  * generalisation). Guarantee: any item whose true frequency exceeds
  * n/(capacity+1) is tracked, and each estimate undercounts by at most
  * n/(capacity+1). That bounded-state shape is the 100 TB story — exact
  * per-item counts would grow state with distinct items; this grows with
  * neither stream length nor cardinality.
  *
  * Batch rows are folded into an in-memory map first and merged into
  * `MapState` once per (key, batch) — state-store round trips are
  * O(capacity), not O(rows). After each batch the processor emits the
  * key's full tracked snapshot tagged with the batch's max `seq`, so
  * downstream consumers read the latest `as_of_seq` per key.
  */
class HeavyHittersProcessor(capacity: Int)
    extends StatefulProcessor[String, ItemEvent, HeavyHitter] {

  @transient private var counters: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counters = getHandle.getMapState[String, Long](
      "mg", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[ItemEvent],
                               timerValues: TimerValues): Iterator[HeavyHitter] = {
    // current sketch -> mutable local copy
    val local = scala.collection.mutable.Map.empty[String, Long]
    counters.iterator().foreach { p => local(p._1) = p._2 }
    var maxSeq = Long.MinValue
    rows.foreach { e =>
      maxSeq = math.max(maxSeq, e.seq)
      local.get(e.item) match {
        case Some(c) => local(e.item) = c + 1
        case None if local.size < capacity => local(e.item) = 1L
        case None =>
          // decrement-all; drop exhausted counters
          local.mapValuesInPlace((_, c) => c - 1)
          local.filterInPlace((_, c) => c > 0)
      }
    }
    // merge back: one pass over ≤ capacity entries
    counters.keys().foreach { k => if (!local.contains(k)) counters.removeKey(k) }
    local.foreach { case (item, c) => counters.updateValue(item, c) }
    local.iterator.map { case (item, c) => HeavyHitter(key, maxSeq, item, c) }
  }
}

object HeavyHittersProcessor {

  /** Track approximate heavy hitters per key; per-key counters live for
    * the life of the query. */
  def track(events: Dataset[ItemEvent], capacity: Int = 8): Dataset[HeavyHitter] = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    implicit val enc = Encoders.product[HeavyHitter]
    events
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new HeavyHittersProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
  }
}
