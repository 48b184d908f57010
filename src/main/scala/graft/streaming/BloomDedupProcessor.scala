package graft.streaming

import graft.functions.BloomHash
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One keyed item occurrence in the stream. */
case class SeenItem(key: String, seq: Long, item: Long)

/** An item emitted because its id had not been seen before on this key. */
case class FreshItem(key: String, seq: Long, item: Long)

/** Streaming first-occurrence dedup with CONSTANT state per key — a Bloom
  * filter in `ValueState` instead of the exact id set.
  *
  * The exact formulation (`dropDuplicates` / a MapState of seen ids) grows
  * state with DISTINCT ids per key — unbounded on a 100 TB stream unless a
  * watermark ages ids out, which silently re-admits late duplicates. This
  * processor stores one m-bit array per key, forever, and trades exactness
  * the safe way around for dedup: an item once admitted is ALWAYS
  * recognised as seen (the filter has no false negatives), so duplicates
  * are never re-emitted; the filter's false positives drop a bounded
  * fraction of genuinely novel items (~(1-e^(-kn/m))^k, under 1% at the
  * 16-bits-per-id design point with [[graft.plans.BloomMightContain]]'s
  * k=7). That failure mode — occasionally skipping a novel event — is the
  * acceptable one for at-most-once delivery sinks; the exact high-watermark
  * dedup ([[HighWatermarkDedup]]) remains the choice when the key space is
  * bounded. Same [[graft.functions.BloomHash]] as the batch Bloom operator,
  * so batch and stream agree on membership.
  *
  * Rows are processed in `seq` order within a batch (sorted locally), so
  * in-batch duplicates resolve to the first occurrence deterministically.
  */
class BloomDedupProcessor(numBits: Int)
    extends StatefulProcessor[String, SeenItem, FreshItem] {
  require(numBits > 0 && numBits % 64 == 0,
    s"numBits must be a positive multiple of 64, got $numBits")

  private val numHashes = graft.plans.BloomMightContain.NumHashes

  @transient private var bits: ValueState[Array[Long]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    bits = getHandle.getValueState[Array[Long]](
      "bloom", Encoders.kryo[Array[Long]], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SeenItem],
                               timerValues: TimerValues): Iterator[FreshItem] = {
    val words = Option(bits.get()).getOrElse(new Array[Long](numBits / 64))
    val out = scala.collection.mutable.ArrayBuffer.empty[FreshItem]
    rows.toArray.sortBy(_.seq).foreach { e =>
      if (!BloomHash.mightContain(words, e.item, numHashes)) {
        val idx = BloomHash.bitsFor(e.item, numBits, numHashes)
        var i = 0
        while (i < numHashes) {
          val b = idx(i)
          words(b >> 6) |= (1L << (b & 63))
          i += 1
        }
        out += FreshItem(key, e.seq, e.item)
      }
    }
    bits.update(words) // one O(m) state write per (key, batch)
    out.iterator
  }
}

object BloomDedupProcessor {
  /** First-occurrence filter over a keyed item stream, O(m) state per key. */
  def distinctItems(events: Dataset[SeenItem], numBits: Int = 1 << 16): Dataset[FreshItem] = {
    implicit val enc = Encoders.product[FreshItem]
    events
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new BloomDedupProcessor(numBits),
        TimeMode.None(), OutputMode.Append())
  }
}
