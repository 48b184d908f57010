package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** A metric point entering the detector. */
case class MetricPoint(key: String, seq: Long, value: Double)

/** A scored point: z-score against the key's running statistics at arrival
  * time (null/None until `minPrior` observations exist or while variance is
  * zero), and the flag. */
case class ScoredPoint(key: String, seq: Long, value: Double,
                       z: Option[Double], is_anomaly: Boolean)

/** Streaming anomaly detection — the unbounded-stream counterpart of
  * [[graft.operators.TimeSeriesOps.zscoreAnomalies]]: each point is scored
  * against its key's running mean/variance BEFORE the point itself updates
  * them (prior-only, like the batch operator's 1-preceding frame).
  *
  * State is one Welford accumulator per key — (n, mean, M2), three numbers,
  * O(1) per event and exact: no window buffer, no value history, so state
  * size is 24 bytes × keys regardless of stream length. That constant-state
  * shape is what survives 100 TB streams; a sliding-window variant would
  * buffer `lookback` values per key. Welford's update is numerically stable
  * (no catastrophic sum-of-squares cancellation).
  *
  * Within a micro-batch, a key's rows are processed in `seq` order so
  * replayed batches score identically (exactly-once state + deterministic
  * emission ⇒ idempotent downstream writes).
  */
class AnomalyProcessor(minPrior: Int, threshold: Double)
    extends StatefulProcessor[String, MetricPoint, ScoredPoint] {

  @transient private var stats: ValueState[(Long, Double, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    stats = getHandle.getValueState[(Long, Double, Double)](
      "welford", Encoders.product[(Long, Double, Double)], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[MetricPoint],
                               timerValues: TimerValues): Iterator[ScoredPoint] = {
    var (n, mean, m2) = if (stats.exists()) stats.get() else (0L, 0.0, 0.0)
    val out = rows.toVector.sortBy(_.seq).map { p =>
      val variance = if (n > 1) m2 / (n - 1) else 0.0
      val z = if (n >= minPrior && variance > 0)
        Some((p.value - mean) / math.sqrt(variance)) else None
      // Welford update AFTER scoring: the point never masks its own deviation
      n += 1
      val d = p.value - mean
      mean += d / n
      m2 += d * (p.value - mean)
      ScoredPoint(p.key, p.seq, p.value, z, z.exists(math.abs(_) > threshold))
    }
    stats.update((n, mean, m2))
    out.iterator
  }
}

object AnomalyProcessor {

  /** Score a metric stream; per-key statistics live for the life of the
    * query. */
  def score(points: Dataset[MetricPoint], minPrior: Int = 5,
            threshold: Double = 2.5): Dataset[ScoredPoint] = {
    implicit val enc = Encoders.product[ScoredPoint]
    points
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(
        new AnomalyProcessor(minPrior, threshold),
        TimeMode.None(), OutputMode.Append())
  }
}
