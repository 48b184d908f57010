package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** A (key, seq, value) observation entering the smoother. */
case class SeriesPoint(key: String, seq: Long, value: Double)

/** The running EWMA AFTER consuming the point: s₁ = x₁,
  * sₙ = α·xₙ + (1−α)·sₙ₋₁. */
case class EwmaPoint(key: String, seq: Long, n_obs: Long, ewma: Double)

/** Streaming exponential moving average — the unbounded-stream counterpart
  * of [[graft.operators.TimeSeriesOps.ewma]]: the recurrence is a left fold
  * over the key's sequence, so streaming state is just the fold accumulator
  * — (n, s), two numbers per key, O(1) per event regardless of stream
  * length (the batch operator materialises the key's history only because
  * a batch engine has no carry). With the same dyadic α each streaming
  * step is the same exact FP scaling as the batch fold step, so after any
  * prefix the streaming value is BITWISE the batch fold of that prefix —
  * the parity the spec pins. Rows within a micro-batch are processed in
  * `seq` order, so replayed batches emit identically (idempotent sinks). */
class EwmaProcessor(alpha: Double)
    extends StatefulProcessor[String, SeriesPoint, EwmaPoint] {

  @transient private var state: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Double)](
      "ewma", Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SeriesPoint],
                               timerValues: TimerValues): Iterator[EwmaPoint] = {
    var (n, s) = if (state.exists()) state.get() else (0L, 0.0)
    val out = rows.toVector.sortBy(_.seq).map { p =>
      s = if (n == 0) p.value else alpha * p.value + (1 - alpha) * s
      n += 1
      EwmaPoint(key, p.seq, n, s)
    }
    state.update((n, s))
    out.iterator
  }
}

object EwmaProcessor {

  /** Smooth a series stream; per-key state lives for the life of the
    * query. */
  def smooth(points: Dataset[SeriesPoint], alpha: Double = 0.5): Dataset[EwmaPoint] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]; got $alpha")
    implicit val enc = Encoders.product[EwmaPoint]
    points
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new EwmaProcessor(alpha), TimeMode.None(), OutputMode.Append())
  }
}
