package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The running CUSUM AFTER consuming the point, plus the drift flag. */
case class CusumPoint(key: String, seq: Long, n_obs: Long, cusum: Double,
                      drifted: Boolean)

/** Streaming one-sided CUSUM drift monitor — the unbounded-stream
  * counterpart of [[graft.operators.TimeSeriesOps.cusum]]: sₙ = max(0,
  * sₙ₋₁ + (xₙ − target − slack)) carries as one double of state per key
  * (plus the count), O(1) per event. Each streaming step is the same
  * left-associated arithmetic as the batch fold step, so after any prefix
  * the streamed score is BITWISE the batch fold of that prefix — pinned in
  * the spec. Rows within a micro-batch process in `seq` order (idempotent
  * replays). This is the live-ingest shape of the batch op: alert on
  * sustained feature drift before a corpus snapshot is cut, then reset or
  * re-baseline out-of-band. */
class CusumProcessor(target: Double, slack: Double, h: Double)
    extends StatefulProcessor[String, SeriesPoint, CusumPoint] {

  @transient private var state: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Double)](
      "cusum", Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SeriesPoint],
                               timerValues: TimerValues): Iterator[CusumPoint] = {
    var (n, s) = if (state.exists()) state.get() else (0L, 0.0)
    val out = rows.toVector.sortBy(_.seq).map { p =>
      s = math.max(0.0, s + ((p.value - target) - slack))
      n += 1
      CusumPoint(p.key, p.seq, n, s, s > h)
    }
    state.update((n, s))
    out.iterator
  }
}

object CusumProcessor {

  /** Monitor a series stream; per-key state lives for the life of the
    * query. */
  def monitor(points: Dataset[SeriesPoint], target: Double,
              slack: Double = 0.25, h: Double = 100.0): Dataset[CusumPoint] = {
    implicit val enc = Encoders.product[CusumPoint]
    points
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new CusumProcessor(target, slack, h),
        TimeMode.None(), OutputMode.Append())
  }
}
