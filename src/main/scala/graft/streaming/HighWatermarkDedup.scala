package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** ST1 — keyed stateful high-watermark dedup with the reference's exact
  * batch-snapshot semantics (reference app.rb:72-78, 145-146, 158-167,
  * 270-273):
  *
  *  - state per `task_identifier` = the highest event `Time` (int64 ns) seen
  *    so far, seeded with the pipeline start time (app.rb:72);
  *  - the snapshot unit is one *allocation update* (frame): every event in a
  *    frame is compared against the watermark as of the frame's start, not a
  *    running max — equal-timestamp duplicates within one frame all pass
  *    (SURVEY §7.4.2; a naive dropDuplicates would drop them);
  *  - the watermark advances to max(previous, unit max) after each frame —
  *    monotone, never retreats (app.rb:270-273) — so a duplicate re-sent in
  *    a later frame is dropped even when both frames share a micro-batch.
  *    With no `frameCol`, the whole micro-batch is one snapshot unit.
  *
  * Implemented with `flatMapGroupsWithState` — an API extension point, not
  * planner surgery (SURVEY §4). State is one Long per key: at 100 TB-scale
  * key cardinality this stays KB-per-million-keys in the state store.
  *
  * `stateTtl`: optional idle-key eviction. The reference's `task_metadata`
  * map grows for the life of the process (app.rb:78) — faithful, but
  * unbounded at production key cardinality, where keys are ephemeral task
  * ids that stop emitting forever once their allocation dies. With a TTL,
  * a key whose state has seen no events for the duration is dropped from
  * the state store (processing-time timeout, the same eviction contract as
  * the `ttl` of the transformWithState processors, e.g.
  * [[AnomalyProcessor]]); if the key later re-appears its watermark
  * RE-SEEDS to `initialWatermarkNs`, so a post-eviction replay of old
  * events can pass — the explicit trade of the bounded-state mode. Default
  * `None` preserves reference semantics exactly.
  */
final case class HighWatermarkDedup(
    initialWatermarkNs: Long,
    keyCol: String = "task_identifier",
    timeCol: String = "event_time",
    frameCol: Option[String] = None,
    stateTtl: Option[java.time.Duration] = None) {

  def apply(spark: SparkSession, events: DataFrame): DataFrame = {
    val schema = events.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val timeIdx = schema.fieldIndex(timeCol)
    val frameIdx = frameCol.map(schema.fieldIndex)
    val init = initialWatermarkNs
    val ttlMs = stateTtl.map(_.toMillis)
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    implicit val rowEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(schema))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.scalaLong

    events
      .groupByKey((r: Row) => r.getString(keyIdx))
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: evict — the key re-seeds if it returns
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toVector
            // snapshot units: one per frame (ordered), or the whole micro-batch
            val units: Seq[Vector[Row]] = frameIdx match {
              case Some(f) =>
                batch.groupBy(r => if (r.isNullAt(f)) Long.MinValue else r.getLong(f))
                  .toSeq.sortBy(_._1).map(_._2)
              case None => Seq(batch)
            }
            val (out, wm) = WatermarkLogic.dedupUnits[Row](units,
              r => if (r.isNullAt(timeIdx)) None else Some(r.getLong(timeIdx)),
              state.getOption.getOrElse(init))
            state.update(wm)
            // the idle clock restarts on every batch that touches the key
            ttlMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }(stateEnc, rowEnc)
      .toDF(schema.fieldNames.toIndexedSeq: _*)
  }
}
