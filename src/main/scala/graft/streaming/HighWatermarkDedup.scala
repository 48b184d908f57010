package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** ST1 — keyed stateful high-watermark dedup with the reference's exact
  * batch-snapshot semantics (reference app.rb:72-78, 145-146, 158-167,
  * 270-273), over the [[NomadPipeline.taskEvents]] shape:
  *
  *  - state per `task_identifier` = the highest `event_time` (int64 ns) seen
  *    so far, seeded with the pipeline start time (app.rb:72);
  *  - the snapshot unit is one *allocation update* (`frame_index`): every
  *    event in a frame is compared against the watermark as of the frame's
  *    start, not a running max — equal-timestamp duplicates within one frame
  *    all pass (SURVEY §7.4.2; a naive dropDuplicates would drop them);
  *  - the watermark advances to max(previous, frame max) after each frame —
  *    monotone, never retreats (app.rb:270-273) — so a duplicate re-sent in
  *    a later frame is dropped even when both frames share a micro-batch.
  *
  * Implemented with `flatMapGroupsWithState` — an API extension point, not
  * planner surgery (SURVEY §4). It groups by the `task_identifier` column,
  * so no row is deserialized before the shuffle. State is one Long per key:
  * at 100 TB-scale key cardinality this stays KB-per-million-keys in the
  * state store. Like the reference's `task_metadata` map (app.rb:78), a
  * key's state lives for the life of the query.
  */
object HighWatermarkDedup {

  def apply(events: DataFrame, initialWatermarkNs: Long): DataFrame = {
    val schema = events.schema
    val timeIdx = schema.fieldIndex("event_time")
    val frameIdx = schema.fieldIndex("frame_index")
    implicit val rowEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(schema))
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.scalaLong

    events
      .groupBy(col("task_identifier")).as[String, Row]
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          // snapshot units: one per frame, in frame order
          val frames = rows.toVector.groupBy(_.getLong(frameIdx)).toSeq.sortBy(_._1).map(_._2)
          val (out, wm) = WatermarkLogic.dedupUnits[Row](frames,
            r => if (r.isNullAt(timeIdx)) None else Some(r.getLong(timeIdx)),
            state.getOption.getOrElse(initialWatermarkNs))
          state.update(wm)
          out.iterator
      }(stateEnc, rowEnc)
      .toDF(schema.fieldNames.toIndexedSeq: _*)
  }
}
