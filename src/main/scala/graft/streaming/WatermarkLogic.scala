package graft.streaming

/** The pure core of ST1's frame-snapshot dedup: [[HighWatermarkDedup]]
  * runs it per key inside flatMapGroupsWithState, and it is property-tested
  * in isolation (reference app.rb:163-167, 270-273).
  */
object WatermarkLogic {

  /** Process one micro-batch of a single key.
    *
    * @param units  snapshot units (frames) in ascending frame order; within a
    *               unit every event is compared against the watermark as of
    *               the unit's start
    * @return (surviving events in input order, advanced watermark)
    */
  def dedupUnits[E](units: Seq[Seq[E]], tsOf: E => Option[Long], wm0: Long): (Seq[E], Long) = {
    var wm = wm0
    val out = units.flatMap { unit =>
      val pass = unit.filter(e => tsOf(e).exists(_ > wm))           // app.rb:163
      wm = unit.iterator.flatMap(tsOf(_)).foldLeft(wm)(math.max)    // app.rb:270-273
      pass
    }
    (out, wm)
  }
}
