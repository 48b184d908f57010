package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import java.nio.file.Files

case class Te(task_identifier: String, event_time: Long, payload: String,
    frame_index: Long = 0L)

/** A task event whose `Time` may be missing. */
case class TeOpt(task_identifier: String, event_time: Option[Long], payload: String,
    frame_index: Long = 0L)

/** ST1 semantics under real micro-batches (SURVEY §7.4.2): the watermark is
  * compared as a batch-start snapshot, so equal-timestamp duplicates inside
  * one batch all pass; between batches the high-water mark is monotone.
  */
class HighWatermarkDedupSpec extends SparkSpec {
  import spark.implicits._

  private def runBatches[T : Encoder](initialWatermarkNs: Long,
      batches: Seq[T]*): Seq[Seq[(String, Long)]] = {
    val input = MemoryStream[T](spark)
    val deduped = HighWatermarkDedup(input.toDF(), initialWatermarkNs)
    val dir = java.nio.file.Files.createTempDirectory("dedup-test").toString
    val query = deduped.writeStream
      .format("memory").queryName(s"dedup_out_${System.nanoTime()}")
      .option("checkpointLocation", dir)
      .outputMode("append").start()
    val name = query.name
    val results = batches.map { b =>
      input.addData(b)
      query.processAllAvailable()
      spark.table(name).select("task_identifier", "event_time")
        .as[(String, Long)].collect().toSeq.sorted
    }
    query.stop()
    results
  }

  test("intra-batch equal-timestamp duplicates all pass; stale events drop") {
    val Seq(after1, after2, after3) = runBatches(100L,
      // batch 1: two equal timestamps above the seed watermark — both pass
      Seq(Te("a", 200L, "x"), Te("a", 200L, "y"), Te("a", 50L, "stale")),
      // batch 2: 200 is now <= watermark → dropped; 300 passes
      Seq(Te("a", 200L, "dup"), Te("a", 300L, "new")),
      // batch 3: nothing newer → nothing emitted
      Seq(Te("a", 250L, "late"), Te("a", 300L, "dup")))
    assert(after1 == Seq(("a", 200L), ("a", 200L)))
    assert(after2 == Seq(("a", 200L), ("a", 200L), ("a", 300L)))
    assert(after3 == after2)
  }

  test("a duplicate re-sent in a later frame of the same batch drops") {
    val Seq(after1, after2) = runBatches(100L,
      // one batch, two frames: equal timestamps within frame 1 both pass;
      // 200 re-sent in frame 2 is dropped against frame 1's watermark
      Seq(Te("a", 200L, "x", 1L), Te("a", 200L, "y", 1L), Te("a", 50L, "stale", 1L),
        Te("a", 200L, "dup", 2L), Te("a", 300L, "new", 2L)),
      // next batch: the watermark carried over is 300
      Seq(Te("a", 300L, "old", 3L), Te("a", 400L, "ok", 3L)))
    assert(after1 == Seq(("a", 200L), ("a", 200L), ("a", 300L)))
    assert(after2 == after1 :+ (("a", 400L)))
  }

  test("keys are independent; seed watermark applies per key") {
    val Seq(out) = runBatches(1000L,
      Seq(Te("a", 1500L, "x"), Te("b", 500L, "old-key-b"), Te("b", 2000L, "new-key-b")))
    assert(out == Seq(("a", 1500L), ("b", 2000L)))
  }

  test("watermark state survives a query restart from the checkpoint") {
    val input = MemoryStream[Te](spark)
    val deduped = HighWatermarkDedup(input.toDF(), 0L)
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-restart").toString
    val outDir = java.nio.file.Files.createTempDirectory("dedup-restart-out").toString
    def start() = deduped.writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    input.addData(Seq(Te("a", 500L, "x")))
    q1.processAllAvailable()
    q1.stop()

    // second run, same checkpoint: state (watermark=500) must be restored,
    // so a replayed/older event is dropped and only the newer one passes
    val q2 = start()
    input.addData(Seq(Te("a", 500L, "replay"), Te("a", 400L, "older"), Te("a", 600L, "new")))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir).select("event_time").as[Long].collect().toSeq.sorted
    assert(out == Seq(500L, 600L), s"restored state should drop <=500 in run 2, got $out")
  }

  test("a checkpoint written by the lambda-keyed dedup restores under the column-keyed one") {
    // the earlier form of HighWatermarkDedup: the key came from a lambda
    // over the deserialized Row (`groupByKey`), not from the column
    def lambdaKeyed(events: DataFrame, initialWatermarkNs: Long): DataFrame = {
      val schema = events.schema
      val keyIdx = schema.fieldIndex("task_identifier")
      val timeIdx = schema.fieldIndex("event_time")
      val frameIdx = schema.fieldIndex("frame_index")
      val rowEnc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))
      events
        .groupByKey((r: Row) => r.getString(keyIdx))(Encoders.STRING)
        .flatMapGroupsWithState[Long, Row](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
            val frames = rows.toVector.groupBy(_.getLong(frameIdx)).toSeq.sortBy(_._1).map(_._2)
            val (out, wm) = WatermarkLogic.dedupUnits[Row](frames,
              r => if (r.isNullAt(timeIdx)) None else Some(r.getLong(timeIdx)),
              state.getOption.getOrElse(initialWatermarkNs))
            state.update(wm)
            out.iterator
        }(Encoders.scalaLong, rowEnc)
        .toDF(schema.fieldNames.toIndexedSeq: _*)
    }
    val in = Files.createTempDirectory("dedup-compat-in")
    val ckpt = Files.createTempDirectory("dedup-compat-ckpt").toString
    val outDir = Files.createTempDirectory("dedup-compat-out").toString
    def runOnce(dedup: (DataFrame, Long) => DataFrame, file: String, rows: Te*): Unit = {
      Files.writeString(in.resolve(file), rows.toDF().toJSON.collect().mkString("\n"))
      dedup(spark.readStream.schema(Encoders.product[Te].schema).json(in.toString), 0L)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }

    runOnce(lambdaKeyed, "1.json", Te("a", 500L, "first", 1L))
    runOnce(HighWatermarkDedup(_, _), "2.json",
      Te("a", 500L, "resent", 2L), Te("a", 600L, "newer", 2L), Te("b", 100L, "new-key", 2L))
    val out = spark.read.parquet(outDir).select("payload").as[String].collect().toSeq.sorted
    assert(out == Seq("first", "new-key", "newer"), "the restored watermark for a is 500")
  }

  test("batch analog matches streaming semantics on first-batch data") {
    // The batch analog (dedupHighWatermark: wm = per-key min) and one
    // streaming batch with init < all timestamps agree on what survives
    // when the minimum is the seed.
    val rows = Seq(Te("k", 10L, "a"), Te("k", 20L, "b"), Te("k", 20L, "c"), Te("k", 5L, "d"))
    val batch = graft.operators.NomadEventOps
      .dedupHighWatermark(rows.toDF(), col("task_identifier"), col("event_time"))
      .select("event_time").as[Long].collect().toSeq.sorted
    val Seq(streaming) = runBatches(5L, rows)
    assert(batch == Seq(10L, 20L, 20L))
    assert(streaming.map(_._2).sorted == Seq(10L, 20L, 20L))
  }

  test("an event with no Time never passes and leaves the watermark unmoved") {
    val Seq(after1, after2) = runBatches(100L,
      Seq(TeOpt("a", None, "no-time", 1L)),
      // a null Time beside a timed event in one frame; b's only earlier
      // event has no Time, so b still holds the seed and 101 passes
      Seq(TeOpt("a", None, "no-time", 2L), TeOpt("a", Some(150L), "x", 2L),
        TeOpt("b", None, "no-time", 2L), TeOpt("b", Some(101L), "y", 3L)))
    assert(after1.isEmpty)
    assert(after2 == Seq(("a", 150L), ("b", 101L)))
  }
}
