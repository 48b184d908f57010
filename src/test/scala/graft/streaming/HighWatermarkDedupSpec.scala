package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

case class Te(task_identifier: String, event_time: Long, payload: String,
    frame_index: Long = 0L)

/** ST1 semantics under real micro-batches (SURVEY §7.4.2): the watermark is
  * compared as a batch-start snapshot, so equal-timestamp duplicates inside
  * one batch all pass; between batches the high-water mark is monotone.
  */
class HighWatermarkDedupSpec extends SparkSpec {
  import spark.implicits._

  private def runBatches(dedup: HighWatermarkDedup, batches: Seq[Te]*): Seq[Seq[(String, Long)]] = {
    val input = MemoryStream[Te](spark)
    val deduped = dedup.apply(spark, input.toDF())
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
    val Seq(after1, after2, after3) = runBatches(HighWatermarkDedup(100L),
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

  test("frameCol: a duplicate re-sent in a later frame of the same batch drops") {
    val Seq(after1, after2) = runBatches(
      HighWatermarkDedup(100L, frameCol = Some("frame_index")),
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
    val Seq(out) = runBatches(HighWatermarkDedup(1000L),
      Seq(Te("a", 1500L, "x"), Te("b", 500L, "old-key-b"), Te("b", 2000L, "new-key-b")))
    assert(out == Seq(("a", 1500L), ("b", 2000L)))
  }

  test("watermark state survives a query restart from the checkpoint") {
    val input = MemoryStream[Te](spark)
    val deduped = HighWatermarkDedup(0L).apply(spark, input.toDF())
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

  test("batch analog matches streaming semantics on first-batch data") {
    // The batch analog (dedupHighWatermark: wm = per-key min) and one
    // streaming batch with init < all timestamps agree on what survives
    // when the minimum is the seed.
    val rows = Seq(Te("k", 10L, "a"), Te("k", 20L, "b"), Te("k", 20L, "c"), Te("k", 5L, "d"))
    val batch = graft.operators.NomadEventOps
      .dedupHighWatermark(rows.toDF(), col("task_identifier"), col("event_time"))
      .select("event_time").as[Long].collect().toSeq.sorted
    val Seq(streaming) = runBatches(HighWatermarkDedup(5L), rows)
    assert(batch == Seq(10L, 20L, 20L))
    assert(streaming.map(_._2).sorted == Seq(10L, 20L, 20L))
  }

  test("stateTtl evicts idle keys; an evicted key re-seeds to the initial watermark") {
    val input = MemoryStream[Te](spark)
    val deduped = HighWatermarkDedup(0L, stateTtl = Some(java.time.Duration.ofMillis(200)))
      .apply(spark, input.toDF())
    val dir = java.nio.file.Files.createTempDirectory("dedup-ttl").toString
    val query = deduped.writeStream
      .format("memory").queryName(s"dedup_ttl_${System.nanoTime()}")
      .option("checkpointLocation", dir)
      .outputMode("append").start()
    def emitted(): Seq[(String, Long)] =
      spark.table(query.name).select("task_identifier", "event_time")
        .as[(String, Long)].collect().toSeq.sorted
    // With a ProcessingTimeTimeout registered the engine schedules
    // timeout-evaluation batches on its own clock, so processAllAvailable
    // can livelock against the trigger thread — poll the sink for the
    // expected row count instead (the engine drains MemoryStream data by
    // itself; nothing here depends on batch boundaries).
    def awaitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (emitted().size < n && System.nanoTime() < deadline) Thread.sleep(50L)
      query.exception.foreach(throw _)
      assert(emitted().size == n, s"expected $n rows, got ${emitted()}")
    }
    // key a advances its watermark to 500
    input.addData(Seq(Te("a", 500L, "x")))
    awaitRows(1)
    assert(emitted() == Seq(("a", 500L)))
    // let a's idle clock expire (timeout batches fire on the engine's own
    // trigger), then feed key b
    Thread.sleep(1000L)
    input.addData(Seq(Te("b", 100L, "y")))
    awaitRows(2)
    // a returns with an event BELOW its old watermark. Evicted → re-seeded
    // to init 0 → the event passes. (Without the TTL this is the stale-drop
    // case above and would be suppressed.)
    input.addData(Seq(Te("a", 400L, "replay")))
    awaitRows(3)
    assert(emitted() == Seq(("a", 400L), ("a", 500L), ("b", 100L)),
      "evicted key must re-seed, so a sub-watermark event passes after TTL")
    query.stop()
  }
}
