package graft.streaming

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming parity for the retrieval family (BM25): corpus-global
  * statistics (df, N, avgdl) make BM25 a VIEW over the whole corpus, not a
  * per-row transform — so the streaming formulation is micro-batch
  * materialized-view maintenance: each micro-batch lands in its own
  * idempotent partition, and the ranking is recomputed over the
  * accumulated corpus. After every batch the view
  * equals the batch BM25 over the union of all data seen so far, and
  * at-least-once replay of a batch does not change the corpus.
  */
class StreamingBm25Spec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("data", "spark", "row", "table", "hash", "join",
    "scan", "sort", "key", "value", "batch", "stream")

  private def mkDocs(ids: Range, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
  }

  test("micro-batch BM25 over an incremental corpus equals the batch ranking; replay is idempotent") {
    val corpusDir = java.nio.file.Files.createTempDirectory("bm25-stream").toString + "/corpus"
    val query = Seq("spark", "join")
    @volatile var view: Seq[(Long, Double)] = Seq.empty

    def maintain(batch: DataFrame, batchId: Long): Unit = {
      // idempotent landing: replayed batch ids overwrite their own partition
      batch.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
      val corpus = batch.sparkSession.read.parquet(corpusDir)
        .select("doc_id", "text")
      view = TextOps.bm25(corpus, query, k = 5)
        .as[(Long, Double)].collect().toSeq
    }

    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch(maintain _)
      .start()
    val b0 = mkDocs(0 until 12, seed = 11)
    val b1 = mkDocs(12 until 25, seed = 12)
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      // mid-stream the view must already rank the partial corpus exactly
      val partial = TextOps.bm25(b0.toDF("doc_id", "text"), query, k = 5)
        .as[(Long, Double)].collect().toSeq
      assert(view == partial, s"mid-stream view diverged:\n $view\n vs $partial")
      in.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()

    val full = TextOps.bm25((b0 ++ b1).toDF("doc_id", "text"), query, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(view == full, s"final view diverged:\n $view\n vs $full")

    // at-least-once replay: re-landing the last batch must not change the
    // corpus (partition overwrite), so the recomputed view is unchanged
    maintain(b1.toDF("doc_id", "text"), 1L)
    assert(view == full, "replayed batch changed the ranking")
  }
}
