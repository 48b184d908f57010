package graft.streaming

import graft.SparkSpec
import graft.operators.SimilarityOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Continuous IVF-PQ index maintenance: coding new vectors against the
  * corpus-fitted quantizers is a stateless narrow map, so the identical
  * plan runs over a stream and every ingested vector lands in the same
  * inverted-list cell with the same code word the batch build assigns.
  */
case class VecRow(vec_id: Long, embedding: Array[Float])

class StreamingPqIngestSpec extends SparkSpec {
  import spark.implicits._

  test("streamed vectors get the batch build's exact cell and code word") {
    val rnd = new scala.util.Random(9)
    val rows = (0 until 200).map(i => VecRow(i.toLong, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val emb = rows.toDF()
    val (centroids, books) = SimilarityOps.fitIvfPq(emb, nCentroids = 8, nSub = 4,
      nPqCentroids = 8, kmeansIters = 2)
    val batch = SimilarityOps.ivfPqCode(emb, centroids, books)
      .as[(Long, Int, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val input = MemoryStream[VecRow](spark)
    val coded = SimilarityOps.ivfPqCode(input.toDS().toDF(), centroids, books)
    val ckpt = java.nio.file.Files.createTempDirectory("pq-ingest-ckpt").toString
    val q = coded.writeStream.format("memory").queryName("pq_ingest")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData(rows.take(120): _*)
      q.processAllAvailable()
      input.addData(rows.drop(120): _*)
      q.processAllAvailable()
      val stream = spark.table("pq_ingest").as[(Long, Int, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(stream.size == 200)
      assert(stream == batch,
        s"ingest diverged from batch build: ${stream.toSet diff batch.toSet}")
    } finally q.stop()
  }
}
