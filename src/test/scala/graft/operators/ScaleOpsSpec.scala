package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The scale techniques must actually change the plan, not just the API:
  * salted joins return exactly the unsalted result, and the optimizer's
  * runtime bloom filter prunes a selective join's probe side.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("salted join returns exactly the unsalted join result") {
    val big = (0 until 2000).map(i => (if (i % 10 == 0) 1L else i.toLong % 50, i.toLong))
      .toDF("k", "payload") // key 1 is hot
    val small = (0 until 50).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = big.join(small, "k").select("k", "payload", "name")
      .as[(Long, Long, String)].collect().toSet
    val salted = ScaleOps.saltedJoin(big, small, "k", saltFactor = 8)
      .select("k", "payload", "name")
      .as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("schema evolution: mergeSchema unifies batches written with added columns") {
    val path = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(path)
    Seq((3L, "c", 9.5), (4L, "d", 7.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = merged.select("id", "v", "score").as[(Long, String, Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(9.5)), (4L, "d", Some(7.5))))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB the optimizer injects a bloom filter built from the
    // selective (filtered) side into the big side's scan, cutting shuffle
    // input before the join. The size thresholds that gate the rewrite are
    // lowered so the sf0.001 tables qualify; the rewrite itself is what we
    // pin here.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
    try {
      val t = Tables(spark, dir)
      val q = t.lineitem.join(
        t.orders.where(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
