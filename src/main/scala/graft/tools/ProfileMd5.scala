package graft.tools

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Dev microbench: size the md5-uniform chain's cost — the
  * conv(substring(md5(s),1,8),16,10) pattern is the per-row hot path of
  * bootstrapCi (×b per row), the DOULION coin, hashed features and the
  * sampling family. Times, over the same synthetic rows (noop sink):
  *   a) baseline projection (row generation cost)
  *   b) md5 hex only
  *   c) full conv(substring(md5)) chain
  *   d) native md5_u32 (if registered)
  */
object ProfileMd5 {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(32L * 1000 * 1000)
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      // two runs, min — absorb codegen/JIT like Bench does
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-28s ${ts.min}%6.2f s (runs: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }
    val base = spark.range(n).select(
      concat(col("id").cast("string"), lit(":"), (col("id") % 64).cast("string")).as("s"))
    time("baseline concat only") { base }
    time("md5 hex") { base.select(md5(col("s")).as("h")) }
    time("conv(substring(md5))") {
      base.select(conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("u")) }
    try time("md5_u32 native") { base.select(call_function("md5_u32", col("s")).as("u")) }
    catch { case NonFatal(e) => println(s"md5_u32 not registered: ${e.getMessage}") }
    spark.stop()
  }
}
