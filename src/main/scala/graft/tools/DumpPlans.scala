package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool: write `.explain("formatted")` for named queries to files —
  * the plans/r14/<query>_{before,after}.txt evidence artifacts.
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <suffix> <q1,q2,...|all>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qlist) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (qlist == "all") SparkEntry.queries.keys.toSeq.sorted
      else qlist.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // queryExecution.explainString gives the formatted plan without
        // executing; AQE finalization would need a run, so this captures the
        // static physical plan (Exchange count, join strategy, PushedFilters).
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plans] wrote ${name}_$suffix.txt (${txt.length} chars)")
      } catch { case NonFatal(e) =>
        println(s"[plans] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      GraftSession.releaseMaterialized(spark)
    }
    spark.stop()
  }
}
