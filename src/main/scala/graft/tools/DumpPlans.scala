package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** The dev entrypoint. Each selected registry query runs once into the noop
  * sink (as in Bench), and one line reports its wall time, the Spark jobs it
  * submitted and the FileScan / ReusedExchange counts of its executed plans.
  * Those plans are written formatted to `<outDir>/<query>_<suffix>.txt` (the
  * plans/rNN evidence files; grep them for single operators).
  *
  * "Executed plans" are every SQL execution the query ran, in order: the
  * ones its registry function runs while building the DataFrame (eager
  * checkpoints, fixpoint probes — their jobs count too), then the noop
  * write. Each is taken from that execution's own QueryExecution, so an
  * adaptive plan is AQE's final plan (`isFinalPlan=true`). The DataFrame's
  * `df.queryExecution` would not do: the write runs a different
  * QueryExecution, so that plan stays the initial one.
  *
  * Queries, scale and cores are chosen as in Bench and Verify:
  * `SPARK_GRAFT_ONLY=q_a,q_b` (default: all), `SPARK_GRAFT_SF_DIR`
  * (required), `SPARK_GRAFT_CPUS`. Times are single cold runs; Bench is the timing
  * authority.
  * Usage: runMain graft.tools.DumpPlans <outDir> <suffix>
  */
object DumpPlans extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val spark = GraftSession.forMain()
    Files.createDirectories(Paths.get(outDir))
    // Both listeners sit on the listener bus's shared queue, which delivers
    // in post order: once the noop write is reported, every job the query
    // started has been counted.
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val executions = new LinkedBlockingQueue[(String, QueryExecution)]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.put((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // Registry functions write only through v1 file sources, so the one
    // v2 write is the noop sink's.
    def isNoopWrite(qe: QueryExecution) = qe.executedPlan.isInstanceOf[V2TableWriteExec]
    val only = GraftSession.onlyQueries()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        executions.clear()
        jobs.set(0)
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          def next() = Option(executions.poll(60, TimeUnit.SECONDS)).getOrElse(
            throw new IllegalStateException("the noop write's execution was never reported"))
          val ran = scala.collection.mutable.ArrayBuffer(next())
          while (!isNoopWrite(ran.last._2)) ran += next()
          val plans = ran.map(_._2.executedPlan)
          val scans = plans.map(collectWithSubqueries(_) { case s: FileSourceScanExec => s }.size).sum
          val reused = plans.map(collectWithSubqueries(_) { case r: ReusedExchangeExec => r }.size).sum
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), ran.map {
            case (funcName, qe) => s"== $funcName ==\n${qe.explainString(FormattedMode)}"
          }.mkString("\n"))
          println(f"[plans] $name%-28s $secs%7.3f s  jobs=${jobs.get}%-4d " +
            s"executions=${ran.size} scans=$scans reused=$reused")
        } catch { case NonFatal(e) =>
          println(s"[plans] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        GraftSession.releaseMaterialized(spark)
      }
    spark.stop()
  }
}
