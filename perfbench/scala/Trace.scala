package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One clock for the whole run: seconds since the harness started, from
  * `System.nanoTime`. Spark's listener events carry wall-clock millis, which
  * [[fromWallMs]] maps onto the same axis. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def fromWallMs(ms: Long): Double = (ms - wall0) / 1e3
  val wall0Ms: Long = wall0
}

/** Spark's public listener APIs, recording the per-layer raw data of the
  * traced run: jobs, stages and task metrics (`SparkListener`), planning
  * phases (`QueryExecutionListener`) and micro-batch progress
  * (`StreamingQueryListener`). Nothing here runs in the untraced run. */
final class SparkTrace(spark: SparkSession, clock: Clock) {
  private val jobs = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()
  // per stage attempt: task durations and summed metrics
  private final class StageAcc {
    val durations = scala.collection.mutable.ArrayBuffer.empty[Double]
    var firstLaunch = Double.MaxValue
    var runS, cpuS, gcS = 0.0
    var shuffleWrite, spill = 0L
  }
  private val accs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (clock.fromWallMs(e.time), e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, stageIds) = Option(jobStart.remove(e.jobId)).getOrElse((clock.fromWallMs(e.time), Nil))
      jobs.add(Json.obj("id" -> e.jobId, "start" -> start, "end" -> clock.fromWallMs(e.time),
        "stages" -> stageIds.asJava))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = accs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      val m = e.taskMetrics
      acc.synchronized {
        acc.durations += e.taskInfo.duration / 1e3
        acc.firstLaunch = math.min(acc.firstLaunch, clock.fromWallMs(e.taskInfo.launchTime))
        if (m != null) {
          acc.runS += m.executorRunTime / 1e3
          acc.cpuS += m.executorCpuTime / 1e9
          acc.gcS += m.jvmGCTime / 1e3
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val acc = Option(accs.remove((info.stageId, info.attemptNumber()))).getOrElse(new StageAcc)
      acc.synchronized {
        stages.add(Json.obj(
          "id" -> info.stageId,
          "submit" -> info.submissionTime.map(clock.fromWallMs).getOrElse(-1.0),
          "end" -> info.completionTime.map(clock.fromWallMs).getOrElse(-1.0),
          "first_launch" -> (if (acc.firstLaunch == Double.MaxValue) -1.0 else acc.firstLaunch),
          "tasks" -> acc.durations.size,
          "task_s" -> acc.durations.map(Double.box).asJava,
          "run_s" -> acc.runS, "cpu_s" -> acc.cpuS, "gc_s" -> acc.gcS,
          "shuffle_write_bytes" -> acc.shuffleWrite, "spill_bytes" -> acc.spill))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(s => s.durationMs / 1e3).getOrElse(0.0)
      plans.add(Json.obj("t" -> clock.now, "analysis_s" -> ms("analysis"),
        "optimization_s" -> ms("optimization"), "planning_s" -> ms("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def toJson: java.util.Map[String, Any] = {
    // the listener bus is asynchronous: let it drain before reading
    var last = -1
    val deadline = System.nanoTime() + 5000000000L
    while ((jobs.size + stages.size + plans.size != last || !jobStart.isEmpty) &&
      System.nanoTime() < deadline) {
      last = jobs.size + stages.size + plans.size
      Thread.sleep(200)
    }
    Json.obj("jobs" -> new java.util.ArrayList(jobs), "stages" -> new java.util.ArrayList(stages),
      "plans" -> new java.util.ArrayList(plans),
      "progress" -> progress.asScala.toSeq.asJava)
  }
}

/** Small helpers over Jackson's untyped tree model. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
}
