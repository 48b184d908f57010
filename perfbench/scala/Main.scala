package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry: `Main <spec.json> <out.json>`. The spec (written
  * by run.py) names the workload kind, its generated inputs and whether
  * this is the traced run; the output holds the raw timings that run.py
  * turns into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val clock = new Clock
    val liveHeap = new LiveHeap
    val spec = Json.mapper.readTree(new java.io.File(args(0)))
    val traced = spec.get("trace").asBoolean
    val cores = spec.get("cores").asInt
    val workDir = spec.get("work_dir").asText
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = clock.now
    val trace = if (traced) Some(new SparkTrace(spark, clock)) else None
    var ready = -1.0
    val result = spec.get("kind").asText match {
      case "stream" => StreamWorkload.run(spark, spec, clock, traced, cores, workDir)
      case "batch" => BatchWorkload.run(spark, spec, clock, () => ready = clock.now)
    }
    val out = Json.obj(
      "wall0_ms" -> clock.wall0Ms,
      "session_ready" -> sessionReady,
      "ready" -> (if (ready >= 0) ready else result.get("first_post")),
      "result" -> result,
      "trace" -> trace.map(_.toJson).orNull,
      "vm_hwm_kb" -> vmHwmKb,
      "live_heap_peak_bytes" -> liveHeap.peak)
    Json.write(args(1), out)
    spark.stop()
    sys.exit(0)
  }

  private def vmHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }
}

/** Largest heap occupancy left after any collection: the live set. */
final class LiveHeap {
  @volatile var peak = 0L
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}
