package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** A fixed set of registry queries (`SparkEntry.queries`), one pass per
  * seed-permuted order in the spec. The first pass writes every result to
  * parquet for the oracle check; the untimed warm-up passes and the
  * measured passes write to the noop sink, like `graft.Bench`. */
object BatchWorkload {

  def run(spark: SparkSession, spec: JsonNode, clock: Clock,
          ready: () => Unit): java.util.Map[String, Any] = {
    val sfDir = spec.get("sf_dir").asText
    val checkDir = spec.get("check_dir").asText
    val orders = spec.get("orders").elements().asScala.map(_.elements().asScala.map(_.asText).toSeq).toSeq
    val registry = SparkEntry.queries
    val errors = new java.util.LinkedHashMap[String, String]()

    val checked = new java.util.ArrayList[java.util.Map[String, Any]]()
    orders.head.foreach { name =>
      val t0 = clock.now
      try registry(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
      catch { case e: Exception => errors.put(name, e.toString.take(500)) }
      GraftSession.releaseMaterialized(spark)
      checked.add(Json.obj("query" -> name, "start" -> t0, "end" -> clock.now))
    }
    ready()

    // Untimed noop passes until the JIT has compiled the hot paths: the
    // checked pass alone leaves the first measured passes visibly slower.
    val warmupPasses = spec.get("warmup_passes").asInt
    val warmup = new java.util.ArrayList[java.util.Map[String, Any]]()
    val samples = new java.util.ArrayList[java.util.Map[String, Any]]()
    val passes = new java.util.ArrayList[java.util.Map[String, Any]]()
    def pass(p: Int, into: java.util.ArrayList[java.util.Map[String, Any]]): Unit = {
      val passT0 = clock.now
      orders(p).foreach { name =>
        val t0 = clock.now
        var ok = true
        var t1 = t0
        try {
          val df = registry(name)(spark, sfDir)
          t1 = clock.now
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Exception => ok = false; errors.put(name, e.toString.take(500)) }
        val t2 = clock.now
        GraftSession.releaseMaterialized(spark)
        into.add(Json.obj("pass" -> p, "query" -> name, "start" -> t0, "built" -> t1,
          "end" -> t2, "ok" -> ok))
      }
      if (into eq samples) passes.add(Json.obj("pass" -> p, "start" -> passT0, "end" -> clock.now))
    }
    (1 to warmupPasses).foreach(pass(_, warmup))
    val measureStart = clock.now
    (warmupPasses + 1 until orders.size).foreach(pass(_, samples))
    Json.obj(
      "measure_start" -> measureStart,
      "measure_end" -> clock.now,
      "checked" -> checked,
      "warmup" -> warmup,
      "samples" -> samples,
      "passes" -> passes,
      "errors" -> errors,
      "oracle_sql" -> orders.head.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap.asJava)
  }
}
