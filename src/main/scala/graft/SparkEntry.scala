package graft

import graft.operators.NomadEventOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query providers live in graft.queries.*; each exposes a
  * `Map[String, Tables => DataFrame]` plus a DuckDB oracle map. This object
  * concatenates them into the driver's `(SparkSession, sfDir)` shape.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference pipeline end-to-end in batch form (SURVEY §7.2.1): decode
    * JSON props → stale-index filter → keyed high-watermark dedup → deny/allow
    * cascade → classify → format + payload assembly.
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val kSchema = StructType(Seq(StructField("k", LongType)))
    val decoded = t.events
      .withColumn("k", from_json(col("props"), kSchema).getField("k"))
      .where(col("k").isNotNull)                                   // S3 malformed-drop
      .where(col("event_id") > 0)                                  // F2 stale filter
    val deduped = dedupHighWatermark(decoded, col("user_id"), col("ts"))  // ST1
    val filtered = denyAllowFilter(deduped, col("event_type"),
      deny = Seq("view"), allow = Nil)                             // F6/F7
    val enriched = filtered
      .withColumn("exit_code", (col("k") % 3).cast("string"))
      .withColumn("oom_killed", when(col("value") > 95, "true").otherwise("false"))
      .withColumn("restart_reason", when(col("k") % 2 === 1, "unhealthy").otherwise("ok"))
      .withColumn("task_identifier",
        taskIdentifier(col("event_type"), "view",
          col("user_id").cast("string"), col("event_id").cast("string")))
      .withColumn("state",
        classifyState(col("event_type"), "signup", "purchase",
          col("restart_reason"), col("oom_killed"), col("exit_code")))
    enriched.select(
      col("event_id"), col("task_identifier"), col("state"),
      subject(col("task_identifier"), col("event_type"),
        concat(lit("node-"), (col("user_id") % 10).cast("string"))).as("subject"),
      discordPayload(
        concat(lit("event "), col("event_id").cast("string")),
        col("task_identifier"),
        discordColor(col("state"))).as("payload"))
  }

  private val providers: Seq[(Map[String, Tables => DataFrame], Map[String, String])] = Seq(
    (graft.queries.EventQueries.queries, graft.queries.EventQueries.oracles),
    (graft.queries.RelationalQueries.queries, graft.queries.RelationalQueries.oracles),
    (graft.queries.TextQueries.queries, graft.queries.TextQueries.oracles),
    (graft.queries.SimilarityQueries.queries, graft.queries.SimilarityQueries.oracles),
    (graft.queries.FunctionQueries.queries, graft.queries.FunctionQueries.oracles),
    (graft.queries.PipelineQueries.queries, graft.queries.PipelineQueries.oracles),
    (graft.queries.AnalyticsQueries.queries, graft.queries.AnalyticsQueries.oracles)
  )

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Execution contract: queries are run SEQUENTIALLY within a session
    * (Verify, Bench, DumpPlans all iterate one at a time). No entry changes
    * a session conf; only the SQL-surface entries register temp views
    * (SparkEntrySpec pins both). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    providers.flatMap(_._1).map { case (name, f) =>
      name -> ((s: SparkSession, dir: String) => f(Tables(s, dir)))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = providers.flatMap(_._2).toMap
}
