package graft.streaming

import graft.operators.NomadEventOps._
import graft.sources.NdjsonBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference daemon's dataflow (SURVEY.md §3.2) as one declarative
  * transform chain over a stream (or batch) of raw NDJSON lines:
  *
  * decode → heartbeat split → stale-index filter → topic filter → explode
  * events → project allocation → explode TaskStates map → proxy anti-filter →
  * key build → explode task events → dedup → deny/allow → classify → format →
  * payloads.
  *
  * Every stage is a built-in expression. One step runs interpreted: the
  * `Generate` that parses each line (`from_json` has no generated code),
  * which ends the source's codegen span. Everything after it, up to the
  * stateful dedup's `flatMapGroupsWithState`, is one stateless
  * whole-stage-codegen span.
  *
  * The proxy anti-filter pattern and the namespace that task identifiers
  * omit are the reference's constants (app.rb:139-144), not settings.
  */
final case class PipelineConfig(
    startingIndex: Long,
    denylist: Seq[String] = Nil,
    allowlist: Seq[String] = Nil)

object NomadPipeline {

  private val TaskNameAntiPattern = "connect-proxy"
  private val DefaultNamespace = "default"

  /** Boot sequence (app.rb:63-70): discover the starting index from the
    * agent's raft stats; the reference exits with an operator hint when the
    * agent doesn't expose them — surfaced here as an exception instead of a
    * silent 0 (which would replay the whole event window). */
  def configFromAgent(api: graft.sources.NomadConfig,
                      base: PipelineConfig = PipelineConfig(startingIndex = 0)): PipelineConfig = {
    val idx = graft.sources.NomadApi.initialIndex(api).getOrElse(
      throw new IllegalStateException(
        "agent /v1/agent/self exposes no stats.raft.last_log_index (app.rb:66-69)"))
    base.copy(startingIndex = idx)
  }

  /** Raw lines (`value` string column) → parsed frames. Malformed lines are
    * dropped (lib/ndjson.rb:31-33) — PERMISSIVE `from_json` parses them to
    * all-null structs, indistinguishable from the `{}` heartbeat, so a
    * corrupt-record column marks them explicitly.
    *
    * Each line is parsed once: the parse sits behind a one-element explode,
    * a `Generate` the optimizer cannot push the corrupt-record filter below.
    * A plain projection would be inlined into that filter and into each
    * later field access, one `from_json` call per copy. */
  def decode(lines: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schemaWithCorrupt = StructType(NomadSchemas.frame.fields :+
      StructField("_corrupt", StringType))
    lines
      .select(col("*"), explode(array(from_json(col("value"), schemaWithCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))).as("frame"))
      .where(col("frame").isNotNull && col("frame._corrupt").isNull)
      .withColumn("frame", col("frame").dropFields("_corrupt"))
  }

  /** Heartbeat frames: `{}` → both fields null (app.rb:110-117). */
  def heartbeats(frames: DataFrame): DataFrame =
    frames.where(col("frame.Index").isNull)

  /** Frame → one row per (allocation, task, task event), with the derived
    * task identifier — the F2→P4 segment of the reference loop. */
  def taskEvents(frames: DataFrame, cfg: PipelineConfig): DataFrame = {
    val data = frames.where(col("frame.Index").isNotNull)
    staleIndexFilter(data, col("frame.Index"), lit(cfg.startingIndex))
      .select(col("frame.Index").as("frame_index"), explode(col("frame.Events")).as("ev"))
      .transform(df => topicFilter(df, col("ev.Topic"), "Allocation"))
      .select(col("frame_index"),
        col("ev.Payload.Allocation.Namespace").as("namespace"),
        col("ev.Payload.Allocation.NodeName").as("node_name"),
        col("ev.Payload.Allocation.JobID").as("job_id"),
        col("ev.Payload.Allocation.TaskStates").as("task_states"))
      .where(col("task_states").isNotNull)                       // F4 null guard
      .select(col("frame_index"), col("namespace"), col("node_name"), col("job_id"),
        explode(col("task_states")).as(Seq("task_id", "task_state")))
      .transform(df => regexAntiFilter(df, col("task_id"), TaskNameAntiPattern))
      .withColumn("task_identifier",
        taskIdentifier(col("namespace"), DefaultNamespace, col("job_id"), col("task_id")))
      .select(col("frame_index"), col("namespace"), col("node_name"), col("job_id"),
        col("task_id"), col("task_identifier"),
        explode(col("task_state.Events")).as("te"))
      .select(col("frame_index"), col("namespace"), col("node_name"), col("job_id"),
        col("task_id"), col("task_identifier"),
        col("te.Type").as("event_type"),
        col("te.Time").as("event_time"),
        col("te.DisplayMessage").as("display_message"),
        col("te.Details").as("details"))
  }

  /** Post-dedup tail of the pipeline: deny/allow cascade, classification,
    * formatting, and sink payloads (D3-D8). Works on the [[taskEvents]]
    * shape. */
  def notifications(events: DataFrame, cfg: PipelineConfig): DataFrame = {
    val filtered = denyAllowFilter(events, col("event_type"), cfg.denylist, cfg.allowlist)
    // Deterministic key order for the JSON encoding (SURVEY §7.4.3).
    val detailsSorted = map_from_entries(array_sort(map_entries(coalesce(col("details"), map()))))
    filtered
      .withColumn("state",
        classifyState(col("event_type"), "Restart Signaled", "Terminated",
          coalesce(element_at(col("details"), "restart_reason"), lit("")),
          coalesce(element_at(col("details"), "oom_killed"), lit("")),
          coalesce(element_at(col("details"), "exit_code"), lit(""))))
      .withColumn("subject",
        subject(col("task_identifier"), col("event_type"), col("node_name")))
      .withColumn("details_json", detailsJson(detailsSorted))
      .withColumn("description",
        fencedDescription(coalesce(col("display_message"), lit("")), col("details_json")))
      .drop("details_json")
      .withColumn("discord_payload",
        discordPayload(col("subject"), col("description"), discordColor(col("state"))))
      .withColumn("slack_subject", slackMarkdown(col("subject")))
      .withColumn("slack_color", slackColor(col("state")))
      .withColumn("slack_payload",
        slackPayload(col("slack_subject"), col("description"), col("slack_color")))
  }

  /** Batch replay of captured NDJSON stream files (the reference ships such
    * a capture as a fixture, reference spec/fixtures/nomad/stream_a_1.txt):
    * read as text lines, keep the ones the live stream keeps
    * ([[NdjsonBuffer.isValidJson]] — `from_json` alone would accept a line
    * with trailing text after its first JSON value), then the same decode
    * path. */
  def readNdjsonFiles(spark: SparkSession, path: String): DataFrame = {
    val wholeJsonValue = udf(NdjsonBuffer.isValidJson _)
    decode(spark.read.text(path).where(wholeJsonValue(col("value"))))
  }

  /** Full streaming query: raw-line stream → deduped, classified
    * notifications. Stateful dedup keyed by task identifier with the
    * reference's batch-snapshot semantics ([[HighWatermarkDedup]]). */
  def stream(spark: SparkSession, lines: DataFrame, cfg: PipelineConfig,
             initialWatermarkNs: Long): DataFrame = {
    val deduped = HighWatermarkDedup(taskEvents(decode(lines), cfg), initialWatermarkNs)
    notifications(deduped, cfg)
  }
}
