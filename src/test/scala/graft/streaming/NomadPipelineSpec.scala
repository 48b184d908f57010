package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batch-mode pipeline semantics against hand-built Nomad frames, including
  * the reference README's two end-to-end scenarios as classification goldens
  * (reference README.md:33-83, FIXTURES.md §A.3): oom-killed → failure,
  * exit-zero → success, and the null-state default for lifecycle events.
  */
class NomadPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def frame(index: Long, ns: String, job: String, node: String,
                    tasks: (String, Seq[(String, Long, Map[String, String])])*): String = {
    val taskStates = tasks.map { case (taskId, evs) =>
      val events = evs.map { case (typ, time, details) =>
        val d = details.map { case (k, v) => s""""$k":"${v.replace("\"", "\\\"")}"""" }.mkString(",")
        s"""{"Type":"$typ","Time":$time,"DisplayMessage":"$typ msg","Details":{$d}}"""
      }.mkString(",")
      s""""$taskId":{"State":"running","Events":[$events]}"""
    }.mkString(",")
    s"""{"Index":$index,"Events":[{"Topic":"Allocation","Type":"AllocationUpdated","Key":"k",""" +
      s""""Namespace":"$ns","Index":$index,"Payload":{"Allocation":{"ID":"a1","Namespace":"$ns",""" +
      s""""NodeName":"$node","JobID":"$job","TaskStates":{$taskStates}}}}]}"""
  }

  private val cfg = PipelineConfig(startingIndex = 100)

  private def run(lines: Seq[String], c: PipelineConfig = cfg) = {
    val df = NomadPipeline.taskEvents(NomadPipeline.decode(lines.toDF("value")), c)
    NomadPipeline.notifications(df, c)
  }

  test("oom-killed golden: Terminated with oom_killed=true classifies failure") {
    val out = run(Seq(frame(200, "default", "oom-killed", "n1",
      "app" -> Seq(("Terminated", 1000L, Map("oom_killed" -> "true", "exit_code" -> "137"))))))
      .select("task_identifier", "state").as[(String, String)].collect()
    assert(out.toSeq == Seq(("oom-killed.app", "failure")))
  }

  test("exit-zero golden: Terminated with exit_code=0 classifies success") {
    val out = run(Seq(frame(200, "default", "exit-zero", "n1",
      "app" -> Seq(("Terminated", 1000L, Map("exit_code" -> "0", "oom_killed" -> "false"))))))
      .select("state").as[String].collect()
    assert(out.toSeq == Seq("success"))
  }

  test("lifecycle events classify to null state, not success (app.rb:195-209)") {
    val out = run(Seq(frame(200, "default", "j", "n1",
      "app" -> Seq(("Received", 1L, Map.empty), ("Started", 2L, Map.empty)))))
      .select("event_type", "state").collect()
    assert(out.length == 2 && out.forall(_.isNullAt(1)))
  }

  test("Restart Signaled: unhealthy restart_reason → failure, else success") {
    val out = run(Seq(frame(200, "default", "j", "n1",
      "app" -> Seq(
        ("Restart Signaled", 1L, Map("restart_reason" -> "Restart within policy (unhealthy)")),
        ("Restart Signaled", 2L, Map("restart_reason" -> "operator request"))))))
      .select("event_time", "state").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "failure"), (2L, "success")))
  }

  test("non-default namespace prefixes the task identifier (app.rb:143-144)") {
    val out = run(Seq(frame(200, "prod", "api", "n1",
      "web" -> Seq(("Started", 1L, Map.empty)))))
      .select("task_identifier").as[String].collect()
    assert(out.toSeq == Seq("prod/api.web"))
  }

  test("connect-proxy tasks are dropped by substring regex (app.rb:139-141)") {
    val out = run(Seq(frame(200, "default", "j", "n1",
      "connect-proxy-web" -> Seq(("Started", 1L, Map.empty)),
      "web" -> Seq(("Started", 1L, Map.empty)))))
      .select("task_id").as[String].collect()
    assert(out.toSeq == Seq("web"))
  }

  test("stale frames and non-Allocation topics are dropped") {
    val stale = frame(50, "default", "j", "n1", "t" -> Seq(("Started", 1L, Map.empty)))
    val otherTopic = """{"Index":300,"Events":[{"Topic":"Node","Type":"x","Key":"k","Namespace":"default","Index":300,"Payload":{}}]}"""
    assert(run(Seq(stale, otherTopic)).count() == 0)
  }

  test("heartbeat frames split out; malformed lines dropped") {
    val data = frame(200, "default", "j", "n1", "t" -> Seq(("Started", 1L, Map.empty)))
    // PERMISSIVE `from_json` against the frame schema: a line survives iff it
    // is a JSON object whose read fields all convert (string fields take any
    // token as text); anything else is corrupt or null and dropped
    val lines = Seq(
      "{}",
      "not json at all {",
      data,
      "[1,2]",
      "5",
      "null",
      "\"s\"",
      """{"Index":"x","Events":[]}""",                          // mismatch, read field
      """{"Index":9,"Events":[{"Topic":"Node","Index":"x"}]}""", // mismatch, unread field: kept
      """[{"Index":6,"Events":[]}]""",                          // an array of frames
      """{"Index":8}""",
      """{"Events":null}""",
      """{"Index":5,"Events":[{"Topic":1}]}""")                 // numeric Topic
    val frames = NomadPipeline.decode(lines.toDF("value"))
    val kept = frames.select(col("value"), to_json(col("frame"))).as[(String, String)].collect()
    assert(kept.map(_._1).toSeq == Seq("{}", data,
      """{"Index":9,"Events":[{"Topic":"Node","Index":"x"}]}""", """{"Index":8}""",
      """{"Events":null}""", """{"Index":5,"Events":[{"Topic":1}]}"""))
    assert(kept.filter(_._1 != data).map(_._2).toSeq ==
      Seq("{}", """{"Index":9,"Events":[{"Topic":"Node"}]}""", """{"Index":8}""", "{}",
        """{"Index":5,"Events":[{"Topic":"1"}]}"""))
    assert(frames.schema("frame").dataType == NomadSchemas.frame)
    assert(NomadPipeline.heartbeats(frames).count() == 2) // `{}` and `{"Events":null}`
    assert(frames.count() == 6) // heartbeats + data; malformed dropped
  }

  test("decode parses each line once") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    // not a local relation: the optimizer would evaluate that one eagerly
    val lines = spark.range(1).select(col("id").cast("string").as("value"))
    val plan = NomadPipeline.taskEvents(NomadPipeline.decode(lines), cfg)
      .queryExecution.optimizedPlan
    val parses = plan.flatMap(node =>
      node.expressions.flatMap(_.collect { case _: JsonToStructs => node.nodeName }))
    assert(parses.size == 1,
      s"${parses.size} from_json calls in the optimized plan, in: ${parses.mkString(", ")}")
  }

  test("a wrong-typed field the notifier never reads keeps its frame's notification") {
    def patched(job: String, from: String, to: String): String = {
      val line = frame(200, "default", job, "n1",
        "t" -> Seq(("Terminated", 1L, Map("exit_code" -> "137"))))
      assert(line.contains(from))
      line.replace(from, to)
    }
    val terminated = "\"Type\":\"Terminated\","
    val lines = Seq(
      patched("fails-task", terminated, terminated + "\"FailsTask\":\"yes\","),
      patched("exit-code", terminated, terminated + "\"ExitCode\":\"137\","),
      patched("restarts", "{\"State\":\"running\",", "{\"State\":\"running\",\"Restarts\":\"2\","),
      patched("event-index", "\"Index\":200,\"Payload\"", "\"Index\":\"x\",\"Payload\""))
    val out = run(lines).select("task_identifier", "state").as[(String, String)].collect()
    assert(out.sorted.toSeq == Seq("event-index", "exit-code", "fails-task", "restarts")
      .map(j => (s"$j.t", "failure")))
  }

  test("the stream plan parses, keys and formats only what the notifier reads") {
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, JsonToStructs}
    import org.apache.spark.sql.catalyst.plans.logical.AppendColumns
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}
    // not a local relation: the optimizer would evaluate that one eagerly
    val lines = spark.range(1).select(col("id").cast("string").as("value"))
    val plan = NomadPipeline.stream(spark, lines, cfg, initialWatermarkNs = 0L)
      .queryExecution.optimizedPlan
    // the dedup keys on the task_identifier column: no per-row Row
    // conversion before its shuffle
    assert(plan.collect { case a: AppendColumns => a }.isEmpty, plan.treeString)
    // the details JSON is built once per event
    val sorts = plan.flatMap(_.expressions.flatMap(_.collect { case a: ArraySort => a }))
    assert(sorts.size == 1, plan.treeString)
    def structFields(t: DataType): Int = t match {
      case s: StructType => s.fields.map(f => 1 + structFields(f.dataType)).sum
      case a: ArrayType => structFields(a.elementType)
      case m: MapType => structFields(m.keyType) + structFields(m.valueType)
      case _ => 0
    }
    val Seq(parseSchema) =
      plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j.schema }))
    assert(parseSchema == StructType(NomadSchemas.frame.fields :+ StructField("_corrupt", StringType)))
    assert(structFields(NomadSchemas.frame) == 14)
  }

  test("deny-then-allow precedence: denylist wins for a type in both lists") {
    val c = cfg.copy(denylist = Seq("Killing"), allowlist = Seq("Killing", "Started"))
    val out = run(Seq(frame(200, "default", "j", "n1",
      "t" -> Seq(("Killing", 1L, Map.empty), ("Started", 2L, Map.empty), ("Received", 3L, Map.empty)))), c)
      .select("event_type").as[String].collect()
    assert(out.toSeq == Seq("Started"))
  }

  test("details are quote-swapped, key-sorted, fenced into the description") {
    val out = run(Seq(frame(200, "default", "j", "n1",
      "t" -> Seq(("Terminated", 1L, Map("exit_message" -> """said "bye"""", "exit_code" -> "0"))))))
      .select("description").as[String].collect().head
    // one leading newline, no newlines inside the fences (app.rb:192)
    assert(out ==
      "Terminated msg\n```{\"exit_code\":\"0\",\"exit_message\":\"said 'bye'\"}```")
  }

  test("slack payload is valid JSON with escaped quotes/newlines, colour conditional") {
    val out = run(Seq(frame(200, "default", "j", "n1",
      "t" -> Seq(("Terminated", 1L, Map("exit_message" -> """said "bye"""", "exit_code" -> "0")),
                 ("Received", 2L, Map.empty)))))
      .select("event_type", "slack_payload").as[(String, String)].collect().toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the description embeds a newline and a quote-bearing details JSON —
    // the payload must still parse (the raw-interpolation bug would not)
    val terminated = mapper.readTree(out("Terminated"))
    val att = terminated.get("attachments").get(0)
    assert(att.get("mrkdwn_in").get(0).asText() == "text")
    assert(att.get("text").asText() ==
      "Terminated msg\n```{\"exit_code\":\"0\",\"exit_message\":\"said 'bye'\"}```")
    assert(att.get("pretext").asText() == "*j.t* task is *Terminated* on *n1* node")
    assert(att.get("color").asText() == "#2ecc71")
    val received = mapper.readTree(out("Received"))
    assert(!received.get("attachments").get(0).has("color"))
  }

  test("discord payload embeds colour only when state is classified") {
    val out = run(Seq(frame(200, "default", "j", "n1",
      "t" -> Seq(("Terminated", 1L, Map("exit_code" -> "0")), ("Received", 2L, Map.empty)))))
      .select("event_type", "discord_payload").as[(String, String)].collect().toMap
    assert(out("Terminated").contains("\"color\":3066993"))
    assert(!out("Received").contains("\"color\""))
  }
}
