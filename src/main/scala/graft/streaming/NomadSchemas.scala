package graft.streaming

import org.apache.spark.sql.types._

/** Explicit Spark schemas for the Nomad event-stream payload: exactly the 14
  * fields [[NomadPipeline.taskEvents]] reads (FIXTURES.md §A.1; access sites
  * reference app.rb:119-209). `from_json` in PERMISSIVE mode ignores every
  * other field of Nomad's (much larger) allocation payload, so an unread
  * field of an unexpected JSON type never drops its frame, as the
  * reference's untyped `Hash#dig` never does.
  */
object NomadSchemas {

  val taskEvent: StructType = StructType(Seq(
    StructField("Type", StringType),
    StructField("Time", LongType),               // int64 epoch NANOseconds (app.rb:154)
    StructField("DisplayMessage", StringType),
    StructField("Details", MapType(StringType, StringType))))

  val taskState: StructType = StructType(Seq(
    StructField("Events", ArrayType(taskEvent))))

  val allocation: StructType = StructType(Seq(
    StructField("Namespace", StringType),
    StructField("NodeName", StringType),
    StructField("JobID", StringType),
    StructField("TaskStates", MapType(StringType, taskState))))

  val streamEvent: StructType = StructType(Seq(
    StructField("Topic", StringType),
    StructField("Payload", StructType(Seq(
      StructField("Allocation", allocation))))))

  /** One NDJSON frame: heartbeat `{}` parses to all-null fields. */
  val frame: StructType = StructType(Seq(
    StructField("Index", LongType),
    StructField("Events", ArrayType(streamEvent))))
}
