package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.util
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer

/** DataSource V2 streaming source for the Nomad event stream (SURVEY.md §2a
  * S1/S2/S3): a long-lived chunked `GET /v1/event/stream` reassembled into
  * NDJSON frames ([[NdjsonBuffer]]), surfaced as a micro-batch stream of raw
  * JSON lines `(offset LONG, value STRING)`.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("nomad-events")
  *     .option("baseUrl", "http://nomad:4646")
  *     .option("namespace", "default")     // optional (app.rb:80-83)
  *     .option("token", "...")             // optional X-Nomad-Token
  *     .load()
  * }}}
  *
  * Design: like Spark's socket source, a driver-side poller thread owns the
  * HTTP connection and buffers completed lines; micro-batch planning slices
  * the buffer by offset range, and `commit()` trims delivered rows. Lines are
  * buffered and shipped to the executor as UTF-8 bytes, encoded once by the
  * poller, so the reader wraps them as `value` without re-encoding. This is a
  * control-plane stream (cluster events, not data volume) — downstream
  * processing is distributed, ingestion is a single ordered connection by
  * nature of the protocol.
  *
  * Restart semantics: like Spark's socket source, the stream cannot rewind —
  * lines in flight when the query died are lost (the reference restarts from
  * the live index the same way, app.rb:63-70). What checkpointing DOES
  * guarantee is forward progress without corruption: `deserializeOffset`
  * re-seeds this instance's numbering from the recovered offset, so offsets
  * never regress and fresh lines are never trimmed by a stale `commit` —
  * and downstream stateful operators (the dedup watermark) recover their
  * state exactly-once from their own checkpoint.
  *
  * JSON decode happens downstream via `from_json` in PERMISSIVE mode
  * ([[graft.streaming.NomadPipeline]]), mirroring the reference's
  * drop-malformed contract at the line level here ([[NdjsonBuffer]]).
  */
class NomadEventSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "nomad-events"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NomadEventSourceProvider.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NomadEventTable(new CaseInsensitiveStringMap(properties))
}

object NomadEventSourceProvider {
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))
}

private class NomadEventTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"nomad-events(${options.get("baseUrl")})"
  override def schema(): StructType = NomadEventSourceProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = NomadEventSourceProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new NomadMicroBatchStream(
            NomadConfig(
              baseUrl = options.get("baseUrl"),
              namespace = Option(options.get("namespace")),
              token = Option(options.get("token"))))
      }
    }
}

private[sources] case class NomadOffset(lineCount: Long) extends Offset {
  override def json(): String = lineCount.toString
}

private[sources] class NomadMicroBatchStream(cfg: NomadConfig) extends MicroBatchStream {

  // raw json lines as UTF-8; buffer(i) is absolute line `base + i`.
  // commit() drops a prefix and advances `base`.
  private val buffer = ArrayBuffer.empty[Array[Byte]]
  private var base = 0L
  private def nextLine = base + buffer.length
  private val stopped = new AtomicBoolean(false)
  @volatile private var pollerFailure: Option[Throwable] = None

  private val poller = new Thread(() => {
    val ndjson = new NdjsonBuffer
    try {
      val params = cfg.namespace.map("namespace" -> _).toMap
      val conn = NomadApi.open(cfg, "/v1/event/stream", params)
      val in = conn.getInputStream
      val chunk = new Array[Byte](64 * 1024)
      while (!stopped.get()) {
        val n = in.read(chunk) // blocking readpartial analog (app.rb:107)
        if (n < 0) { stopped.set(true) }
        else if (n > 0) {
          // bytes, not text: a multi-byte UTF-8 char split across reads must
          // survive the chunk boundary (NdjsonBuffer carries raw bytes)
          val lines = ndjson.feedBytes(chunk, n).map(_.getBytes(StandardCharsets.UTF_8))
          buffer.synchronized { buffer ++= lines }
        }
      }
    } catch {
      case _: InterruptedException => ()
      // surface connection failures to the engine instead of dying silently
      // in a daemon thread (the query would otherwise idle forever)
      case e: Exception => if (!stopped.get()) pollerFailure = Some(e)
    }
  }, "nomad-event-poller")
  poller.setDaemon(true)
  poller.start()

  override def initialOffset(): Offset = NomadOffset(0L)

  /** Restart recovery: checkpointed offsets outlive this instance, but line
    * numbering starts at 0 per connection (the HTTP stream cannot rewind —
    * like Spark's socket source, in-flight lines of the failed batch are
    * lost). Seeing a checkpointed offset ahead of our numbering means we are
    * recovering: shift the numbering so fresh lines CONTINUE the checkpointed
    * count, so `latestOffset` never regresses and `commit(checkpointedEnd)`
    * can never trim fresh, undelivered lines. */
  override def deserializeOffset(json: String): Offset = {
    val off = json.toLong
    buffer.synchronized { if (off > nextLine) base += off - nextLine }
    NomadOffset(off)
  }

  /** Every buffered line: a micro-batch takes all that arrived since the
    * previous one. */
  override def latestOffset(): Offset = {
    pollerFailure.foreach(e =>
      throw new IllegalStateException("nomad event stream poller failed", e))
    buffer.synchronized { NomadOffset(nextLine) }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[NomadOffset].lineCount
    val e = end.asInstanceOf[NomadOffset].lineCount
    buffer.synchronized {
      val from = math.max(s, base)
      val until = math.max(from, math.min(e, nextLine))
      Array(NomadInputPartition(from,
        buffer.slice((from - base).toInt, (until - base).toInt).toArray))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[NomadInputPartition]
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < p.lines.length }
        override def get(): InternalRow =
          InternalRow(p.first + i, UTF8String.fromBytes(p.lines(i)))
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[NomadOffset].lineCount
    buffer.synchronized {
      val n = math.min(math.max(e - base, 0L), buffer.length.toLong).toInt
      buffer.remove(0, n)
      base += n
    }
  }

  override def stop(): Unit = {
    stopped.set(true)
    poller.interrupt()
  }
}

/** Lines `first`, `first + 1`, … of one micro-batch, each as UTF-8. */
private[sources] case class NomadInputPartition(first: Long, lines: Array[Array[Byte]])
  extends InputPartition
