package graft.streaming

import org.apache.spark.sql.DataFrame

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** K1/K2 — webhook delivery sinks (reference app.rb:213-265). The reference
  * POSTs synchronously per event and never checks the response
  * (at-least-once within a run); here delivery happens inside
  * `foreachBatch`, distributed over the batch's partitions, preserving the
  * fire-and-forget contract per row. Both destinations can fire for one
  * event (fan-out, app.rb:211-267).
  *
  * Use:
  * {{{
  *   notifications.writeStream.foreachBatch(
  *     WebhookSink.deliver(discordUrl = Some(url1), slackUrl = Some(url2)) _)
  * }}}
  */
object WebhookSink {

  /** POST a JSON document; returns the status code, -1 on connection error
    * (delivery latency no longer backpressures ingestion — unlike the
    * reference's synchronous loop, app.rb:229). */
  def post(url: String, json: String): Int =
    try {
      val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(10000)
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      conn.getOutputStream.write(bytes)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      conn.disconnect()
      code
    } catch { case _: Exception => -1 }

  /** POST with bounded exponential backoff: retries connection errors and
    * 5xx up to `maxRetries` times (the scale-grade variant of the
    * reference's unchecked fire-and-forget — transient webhook hiccups stop
    * dropping notifications, while 4xx still fails fast as non-retryable).
    * Returns the final status code.
    *
    * Delivery guarantee on the retry path is **at-least-once**: a 5xx
    * returned after the server already processed the POST is retried, so
    * receivers must tolerate duplicate notifications. `maxRetries = 0` (the
    * [[deliver]] default) degrades to the reference's fire-and-forget
    * at-most-once. Backoff sleeps abort promptly on task cancellation —
    * `Thread.sleep` throws `InterruptedException` when Spark kills the task,
    * and we also poll `TaskContext.isInterrupted` so query stop is never
    * delayed by a full backoff ladder. */
  def postWithRetry(url: String, json: String,
                    maxRetries: Int = 3, backoffMs: Long = 100): Int = {
    def interrupted: Boolean = {
      val tc = org.apache.spark.TaskContext.get()
      tc != null && tc.isInterrupted()
    }
    var attempt = 0
    var code = post(url, json)
    while ((code == -1 || code >= 500) && attempt < maxRetries && !interrupted) {
      try Thread.sleep(backoffMs << attempt) // 100, 200, 400, ...
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt() // preserve the cancel signal
          return code
      }
      attempt += 1
      code = post(url, json)
    }
    code
  }

  /** foreachBatch function delivering each notification row to the
    * configured webhooks. Expects the [[NomadPipeline.notifications]]
    * schema — both payloads are prebuilt in-plan with `to_json` (so quotes
    * and the fenced-description newlines are JSON-escaped, app.rb:240-262),
    * never string-interpolated here. `maxRetries = 0` preserves the
    * reference's fire-and-forget contract (app.rb:229, response unchecked);
    * raise it for at-least-once delivery with backoff. */
  def deliver(discordUrl: Option[String], slackUrl: Option[String],
              maxRetries: Int = 0, backoffMs: Long = 100)
             (batch: DataFrame, batchId: Long): Unit = {
    batch.select("discord_payload", "slack_payload").foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          discordUrl.foreach(u => postWithRetry(u, r.getString(0), maxRetries, backoffMs))
          slackUrl.foreach(u => postWithRetry(u, r.getString(1), maxRetries, backoffMs))
        }
    }
  }
}
