package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CopyOnWriteArrayList, CountDownLatch}

/** Full-pipeline integration: stub Nomad server → `nomad-events` DSv2 source
  * → decode → filters/explodes → stateful high-watermark dedup → classify →
  * format → webhook delivery. The streaming analog of the reference's whole
  * main loop (SURVEY §3.2), exercised end to end in one query.
  */
class StreamingE2ESpec extends SparkSpec {

  private def allocFrame(index: Long, job: String, evs: (String, Long, String)*): String = {
    val events = evs.map { case (typ, time, details) =>
      s"""{"Type":"$typ","Time":$time,"DisplayMessage":"$typ done","Details":$details}"""
    }.mkString(",")
    s"""{"Index":$index,"Events":[{"Topic":"Allocation","Type":"AllocationUpdated","Key":"k",""" +
      s""""Namespace":"default","Index":$index,"Payload":{"Allocation":{"ID":"a1","Namespace":"default",""" +
      s""""NodeName":"worker-1","JobID":"$job","TaskStates":{"main":{"State":"dead","Events":[$events]}}}}}]}"""
  }

  test("nomad stream end-to-end: source → dedup → classification → webhook") {
    val frames = Seq(
      """{}""", // heartbeat
      allocFrame(200, "oom-killed",
        ("Terminated", 2000L, """{"oom_killed":"true","exit_code":"137"}""")),
      // duplicate of the same event (same Time) in a later frame — the
      // high-watermark dedup must drop it
      allocFrame(201, "oom-killed",
        ("Terminated", 2000L, """{"oom_killed":"true","exit_code":"137"}""")),
      allocFrame(202, "exit-zero",
        ("Terminated", 3000L, """{"exit_code":"0","oom_killed":"false"}""")))

    val hooks = new CopyOnWriteArrayList[String]()
    val hookServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    hookServer.createContext("/discord", (ex: HttpExchange) => {
      hooks.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, 0); ex.close()
    })
    val slackHooks = new CopyOnWriteArrayList[String]()
    hookServer.createContext("/slack", (ex: HttpExchange) => {
      slackHooks.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, 0); ex.close()
    })
    hookServer.start()
    val hookUrl = s"http://127.0.0.1:${hookServer.getAddress.getPort}/discord"
    val slackUrl = s"http://127.0.0.1:${hookServer.getAddress.getPort}/slack"

    val nomad = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hangUp = new CountDownLatch(1)
    nomad.createContext("/v1/event/stream", (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      frames.foreach { f =>
        out.write((f + "\n").getBytes(StandardCharsets.UTF_8)); out.flush()
        Thread.sleep(30)
      }
      // hold the stream open until the test ends: stop(0) joins the
      // dispatcher thread this handler runs on
      hangUp.await()
    })
    nomad.start()

    try {
      val lines = spark.readStream.format("nomad-events")
        .option("baseUrl", s"http://127.0.0.1:${nomad.getAddress.getPort}")
        .load()
      val cfg = PipelineConfig(startingIndex = 100)
      val notifications = NomadPipeline.stream(spark, lines, cfg, initialWatermarkNs = 1000L)
      val ckpt = java.nio.file.Files.createTempDirectory("e2e-ckpt").toString
      val query = notifications.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          WebhookSink.deliver(Some(hookUrl), Some(slackUrl))(batch, id)
        }
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while ((hooks.size() < 2 || slackHooks.size() < 2) &&
          System.currentTimeMillis() < deadline) Thread.sleep(250)
      } finally query.stop()

      // duplicate Terminated@2000 must have been deduped: exactly 2 deliveries
      assert(hooks.size() == 2, s"expected 2 webhook deliveries, got ${hooks.size()}: $hooks")
      val byJob = hooks.toArray.map(_.toString).sortBy(identity)
      val oom = byJob.find(_.contains("oom-killed.main")).get
      val ok = byJob.find(_.contains("exit-zero.main")).get
      assert(oom.contains("\"color\":15158332"), s"oom delivery must be failure-coloured: $oom")
      assert(ok.contains("\"color\":3066993"), s"exit-zero delivery must be success-coloured: $ok")
      assert(oom.contains("**oom-killed.main** task is **Terminated** on **worker-1** node"))

      // Slack fan-out (app.rb:239-265): every delivered body must be valid
      // JSON — the fenced description embeds newlines and quotes, so this
      // fails if the payload is string-interpolated without escaping
      assert(slackHooks.size() == 2, s"expected 2 slack deliveries, got ${slackHooks.size()}")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      slackHooks.toArray.map(_.toString).foreach { body =>
        val att = mapper.readTree(body).get("attachments").get(0)
        assert(att.get("mrkdwn_in").get(0).asText() == "text")
        assert(att.get("text").asText().contains("\n```{"))
        assert(att.has("color"))
      }
    } finally { hangUp.countDown(); nomad.stop(0); hookServer.stop(0) }
  }
}
