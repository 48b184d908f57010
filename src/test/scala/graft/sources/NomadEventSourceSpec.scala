package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.streaming.WebhookSink
import org.apache.spark.sql.streaming.Trigger

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CopyOnWriteArrayList, CountDownLatch, TimeUnit}

/** DSv2 source + webhook sink mechanics against a local stub Nomad server
  * (⊘ queries in SURVEY §2a — ScalaTest-verified, no SQL oracle):
  * chunked NDJSON delivery with readpartial-style split frames, offset
  * discovery from /v1/agent/self, auth/namespace option plumbing, and
  * fire-and-forget webhook POSTs.
  */
class NomadEventSourceSpec extends SparkSpec {

  private def withServer(frames: Seq[String], raftIndex: Option[Long] = Some(42L))
                        (body: (String, CopyOnWriteArrayList[String]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seenHeaders = new CopyOnWriteArrayList[String]()
    val hangUp = new CountDownLatch(1)
    server.createContext("/v1/agent/self", (ex: HttpExchange) => {
      val json = raftIndex
        .map(i => s"""{"stats":{"raft":{"last_log_index":"$i"}}}""")
        .getOrElse("""{"stats":{}}""")
      val b = json.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/v1/event/stream", (ex: HttpExchange) => {
      Option(ex.getRequestHeaders.getFirst("X-Nomad-Token")).foreach(t => seenHeaders.add(s"token=$t"))
      Option(ex.getRequestURI.getQuery).foreach(q => seenHeaders.add(s"query=$q"))
      ex.sendResponseHeaders(200, 0) // chunked
      val out = ex.getResponseBody
      frames.foreach { f =>
        // split mid-frame to exercise readpartial reassembly
        val bytes = (f + "\n").getBytes(StandardCharsets.UTF_8)
        val mid = bytes.length / 2
        out.write(bytes, 0, mid); out.flush()
        Thread.sleep(20)
        out.write(bytes, mid, bytes.length - mid); out.flush()
      }
      // keep the connection open like a real event stream, until the test
      // ends: stop(0) joins the dispatcher thread this handler runs on
      hangUp.await()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", seenHeaders)
    finally { hangUp.countDown(); server.stop(0) }
  }

  test("initialIndex digs stats.raft.last_log_index; None when absent") {
    withServer(Nil) { (url, _) =>
      assert(NomadApi.initialIndex(NomadConfig(url)) == Some(42L))
    }
    withServer(Nil, raftIndex = None) { (url, _) =>
      assert(NomadApi.initialIndex(NomadConfig(url)) == None)
    }
  }

  test("the namespace query parameter is URL-encoded: a space or & stays in its value") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val rawQuery = new java.util.concurrent.atomic.AtomicReference[String]
    server.createContext("/v1/event/stream", (ex: HttpExchange) => {
      rawQuery.set(ex.getRequestURI.getRawQuery)
      ex.sendResponseHeaders(204, -1); ex.close()
    })
    server.start()
    try {
      val cfg = NomadConfig(s"http://127.0.0.1:${server.getAddress.getPort}",
        namespace = Some("a b&index=0"))
      // the parameters the nomad-events source sends
      val conn = NomadApi.open(cfg, "/v1/event/stream", cfg.namespace.map("namespace" -> _).toMap)
      try assert(conn.getResponseCode == 204) finally conn.disconnect()
      assert(rawQuery.get == "namespace=a+b%26index%3D0")
    } finally server.stop(0)
  }

  test("configFromAgent seeds the stale-index filter; aborts without raft stats") {
    withServer(Nil) { (url, _) =>
      val cfg = graft.streaming.NomadPipeline.configFromAgent(NomadConfig(url))
      assert(cfg.startingIndex == 42L)
    }
    withServer(Nil, raftIndex = None) { (url, _) =>
      intercept[IllegalStateException] {
        graft.streaming.NomadPipeline.configFromAgent(NomadConfig(url))
      }
    }
  }

  test("streaming source reassembles chunked NDJSON frames into rows") {
    // the stub server cuts each frame at its middle byte: here that falls
    // inside a three-byte character, which must arrive whole in `value`
    val multiByte = """{"Index":3,"Events":[],"Note":"€€€€€€€€€€€"}"""
    val mb = (multiByte + "\n").getBytes(StandardCharsets.UTF_8)
    assert((mb(mb.length / 2) & 0xC0) == 0x80, "cut must land mid-character")
    val frames = Seq(
      """{"Index":1,"Events":[]}""",
      """{}""",
      """{"Index":2,"Events":[]}""",
      multiByte)
    withServer(frames) { (url, headers) =>
      val q = spark.readStream.format("nomad-events")
        .option("baseUrl", url)
        .option("namespace", "prod")
        .option("token", "secret")
        .load()
        .writeStream.format("memory").queryName("nomad_src_out")
        .trigger(Trigger.ProcessingTime(100))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (spark.table("nomad_src_out").count() < 4 && System.currentTimeMillis() < deadline) {
          Thread.sleep(200)
        }
        val rows = spark.table("nomad_src_out").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        assert(rows.map(_._2).toSeq == frames)
        assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
        assert(headers.contains("token=secret"))
        assert(headers.contains("query=namespace=prod"))
      } finally q.stop()
    }
  }

  test("restart recovery: numbering continues from the checkpointed offset") {
    val frames = Seq("""{"Index":1,"Events":[]}""", """{"Index":2,"Events":[]}""")
    withServer(frames) { (url, _) =>
      val stream = new NomadMicroBatchStream(NomadConfig(url))
      try {
        // restart path: Spark deserializes the checkpointed offsets before
        // planning — numbering must jump forward to continue the old count
        stream.deserializeOffset("100")
        val deadline = System.currentTimeMillis() + 15000
        var latest = 0L
        while (latest < 102L && System.currentTimeMillis() < deadline) {
          Thread.sleep(100)
          latest = stream.latestOffset().asInstanceOf[NomadOffset].lineCount
        }
        assert(latest == 102L, s"latestOffset must continue past the restart offset, got $latest")
        // the replayed in-flight batch matches nothing (stream cannot rewind)
        assert(stream.planInputPartitions(NomadOffset(98), NomadOffset(100))
          .head.asInstanceOf[NomadInputPartition].lines.isEmpty)
        // committing the checkpointed end must NOT trim the fresh lines
        stream.commit(NomadOffset(100))
        val p = stream.planInputPartitions(NomadOffset(100), NomadOffset(102))
          .head.asInstanceOf[NomadInputPartition]
        assert((p.first until p.first + p.lines.length) == Seq(100L, 101L))
        assert(p.lines.toSeq.map(new String(_, StandardCharsets.UTF_8)) == frames)
      } finally stream.stop()
    }
  }

  test("webhook sink POSTs payloads fire-and-forget") {
    val received = new CopyOnWriteArrayList[String]()
    val latch = new CountDownLatch(2)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      received.add(body); latch.countDown()
      ex.sendResponseHeaders(200, 0); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      assert(WebhookSink.post(url, """{"content":"a"}""") == 200)
      assert(WebhookSink.post(url, """{"content":"b"}""") == 200)
      assert(latch.await(5, TimeUnit.SECONDS))
      assert(received.size == 2)
      // unreachable endpoint: fire-and-forget, no exception
      assert(WebhookSink.post("http://127.0.0.1:1/hook", "{}") == -1)
    } finally server.stop(0)
  }

  test("postWithRetry retries 5xx with backoff, fails fast on 4xx") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/flaky", (ex: HttpExchange) => {
      val n = hits.incrementAndGet()
      ex.sendResponseHeaders(if (n < 3) 503 else 200, 0); ex.close()
    })
    val badReq = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/bad", (ex: HttpExchange) => {
      badReq.incrementAndGet()
      ex.sendResponseHeaders(400, 0); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      assert(WebhookSink.postWithRetry(s"$base/flaky", "{}", maxRetries = 3, backoffMs = 10) == 200)
      assert(hits.get() == 3)
      // 4xx is non-retryable: exactly one attempt
      assert(WebhookSink.postWithRetry(s"$base/bad", "{}", maxRetries = 3, backoffMs = 10) == 400)
      assert(badReq.get() == 1)
      // exhausted retries surface the last failure code
      assert(WebhookSink.postWithRetry("http://127.0.0.1:1/hook", "{}",
        maxRetries = 1, backoffMs = 10) == -1)
    } finally server.stop(0)
  }

  test("postWithRetry aborts the backoff ladder on thread interrupt") {
    // unreachable endpoint + a 10 s backoff: without the interrupt check
    // this would sleep out the full ladder and stall query shutdown
    val t0 = System.nanoTime()
    Thread.currentThread().interrupt()
    val code =
      try WebhookSink.postWithRetry("http://127.0.0.1:1/hook", "{}",
        maxRetries = 5, backoffMs = 10000)
      finally assert(Thread.interrupted()) // signal preserved (and cleared for later tests)
    assert(code == -1)
    assert((System.nanoTime() - t0) < 5L * 1000 * 1000 * 1000)
  }
}
