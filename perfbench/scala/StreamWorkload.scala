package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.NdjsonBuffer
import graft.streaming.{NomadPipeline, PipelineConfig, WebhookSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The notifier end to end: a scripted Nomad upstream on one connection →
  * the `nomad-events` source → `NomadPipeline.stream` → `WebhookSink.deliver`
  * → Discord and Slack receivers that timestamp every POST.
  *
  * The upstream plays the generated byte stream phase by phase: each write
  * goes out when it is due (open loop, timed from the phase start), and the
  * next phase starts once every POST the previous phase should cause has
  * landed. Phases are untimed warm-up, steady-rate traffic, or backlog
  * bursts written all at once. */
object StreamWorkload {

  final case class Post(t: Double, dest: String, id: Long, port: Int, body: String)

  def run(spark: SparkSession, spec: JsonNode, clock: Clock, traced: Boolean,
          cores: Int, workDir: String): java.util.Map[String, Any] = {
    val data = Files.readAllBytes(Paths.get(spec.get("bytes_file").asText))
    val writes = spec.get("writes").elements().asScala.map { w =>
      (w.get(0).asInt, w.get(1).asDouble, w.get(2).asInt, w.get(3).asInt)
    }.toIndexedSeq
    val nPhases = spec.get("phase_posts").size
    val phasePosts = (0 until nPhases).map(spec.get("phase_posts").get(_).asInt)
    val kinds = (0 until nPhases).map(spec.get("phase_kind").get(_).asText)
    val drainS = spec.get("drain_timeout_s").asDouble
    val triggerMs = spec.get("trigger_ms").asLong
    val aligned = (0 until nPhases).map(spec.get("phase_aligned").get(_).asBoolean)
    val leadS = 0.2
    val idleS = 0.6

    // ---- receivers: record arrival, event id and client port of every POST
    val posts = new ConcurrentLinkedQueue[Post]()
    val nPosts = new AtomicLong(0)
    val tag = "\\[e(\\d+)\\]".r
    val hooks = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
    hooks.setExecutor(Executors.newFixedThreadPool(cores))
    Seq("discord", "slack").foreach { dest =>
      hooks.createContext("/" + dest, (ex: HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val t = clock.now
        ex.sendResponseHeaders(200, -1)
        ex.close()
        val id = tag.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
        posts.add(Post(t, dest, id, ex.getRemoteAddress.getPort, body))
        nPosts.incrementAndGet()
      })
    }
    hooks.start()
    val hookBase = s"http://127.0.0.1:${hooks.getAddress.getPort}"

    // ---- upstream: one connection, phases released by the main thread
    def sleepUntil(t: Double): Unit = {
      val wait = t - clock.now
      if (wait > 0) Thread.sleep((wait * 1e3).toLong, ((wait * 1e9) % 1e6).toInt)
    }
    // Processing-time triggers fire on wall-clock multiples of the interval,
    // so a burst written a fixed lead before one waits the same for its batch
    // in every run. The first such tick at least `idleS` away lets the
    // previous batch finish committing.
    def beforeTrigger(): Double = {
      val wallMs = clock.wall0Ms + clock.now * 1e3
      val tick = (math.floor((wallMs + idleS * 1e3) / triggerMs) + 1) * triggerMs
      val t = (tick - clock.wall0Ms) / 1e3 - leadS
      sleepUntil(t)
      t
    }
    val go = new LinkedBlockingQueue[Integer]()
    val phaseStart = Array.fill(nPhases)(-1.0)
    val written = Array.fill(writes.size)(-1.0)
    @volatile var stopping = false
    val upstream = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 4)
    upstream.setExecutor(Executors.newFixedThreadPool(2))
    upstream.createContext("/v1/event/stream", (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      try {
        var w = 0
        var offset = 0
        var phase = 0
        while (phase < nPhases && !stopping) {
          val p = go.poll(200, TimeUnit.MILLISECONDS)
          if (p != null) {
            val t0 = if (aligned(phase)) beforeTrigger() else clock.now
            phaseStart(phase) = t0
            while (w < writes.size && writes(w)._1 == phase && !stopping) {
              val (_, dueMs, len, _) = writes(w)
              sleepUntil(t0 + dueMs / 1e3)
              out.write(data, offset, len)
              out.flush()
              written(w) = clock.now
              offset += len
              w += 1
            }
            phase += 1
          }
        }
        while (!stopping) Thread.sleep(50)
      } catch { case _: java.io.IOException => () }
      finally ex.close()
    })
    upstream.start()

    val cfg = PipelineConfig(
      startingIndex = spec.get("starting_index").asLong,
      denylist = spec.get("denylist").elements().asScala.map(_.asText).toSeq,
      allowlist = spec.get("allowlist").elements().asScala.map(_.asText).toSeq)
    val lines = spark.readStream.format("nomad-events")
      .option("baseUrl", s"http://127.0.0.1:${upstream.getAddress.getPort}")
      .load()
    val buildT0 = clock.now
    val notifications = NomadPipeline.stream(spark, lines, cfg,
      initialWatermarkNs = spec.get("initial_watermark_ns").asLong)
    val buildS = clock.now - buildT0

    val delivers = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
    val deliver = WebhookSink.deliver(Some(hookBase + "/discord"), Some(hookBase + "/slack")) _
    val query = notifications.writeStream
      .option("checkpointLocation", Files.createTempDirectory(Paths.get(workDir), "ckpt").toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = clock.now
        deliver(batch, id)
        delivers.add(Json.obj("batch" -> id, "start" -> t0, "end" -> clock.now))
        ()
      }
      .start()

    def awaitPosts(target: Long, timeoutS: Double): Boolean = {
      val deadline = clock.now + timeoutS
      while (nPosts.get() < target && clock.now < deadline && query.isActive) Thread.sleep(2)
      nPosts.get() >= target
    }

    // phase 0 runs until its first POST lands, which ends set-up; the other
    // warm-up phases bring the JIT and the state store to a steady state
    go.put(0)
    var target = phasePosts(0).toLong
    val warmupDeadline = clock.now + 60
    while (nPosts.get() == 0 && query.isActive && clock.now < warmupDeadline) Thread.sleep(2)
    val firstPost = clock.now
    var complete = awaitPosts(target, drainS)
    var measureStart = -1.0
    var phasesRun = 1
    while (phasesRun < nPhases && complete) {
      if (measureStart < 0 && kinds(phasesRun) != "warmup") measureStart = clock.now
      go.put(phasesRun)
      target += phasePosts(phasesRun)
      val due = writes.filter(_._1 == phasesRun).map(_._2).max / 1e3
      complete = awaitPosts(target, due + drainS)
      phasesRun += 1
    }
    val measureEnd = clock.now
    // a short grace period shows late duplicates or unexpected POSTs
    Thread.sleep(300)
    stopping = true
    val failure = query.exception.map(_.toString)
    query.stop()
    upstream.stop(0)
    hooks.stop(0)

    val feed = if (traced) ndjsonFeed(data, writes) else Json.obj()
    Json.obj(
      "first_post" -> firstPost,
      "measure_start" -> measureStart,
      "measure_end" -> measureEnd,
      "phases_run" -> phasesRun,
      "phase_start" -> phaseStart.toSeq.map(Double.box).asJava,
      "written" -> written.toSeq.map(Double.box).asJava,
      "build_s" -> buildS,
      "query_error" -> failure.orNull,
      "posts" -> posts.asScala.toSeq.sortBy(_.t).map(p => Json.obj("t" -> p.t, "dest" -> p.dest,
        "id" -> p.id, "port" -> p.port, "body" -> p.body)).asJava,
      "delivers" -> new java.util.ArrayList(delivers),
      "ndjson" -> feed)
  }

  /** The source's reassembly layer on its own: the same chunk sequence fed
    * through a fresh [[NdjsonBuffer]], timed (best of three). */
  private def ndjsonFeed(data: Array[Byte], writes: IndexedSeq[(Int, Double, Int, Int)]): java.util.Map[String, Any] = {
    var best = Double.MaxValue
    var valid = 0L
    (1 to 3).foreach { _ =>
      val buf = new NdjsonBuffer
      var offset = 0
      var n = 0L
      val t0 = System.nanoTime()
      writes.foreach { case (_, _, len, _) =>
        val chunk = java.util.Arrays.copyOfRange(data, offset, offset + len)
        n += buf.feedBytes(chunk, len).size
        offset += len
      }
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      valid = n
    }
    Json.obj("seconds" -> best, "bytes" -> data.length, "valid_lines" -> valid)
  }
}
