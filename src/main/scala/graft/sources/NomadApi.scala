package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.io.Source

/** Minimal Nomad HTTP API client for the source's control-plane calls.
  * Mirrors the reference's boot sequence (reference app.rb:29-37, 63-70):
  * authenticated GETs with `X-Nomad-Token`, and offset discovery from
  * `/v1/agent/self` → `stats.raft.last_log_index` (abort if absent).
  */
final case class NomadConfig(
    baseUrl: String,
    namespace: Option[String] = None,
    token: Option[String] = None)

object NomadApi {

  /** GET `path` with `params` as its query, each key and value
    * URL-encoded: a configured value with a space or an `&` stays one
    * parameter. */
  def open(cfg: NomadConfig, path: String, params: Map[String, String] = Map.empty): HttpURLConnection = {
    val query = params.map { case (k, v) =>
      s"${URLEncoder.encode(k, UTF_8)}=${URLEncoder.encode(v, UTF_8)}"
    }.mkString("&")
    val url = new URI(cfg.baseUrl + path + (if (query.nonEmpty) s"?$query" else "")).toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    cfg.token.foreach(t => conn.setRequestProperty("X-Nomad-Token", t))
    conn.setConnectTimeout(10000)
    conn
  }

  /** S1 — starting offset: `stats.raft.last_log_index` from /v1/agent/self;
    * None if the agent doesn't expose raft stats (reference app.rb:63-70
    * exits with an operator hint in that case). */
  def initialIndex(cfg: NomadConfig): Option[Long] = {
    val conn = open(cfg, "/v1/agent/self")
    try {
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      val node = new ObjectMapper().readTree(body)
        .path("stats").path("raft").path("last_log_index")
      if (node.isMissingNode || node.isNull) None
      else Option(node.asText()).filter(_.nonEmpty).map(_.toLong)
    } finally conn.disconnect()
  }
}
