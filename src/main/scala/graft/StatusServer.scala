package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Status/metrics HTTP endpoint — the reference's status server
  * (swanlake-server/src/status.rs:25-101): a tiny HTTP listener beside
  * the query transport serving
  *
  *   - `{prefix}/`            — a human-readable HTML status page
  *   - `{prefix}/status.json` — `{generated_at_ms, metrics, sessions}`
  *   - `/healthz`             — the literal `OK` liveness probe
  *
  * The JSON payload mirrors the reference's `StatusPayload`
  * (status.rs:18-23): a metrics snapshot (uptime, totals, in-flight,
  * latency percentiles, slow-query and error rings — metrics.rs:66-77)
  * and a session-registry snapshot (registry.rs:36-42), plus `serve`:
  * which prepared-statement paths served requests (key reads answered
  * on the driver and their decline reasons, plan-cache reuse, driver-side
  * DML statements), the micro-lake's writes and write amplification, and
  * its row cache's occupancy. Serialization is
  * a hand-rolled writer over the JDK's built-in `HttpServer` — the
  * status page must not pull a web framework onto the executor
  * classpath, and the payload is small and flat.
  *
  * Path-prefix normalization matches status.rs:88-95: surrounding
  * slashes trimmed, empty → served at root. Disabled → `start` returns
  * None without binding (status.rs:30-32).
  */
final class StatusServer private (
    server: HttpServer,
    val pathPrefix: String) {

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)
}

object StatusServer {

  /** Trim surrounding slashes; non-empty prefixes get a single leading
    * slash (status.rs normalize_prefix).
    */
  def normalizePrefix(prefix: String): String = {
    val trimmed = prefix.replaceAll("^/+|/+$", "")
    if (trimmed.isEmpty) "" else s"/$trimmed"
  }

  /** Bind and start; `port = 0` picks an ephemeral port (tests). Returns
    * None when disabled, mirroring the reference's early return.
    */
  def start(
      metrics: Metrics,
      registry: SessionRegistry,
      host: String = "127.0.0.1",
      port: Int = 0,
      pathPrefix: String = "",
      enabled: Boolean = true): Option[StatusServer] = {
    if (!enabled) return None
    val prefix = normalizePrefix(pathPrefix)
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/healthz", (ex: HttpExchange) => respond(ex, 200, "text/plain", "OK"))
    server.createContext(s"$prefix/status.json", (ex: HttpExchange) =>
      respond(ex, 200, "application/json", statusJson(metrics, registry)))
    server.createContext(if (prefix.isEmpty) "/" else s"$prefix/", (ex: HttpExchange) => {
      val p = ex.getRequestURI.getPath
      if (p == s"$prefix/" || p == prefix || (prefix.isEmpty && p == "/"))
        respond(ex, 200, "text/html", statusPage)
      else respond(ex, 404, "text/plain", "not found")
    })
    // a SMALL pool, not single-threaded dispatch (review catch): with
    // one dispatcher a single non-reading client blocks os.write and
    // every later request — including /healthz, the liveness probe —
    // queues behind it until an orchestrator restarts a healthy server
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-status"); t.setDaemon(true); t
    }))
    server.start()
    Some(new StatusServer(server, prefix))
  }

  private def respond(ex: HttpExchange, code: Int, ctype: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$ctype; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  // --- JSON payload (StatusPayload, status.rs:18-23) ---

  def statusJson(metrics: Metrics, registry: SessionRegistry): String = {
    val now = System.currentTimeMillis()
    val l = metrics.latencySummary
    val snap = registry.snapshot(now)
    val slow = metrics.slowQueries.map(s =>
      obj("sql" -> str(s.sql), "millis" -> num(s.millis), "at_ms" -> num(s.atMillis)))
    val errs = metrics.recentErrors.map(e =>
      obj("sql" -> str(e.sql), "message" -> str(e.message), "at_ms" -> num(e.atMillis)))
    obj(
      "generated_at_ms" -> num(now),
      "metrics" -> obj(
        "started_at_ms" -> num(metrics.startedAtMillis),
        "uptime_ms" -> num(metrics.uptimeMillis),
        "slow_query_threshold_ms" -> num(metrics.slowQueryThresholdMillis),
        "totals" -> obj(
          "queries" -> num(metrics.queries),
          "errors" -> num(metrics.errors),
          "rows" -> num(metrics.rows),
          "slow_queries" -> num(metrics.slowQueries.size.toLong)),
        "in_flight" -> obj("queries" -> num(metrics.inFlight)),
        "latency" -> obj(
          "avg_ms" -> dbl(l("avg")),
          "p50_ms" -> dbl(l("p50")),
          "p95_ms" -> dbl(l("p95")),
          "p99_ms" -> dbl(l("p99"))),
        "slow_queries" -> arr(slow),
        "recent_errors" -> arr(errs),
        "history_size" -> num(metrics.windowSize.toLong)),
      "sessions" -> obj(
        "total_sessions" -> num(snap.totalSessions.toLong),
        "max_sessions" -> num(snap.maxSessions.toLong),
        "session_timeout_seconds" -> num(snap.sessionTimeoutSeconds),
        "oldest_idle_ms" -> num(snap.oldestIdleMs),
        "average_idle_ms" -> num(snap.averageIdleMs)),
      "serve" -> serveJson)
  }

  /** The serving paths' counters (graft.ServeCounters), the micro-lake
    * writes with their summed writer-lock wait and hold, the rows they
    * deleted and rewrote, and the row cache's occupancy; a hit rate with
    * no lookups yet is null.
    */
  private def serveJson: String = {
    val rc = graft.sources.RowCache.shared
    val lookups = rc.hits + rc.misses
    obj(
      "point_read" -> obj(
        "hits" -> num(ServeCounters.pointReadHits.get()),
        "declines" -> obj(ServeCounters.declineReasons.map(r =>
          r -> num(ServeCounters.declined(r))): _*)),
      "plan_cache" -> obj(
        "hits" -> num(ServeCounters.planCacheHits.get()),
        "misses" -> num(ServeCounters.planCacheMisses.get())),
      "driver_dml_rewrites" -> num(ServeCounters.driverRewrites.get()),
      "lake_writes" -> num(ServeCounters.lakeWrites.get()),
      "lake_lock_wait_ms" -> dbl(ServeCounters.lakeLockWaitNanos.get() / 1e6),
      "lake_lock_hold_ms" -> dbl(ServeCounters.lakeLockHoldNanos.get() / 1e6),
      "lake_rows_deleted" -> num(ServeCounters.lakeRowsDeleted.get()),
      "lake_rows_rewritten" -> num(ServeCounters.lakeRowsRewritten.get()),
      "row_cache" -> obj(
        "entries" -> num(rc.entries.toLong),
        "bytes" -> num(rc.bytes),
        "max_bytes" -> num(rc.maxBytes),
        "hit_rate" -> dbl(if (lookups == 0) Double.NaN else rc.hits.toDouble / lookups)))
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  private def num(n: Long): String = n.toString
  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  /** Minimal embedded page (the reference embeds status.html and renders
    * the same JSON client-side).
    */
  val statusPage: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft status</title>
      |<style>body{font-family:monospace;margin:2em}pre{background:#f6f6f6;padding:1em}</style>
      |</head><body><h1>graft engine status</h1>
      |<pre id="s">loading…</pre>
      |<script>
      |fetch('status.json').then(r=>r.json())
      |  .then(j=>{document.getElementById('s').textContent=JSON.stringify(j,null,2)})
      |  .catch(e=>{document.getElementById('s').textContent='error: '+e});
      |</script></body></html>""".stripMargin
}
