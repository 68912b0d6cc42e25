package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Row

/** SQL-over-HTTP query transport — the socket clients connect to while
  * the Arrow Flight gRPC bind stays jar-blocked (STATUS.md). Stands
  * where the reference's tonic `FlightServiceServer` listens
  * (swanlake-server/src/main.rs:16-126): same host/port config, same
  * per-peer session keying, same engine underneath — a different wire.
  *
  *   - `POST {prefix}/sql` — body is the SQL text. Responses:
  *       `Accept: application/vnd.apache.arrow.stream` → the SAME Arrow
  *       IPC stream bytes a Flight DoGet would carry (ArrowWire);
  *       anything else → `{"columns": [...], "rows": [[...]], "row_count"}`.
  *   - Session affinity: `X-Graft-Session: <key>` pins a session
  *     explicitly (BEGIN/COMMIT across requests); otherwise the peer
  *     address is keyed through the configured `SWANLAKE_SESSION_ID_MODE`,
  *     exactly like the Flight facade.
  *   - Errors map through [[ErrorMapping]] to HTTP statuses:
  *     InvalidArgument→400, NotFound→404, AlreadyExists/FailedPrecondition→409,
  *     ResourceExhausted→429, Internal→500, as `{"error", "status"}`.
  *
  * Metrics are recorded per request (the reference's service layer does
  * the same around each RPC). Dispatch runs on a small thread pool —
  * queries are long compared to status traffic, and the engine's
  * session registry is already concurrent.
  */
final class SqlGateway private (
    server: HttpServer,
    pool: java.util.concurrent.ExecutorService) {

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object SqlGateway {

  val arrowContentType = "application/vnd.apache.arrow.stream"

  def start(
      registry: SessionRegistry,
      metrics: Metrics,
      sessionKey: String => String,
      host: String = "127.0.0.1",
      port: Int = 0,
      pathPrefix: String = ""): SqlGateway = {
    val prefix = StatusServer.normalizePrefix(pathPrefix)
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext(s"$prefix/sql", (ex: HttpExchange) => handle(ex, registry, metrics, sessionKey))
    // prepared-statement lifecycle over the socket (A21's surface for a
    // REMOTE client — BenchBase/JDBC drive exactly this shape): /prepare
    // returns a handle, /exec binds positional params + executes (same
    // Arrow/JSON negotiation as /sql), /close frees the handle
    server.createContext(s"$prefix/prepare",
      (ex: HttpExchange) => handlePrepare(ex, registry, metrics, sessionKey))
    server.createContext(s"$prefix/exec",
      (ex: HttpExchange) => handleExec(ex, registry, metrics, sessionKey))
    server.createContext(s"$prefix/close",
      (ex: HttpExchange) => handleClose(ex, registry, metrics, sessionKey))
    // explicit session release — the TCP-drop analogue for a
    // connectionless transport (r19 review: clients could only wait
    // out the idle TTL, so every short-lived CLI/one-shot run held a
    // registry seat for minutes after exiting)
    server.createContext(s"$prefix/bye",
      (ex: HttpExchange) => handleBye(ex, registry, sessionKey))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-sql-gateway"); t.setDaemon(true); t
    })
    server.setExecutor(pool)
    server.start()
    new SqlGateway(server, pool)
  }

  private def peerKey(ex: HttpExchange, sessionKey: String => String): String =
    Option(ex.getRequestHeaders.getFirst("X-Graft-Session"))
      .filter(_.nonEmpty)
      .getOrElse(sessionKey(ex.getRemoteAddress.toString.stripPrefix("/")))

  private def requirePost(ex: HttpExchange): Boolean = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, "application/json",
        """{"error":"POST to this endpoint","status":"INVALID_ARGUMENT"}"""
          .getBytes(StandardCharsets.UTF_8))
      false
    } else true
  }

  /** PREPARE: body is the parameterized SQL ('?' placeholders); answers
    * the handle plus the inferred parameter count (prepared.rs:25-43's
    * create surface over HTTP).
    */
  private def handlePrepare(ex: HttpExchange, registry: SessionRegistry,
      metrics: Metrics, sessionKey: String => String): Unit = {
    if (!requirePost(ex)) return
    val sql = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim
    try {
      val p = registry.getOrCreate(peerKey(ex, sessionKey)).createPrepared(sql)
      respond(ex, 200, "application/json",
        s"""{"handle":${jstr(p.handle)},"param_count":${p.paramCount}}"""
          .getBytes(StandardCharsets.UTF_8))
    } catch { case t: Throwable => respondError(ex, metrics, sql, t) }
  }

  /** CLOSE: body is the handle; freeing an unknown handle is the
    * tolerated no-op (prepared.rs close semantics).
    */
  private def handleClose(ex: HttpExchange, registry: SessionRegistry,
      metrics: Metrics, sessionKey: String => String): Unit = {
    if (!requirePost(ex)) return
    val handle = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim
    try {
      registry.getOrCreate(peerKey(ex, sessionKey)).closePrepared(handle)
      respond(ex, 200, "application/json",
        """{"closed":true}""".getBytes(StandardCharsets.UTF_8))
    } catch { case t: Throwable => respondError(ex, metrics, handle, t) }
  }

  /** BYE: releases the caller's server session immediately — the
    * TCP-drop analogue (the reference server drops a session with its
    * gRPC connection; over connectionless HTTP the client says so
    * explicitly). Unknown or already-reaped sessions are a tolerated
    * no-op, like /close.
    */
  private def handleBye(ex: HttpExchange, registry: SessionRegistry,
      sessionKey: String => String): Unit = {
    if (!requirePost(ex)) return
    ex.getRequestBody.readAllBytes()
    try {
      registry.remove(peerKey(ex, sessionKey))
      respond(ex, 200, "application/json",
        """{"closed":true}""".getBytes(StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      respond(ex, 500, "application/json",
        s"""{"error":${jstr(Option(t.getMessage).getOrElse(t.getClass.getName))}}"""
          .getBytes(StandardCharsets.UTF_8))
    }
  }

  /** EXEC: body is `{"handle":"...","params":[...]}` (params optional);
    * binds positionally and executes — the response contract (Arrow
    * stream vs JSON rows, streaming, error mapping) is exactly /sql's.
    */
  private def handleExec(ex: HttpExchange, registry: SessionRegistry,
      metrics: Metrics, sessionKey: String => String): Unit = {
    if (!requirePost(ex)) return
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim
    val peer = peerKey(ex, sessionKey)
    serveResult(ex, metrics, body) { () =>
      val (handle, params) = parseExecBody(body)
      val session = registry.getOrCreate(peer)
      val p = session.getPrepared(handle).getOrElse(
        throw new NoSuchElementException(s"unknown prepared statement handle: $handle"))
      // atomic bind+execute: two threads sharing a handle must not cross
      // their params between a separate bind call and the execution
      (p.sql, session.executePrepared(p.handle, params))
    }
  }

  /** Minimal JSON body parse for /exec — hand-rolled like the writers
    * (no web framework), tolerant of whitespace; params support the
    * JSON scalar types (string with escapes, integer, double, boolean,
    * null).
    */
  private[graft] def parseExecBody(body: String): (String, Seq[Any]) = {
    // keys are located at TOP LEVEL only (review catch: a bare
    // findFirstMatchIn could bind a '"handle":"..."' occurrence INSIDE a
    // string parameter — e.g. a client relaying JSON as a param value —
    // and execute a different prepared statement with the wrong params)
    val handleRe = """"handle"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val handle = Some(topLevelKey(body, "handle")).filter(_ >= 0)
      .flatMap(i => handleRe.findFirstMatchIn(body.substring(i)))
      .map(m => unescape(m.group(1)))
      .getOrElse(throw new IllegalArgumentException(
        """exec body must be {"handle":"...","params":[...]}"""))
    val paramsIdx = topLevelKey(body, "params")
    val params =
      if (paramsIdx < 0) Seq.empty[Any]
      else {
        val open = body.indexOf('[', paramsIdx)
        if (open < 0) Seq.empty[Any]
        else parseJsonArray(body, open)
      }
    (handle, params)
  }

  /** Index of the top-level object key `"name"` — depth 1, outside any
    * string, followed (after whitespace) by ':' — or -1 when absent.
    */
  private def topLevelKey(body: String, name: String): Int = {
    val pat = "\"" + name + "\""
    var i = 0; var depth = 0; var inStr = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' =>
          if (depth == 1 && body.startsWith(pat, i)) {
            var j = i + pat.length
            while (j < body.length && body.charAt(j).isWhitespace) j += 1
            if (j < body.length && body.charAt(j) == ':') return i
          }
          inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** Parse a flat JSON scalar array starting at `open` ('['). */
  private def parseJsonArray(s: String, open: Int): Seq[Any] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = open + 1
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    skipWs()
    if (i < s.length && s(i) == ']') return out.toSeq
    while (i < s.length) {
      skipWs()
      s(i) match {
        case '"' =>
          val sb = new StringBuilder
          i += 1
          while (i < s.length && s(i) != '"') {
            if (s(i) == '\\' && i + 1 < s.length) { sb.append(s(i)).append(s(i + 1)); i += 2 }
            else { sb.append(s(i)); i += 1 }
          }
          i += 1 // closing quote
          out += unescape(sb.toString)
        case 't' => out += true; i += 4
        case 'f' => out += false; i += 5
        case 'n' => out += null; i += 4
        case _ =>
          val start = i
          while (i < s.length && "+-.eE0123456789".indexOf(s(i)) >= 0) i += 1
          val tok = s.substring(start, i)
          out += (if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble
                  else tok.toLong)
      }
      skipWs()
      if (i >= s.length || s(i) == ']') return out.toSeq
      if (s(i) == ',') i += 1
    }
    out.toSeq
  }

  /** Single left-to-right pass consuming each `\x` escape pair exactly
    * once (ADVICE r14, high: the previous ORDERED String.replace chain
    * re-scanned its own output, so 'C:\\new' decoded '\\' to '\' and
    * then corrupted the fresh '\'+'n' into a newline — silent data
    * corruption of any param whose literal backslash precedes n/r/t).
    * Covers the full JSON escape set including \uXXXX (a conforming
    * third-party client sends non-ASCII that way); a malformed escape
    * passes through verbatim rather than throwing — parameter text is
    * data, not protocol.
    */
  private[graft] def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/'  => sb.append('/'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case 'u' if i + 5 < s.length &&
              // ASCII hex only: JSON forbids non-ASCII digits (e.g. Arabic-Indic)
              // in escapes, which Character.digit would otherwise accept
              s.substring(i + 2, i + 6).forall(h =>
                (h >= '0' && h <= '9') || (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F')) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case _ => sb.append(c); i += 1 // malformed escape: keep verbatim
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Shared result path for /sql-shaped responses: negotiates Arrow vs
    * JSON, streams with first-wave priming, maps errors — `mk` returns
    * (metricLabel, DataFrame).
    */
  private def serveResult(ex: HttpExchange, metrics: Metrics,
      fallbackLabel: String)(mk: () => (String, org.apache.spark.sql.DataFrame)): Unit = {
    val wantArrow = Option(ex.getRequestHeaders.getFirst("Accept"))
      .exists(_.contains(arrowContentType))
    val t0 = System.nanoTime()
    var label = fallbackLabel
    var headersSent = false
    try {
      val (l, df) = mk()
      label = l
      if (wantArrow) {
        val write = org.apache.spark.sql.graft.ArrowWire.prepareIpcStream(df)
        ex.getResponseHeaders.set("Content-Type", arrowContentType)
        ex.sendResponseHeaders(200, 0)
        headersSent = true
        val os = ex.getResponseBody
        // counted before close(): the client's read completes only at
        // close, so a finished request is always already on the metrics
        try {
          write(os)
          metrics.record(label, (System.nanoTime() - t0) / 1000000)
        } finally os.close()
      } else {
        // STREAMED like the Arrow path (VERDICT r14 #3: df.collect()
        // here buffered the whole result — the JSON convenience path
        // would OOM the server on a big result at 100× scale): rows go
        // out batch-wise into the chunked response, memory bounded by
        // one partition wave. Same first-wave priming, so errors still
        // map to HTTP statuses; a mid-stream failure truncates the body
        // before the closing `"row_count"` key, which any JSON parser
        // rejects — the JSON analogue of the Arrow EOS seal.
        val (schema, rows) = org.apache.spark.sql.graft.ArrowWire.prepareRowStream(df)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, 0)
        headersSent = true
        val os = ex.getResponseBody
        var count = 0L
        try {
          val w = new java.io.BufferedOutputStream(os, 64 << 10)
          def emit(s: String): Unit = w.write(s.getBytes(StandardCharsets.UTF_8))
          emit("{\"columns\":[" + schema.fieldNames.map(jstr).mkString(",") + "],\"rows\":[")
          rows.foreach { r =>
            if (count > 0) emit(",")
            emit(rowJson(r))
            count += 1
          }
          emit("],\"row_count\":" + count + "}")
          w.flush()
          metrics.record(label, (System.nanoTime() - t0) / 1000000, count)
        } finally os.close()
      }
    } catch {
      case t: Throwable if headersSent =>
        metrics.recordError(label, Option(t.getMessage).getOrElse(t.getClass.getName))
        ex.close()
      case t: Throwable => respondError(ex, metrics, label, t)
    }
  }

  private def respondError(ex: HttpExchange, metrics: Metrics,
      label: String, t: Throwable): Unit = {
    metrics.recordError(label, Option(t.getMessage).getOrElse(t.getClass.getName))
    val status = ErrorMapping.classify(t)
    val http = status match {
      case ErrorMapping.InvalidArgument    => 400
      case ErrorMapping.NotFound           => 404
      case ErrorMapping.AlreadyExists      => 409
      case ErrorMapping.FailedPrecondition => 409
      case ErrorMapping.ResourceExhausted  => 429
      case _                               => 500
    }
    val name = status.getClass.getSimpleName.stripSuffix("$")
      .replaceAll("([a-z])([A-Z])", "$1_$2").toUpperCase
    respond(ex, http, "application/json",
      s"""{"error":${jstr(Option(t.getMessage).getOrElse(t.toString))},"status":${jstr(name)}}"""
        .getBytes(StandardCharsets.UTF_8))
  }

  /** The /sql endpoint: body is the SQL text. STREAMED wire on the
    * Arrow path (SURVEY §6, VERDICT r13 #3): IPC frames go out with
    * chunked transfer as the prepared stream pulls result partitions —
    * server memory is bounded by one wave + one batch, never the whole
    * result. prepareIpcStream forces planning AND the first wave BEFORE
    * the status line, so analysis errors and most runtime failures still
    * map to HTTP statuses; a later mid-stream failure leaves the body
    * WITHOUT the Arrow end-of-stream seal, which readIpc rejects.
    */
  private def handle(ex: HttpExchange, registry: SessionRegistry,
      metrics: Metrics, sessionKey: String => String): Unit = {
    if (!requirePost(ex)) return
    val sql = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim
    val peer = peerKey(ex, sessionKey)
    serveResult(ex, metrics, sql)(() => (sql, registry.getOrCreate(peer).sql(sql)))
  }

  private def respond(ex: HttpExchange, code: Int, ctype: String, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1L else body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  // --- hand-rolled JSON result writer (the StatusServer house style:
  // no web framework on the executor classpath) ---

  private def rowJson(r: Row): String = {
    val sb = new StringBuilder(32)
    sb.append('[')
    var i = 0
    while (i < r.length) {
      if (i > 0) sb.append(',')
      sb.append(jval(r.get(i)))
      i += 1
    }
    sb.append(']')
    sb.toString
  }

  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float =>
      if (n.isNaN || n.isInfinite) jstr(n.toString) else n.toString
    case n: Double =>
      if (n.isNaN || n.isInfinite) jstr(n.toString) else n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case b: Array[Byte] => jstr(java.util.Base64.getEncoder.encodeToString(b))
    case s: collection.Seq[_] => s.map(jval).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, mv) => s"${jstr(String.valueOf(k))}:${jval(mv)}" }
        .mkString("{", ",", "}")
    case r: Row =>
      r.toSeq.zipWithIndex.map { case (fv, i) =>
        val name = if (r.schema != null) r.schema.fieldNames(i) else s"_$i"
        s"${jstr(name)}:${jval(fv)}"
      }.mkString("{", ",", "}")
    case other => jstr(other.toString) // dates, timestamps, strings, intervals
  }

  private[graft] def jstr(s: String): String = {
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
}
