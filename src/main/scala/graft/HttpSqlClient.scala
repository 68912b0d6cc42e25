package graft

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

import graft.flight.SqlConnection
import graft.flight.SqlConnection.{QueryResult, UpdateResult}

/** Remote SQL connection over the HTTP gateway ([[SqlGateway]]) — the
  * network counterpart of the in-proc [[graft.flight.FlightSqlClient]]:
  * results ride as the SAME Arrow IPC stream bytes and decode
  * session-free (`ArrowWire.readIpc`), so a client JVM needs no
  * SparkSession. One client = one server session, pinned by a
  * generated `X-Graft-Session` key — transactions span requests, like
  * one reference client holding one gRPC connection.
  */
final class HttpSqlClient(baseUrl: String,
    val sessionKey: String = s"http-client-${java.util.UUID.randomUUID()}")
    extends SqlConnection {

  private val endpoint = baseUrl.stripSuffix("/") + "/sql"

  private def post(sql: String): Array[Byte] = postTo(endpoint, sql)

  private def postTo(url: String, body: String): Array[Byte] = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    // bounded waits (review catch: the JDK default of 0 blocks forever
    // on a wedged server) and a finally-disconnect (a reset mid-body
    // previously skipped the disconnect and leaked the streams/fd)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000) // covers long analytical results
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Accept", SqlGateway.arrowContentType)
    conn.setRequestProperty("X-Graft-Session", sessionKey)
    try {
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
      val code = conn.getResponseCode
      if (code >= 400) {
        val err = new String(
          Option(conn.getErrorStream).map(_.readAllBytes()).getOrElse(Array.empty[Byte]),
          StandardCharsets.UTF_8)
        // surface the server's message, not the raw JSON envelope; decode
        // with the gateway's single-pass unescaper (the ordered-replace
        // chain corrupted backslash-then-n sequences — ADVICE r14)
        val msg = """"error":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(err)
          .map(m => SqlGateway.unescape(m.group(1)))
          .getOrElse(err)
        throw new RuntimeException(s"server error (HTTP $code): $msg")
      }
      conn.getInputStream.readAllBytes()
    } finally conn.disconnect()
  }

  def query(sql: String): QueryResult = {
    val (schema, rows) = org.apache.spark.sql.graft.ArrowWire.readIpc(post(sql))
    QueryResult(schema, rows)
  }

  def update(sql: String): UpdateResult = {
    val (schema, rows) = org.apache.spark.sql.graft.ArrowWire.readIpc(post(sql))
    // routed DML answers one num_affected_rows row; DDL/txn control
    // answer a count of 0 — the same surface the facade's update gives
    val n = schema.fieldNames.indexOf("num_affected_rows") match {
      case -1 => 0L
      case i if rows.nonEmpty => rows(0).getLong(i)
      case _ => 0L
    }
    UpdateResult(n)
  }

  // === prepared statements over the socket (A21 remotely) ===============
  // The BenchBase/JDBC shape: prepare once, execute many with positional
  // params — the gateway binds and runs through the SAME Session
  // lifecycle the Flight facade uses.

  /** PREPARE: returns the server-side handle. The captured group is
    * UNESCAPED with the server's own decoder (the server emits handles
    * via jstr, and handles embed the session key — a key containing '"'
    * or '\' would otherwise yield a client-held handle that never
    * matches server-side; ADVICE r14).
    */
  def prepare(sql: String): String = {
    val body = new String(postTo(baseUrl.stripSuffix("/") + "/prepare", sql),
      StandardCharsets.UTF_8)
    """"handle"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(body)
      .map(m => SqlGateway.unescape(m.group(1)))
      .getOrElse(throw new RuntimeException(s"malformed prepare response: $body"))
  }

  private def execBody(handle: String, params: Seq[Any]): String = {
    val ps = params.map {
      case null => "null"
      case s: String => SqlGateway.jstr(s) // full escaper, control chars included
      case b: Boolean => b.toString
      case n => n.toString
    }.mkString("[", ",", "]")
    s"""{"handle":${SqlGateway.jstr(handle)},"params":$ps}"""
  }

  /** EXECUTE a prepared query with positional params. */
  def executeQuery(handle: String, params: Seq[Any]): QueryResult = {
    val (schema, rows) = org.apache.spark.sql.graft.ArrowWire.readIpc(
      postTo(baseUrl.stripSuffix("/") + "/exec", execBody(handle, params)))
    QueryResult(schema, rows)
  }

  /** EXECUTE a prepared DML/DDL with positional params. */
  def executeUpdate(handle: String, params: Seq[Any]): UpdateResult = {
    val (schema, rows) = org.apache.spark.sql.graft.ArrowWire.readIpc(
      postTo(baseUrl.stripSuffix("/") + "/exec", execBody(handle, params)))
    val n = schema.fieldNames.indexOf("num_affected_rows") match {
      case -1 => 0L
      case i if rows.nonEmpty => rows(0).getLong(i)
      case _ => 0L
    }
    UpdateResult(n)
  }

  /** CLOSE a prepared handle (unknown handles are a tolerated no-op). */
  def closePrepared(handle: String): Unit =
    postTo(baseUrl.stripSuffix("/") + "/close", handle)

  /** Release the server session eagerly via /bye (best-effort — the
    * server also reaps by idle timeout, so a lost request only delays
    * the cleanup it used to wait for unconditionally). Fire-and-forget:
    * rides SHORT timeouts (r19 review — a wedged server must not stall
    * a CLI exit for the 120 s long-query read timeout).
    */
  def disconnect(): Unit =
    try {
      val conn = new URL(baseUrl.stripSuffix("/") + "/bye")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(2000)
      conn.setReadTimeout(2000)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("X-Graft-Session", sessionKey)
      try {
        conn.getOutputStream.write(Array.empty[Byte])
        conn.getResponseCode
        ()
      } finally conn.disconnect()
    } catch { case _: Throwable => () }
}
