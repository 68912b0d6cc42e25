package graft

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The SQL-over-HTTP query transport: a real socket a client connects
  * to (the in-sandbox stand-in for the jar-blocked Flight gRPC bind).
  * Pins JSON and Arrow response shapes, per-session transaction
  * affinity across requests, and the ErrorMapping→HTTP status table.
  */
class SqlGatewaySpec extends SparkTestBase {

  private def post(port: Int, sql: String,
      session: Option[String] = None,
      accept: Option[String] = None): (Int, Array[Byte], String) = {
    val conn = new URL(s"http://127.0.0.1:$port/sql")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    session.foreach(conn.setRequestProperty("X-Graft-Session", _))
    accept.foreach(conn.setRequestProperty("Accept", _))
    conn.getOutputStream.write(sql.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = is.readAllBytes()
    val ctype = Option(conn.getHeaderField("Content-Type")).getOrElse("")
    conn.disconnect()
    (code, body, ctype)
  }

  private def withGateway(f: (Int, sources.MutableCatalog) => Unit): Unit = {
    val catalog = sources.MutableCatalog(spark)
    val registry = new SessionRegistry(spark, catalog = Some(catalog))
    val metrics = new Metrics()
    val gw = SqlGateway.start(registry, metrics, identity)
    try f(gw.boundPort, catalog) finally gw.stop()
  }

  test("POST /sql answers JSON rows with columns and row_count") {
    withGateway { (port, _) =>
      val (code, body, ctype) = post(port, "SELECT 1 AS one, 'x' AS s")
      assert(code == 200 && ctype.startsWith("application/json"))
      val text = new String(body, StandardCharsets.UTF_8)
      assert(text == """{"columns":["one","s"],"rows":[[1,"x"]],"row_count":1}""",
        s"unexpected payload: $text")
    }
  }

  test("POST /bye releases the server session; repeat bye is a no-op (r19 review)") {
    val catalog = sources.MutableCatalog(spark)
    val registry = new SessionRegistry(spark, catalog = Some(catalog))
    val gw = SqlGateway.start(registry, new Metrics(), identity)
    try {
      val port = gw.boundPort
      val client = new HttpSqlClient(s"http://127.0.0.1:$port")
      assert(client.query("SELECT 1 AS x").rows.head.getInt(0) == 1)
      assert(registry.get(client.sessionKey).isDefined)
      client.disconnect()
      assert(registry.get(client.sessionKey).isEmpty,
        "/bye must drop the session instead of waiting out the idle TTL")
      client.disconnect() // already-reaped session: tolerated no-op
      // a later request simply materializes a fresh session
      assert(client.query("SELECT 2 AS x").rows.head.getInt(0) == 2)
      assert(registry.get(client.sessionKey).isDefined)
    } finally gw.stop()
  }

  test("prepared lifecycle over the socket: prepare, exec with params, DML routing, close") {
    withGateway { (port, catalog) =>
      import org.apache.spark.sql.types._
      catalog.create("gw_prep", StructType(Seq(
        StructField("k", LongType), StructField("s", StringType))), primaryKey = Some("k"))
      val client = new HttpSqlClient(s"http://127.0.0.1:$port")
      val ins = client.prepare("INSERT INTO gw_prep VALUES (?, ?)")
      assert(client.executeUpdate(ins, Seq(1L, "one")).rowsAffected == 1L)
      assert(client.executeUpdate(ins, Seq(2L, "two")).rowsAffected == 1L)
      // duplicate PK through the prepared path maps to an HTTP error
      val dup = intercept[RuntimeException](client.executeUpdate(ins, Seq(1L, "again")))
      assert(dup.getMessage.contains("duplicate"), dup.getMessage)
      val sel = client.prepare("SELECT s FROM gw_prep WHERE k = ?")
      assert(client.executeQuery(sel, Seq(2L)).rows.map(_.getString(0)).toSeq == Seq("two"))
      // string param with escapes survives the JSON round-trip
      val upd = client.prepare("UPDATE gw_prep SET s = ? WHERE k = ?")
      assert(client.executeUpdate(upd, Seq("a\"b\\c\nd", 1L)).rowsAffected == 1L)
      assert(client.executeQuery(sel, Seq(1L)).rows(0).getString(0) == "a\"b\\c\nd")
      client.closePrepared(sel)
      val gone = intercept[RuntimeException](client.executeQuery(sel, Seq(1L)))
      assert(gone.getMessage.contains("unknown prepared statement"), gone.getMessage)
      post(port, "DROP TABLE gw_prep")
    }
  }

  test("/prepare answers the placeholder count that binding uses") {
    withGateway { (port, _) =>
      def paramCount(sql: String): Int = {
        val conn = new URL(s"http://127.0.0.1:$port/prepare")
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(sql.getBytes(StandardCharsets.UTF_8))
        val body = new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        conn.disconnect()
        """"param_count":(\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt)
          .getOrElse(fail(s"no param_count in $body"))
      }
      val escaped = "SELECT k FROM gw_pc_v WHERE s = 'it\\'s' AND k = ?"
      assert(paramCount(escaped) == 1)
      assert(paramCount("SELECT /* ? */ ? AS a") == 1)
      assert(paramCount("SELECT `a?b` FROM (SELECT 1 AS `a?b`) WHERE `a?b` = ?") == 1)
      assert(paramCount("SELECT 'why?' AS q") == 0)
      // the escaped statement executes with its one argument
      val client = new HttpSqlClient(s"http://127.0.0.1:$port")
      client.query("CREATE OR REPLACE TEMP VIEW gw_pc_v AS " +
        "SELECT * FROM VALUES (1L, 'it\\'s'), (2L, 'its') AS v(k, s)")
      val h = client.prepare(escaped)
      assert(client.executeQuery(h, Seq(1L)).rows.map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("Nth gateway /exec of one handle serves from the session's plan cache (VERDICT r19 #1)") {
    val catalog = sources.MutableCatalog(spark)
    val registry = new SessionRegistry(spark, catalog = Some(catalog))
    val gw = SqlGateway.start(registry, new Metrics(), identity)
    try {
      import org.apache.spark.sql.types._
      catalog.create("gw_pc", StructType(Seq(
        StructField("g", LongType), StructField("v", LongType))))
      val client = new HttpSqlClient(s"http://127.0.0.1:${gw.boundPort}")
      client.update("INSERT INTO gw_pc VALUES (1, 10), (1, 20), (2, 30)")
      // a grouped query with no PK shape: rides the GENERIC prepared
      // path, not the point-read fast path
      val sel = client.prepare("SELECT g, SUM(v) AS sv FROM gw_pc GROUP BY g ORDER BY g")
      val first = client.executeQuery(sel, Seq.empty).rows
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(first == Seq((1L, 30L), (2L, 30L)))
      val session = registry.get(client.sessionKey).getOrElse(fail("session not pinned"))
      val h0 = session.planCacheHits.get()
      (1 to 3).foreach { _ =>
        assert(client.executeQuery(sel, Seq.empty).rows
          .map(r => (r.getLong(0), r.getLong(1))).toSeq == first)
      }
      assert(session.planCacheHits.get() >= h0 + 3,
        s"gateway re-executions must hit the plan cache (${session.planCacheHits.get()} vs $h0)")
      // DML through the gateway invalidates: the next /exec re-plans and
      // sees the new row
      client.update("INSERT INTO gw_pc VALUES (2, 5)")
      assert(client.executeQuery(sel, Seq.empty).rows
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 30L), (2L, 35L)))
      client.update("DROP TABLE gw_pc")
    } finally gw.stop()
  }

  test("unicode escapes require ASCII hex digits (ADVICE r15)") {
    // JSON forbids non-ASCII digits in \uXXXX escapes; Character.digit
    // accepts them (e.g. Arabic-Indic '\u0661'), so a malformed escape
    // like \u followed by Arabic-Indic digits must pass through
    // verbatim, not decode
    val arabicIndic = "\\u\u0661\u0662\u0663\u0664"
    assert(SqlGateway.unescape(arabicIndic) == arabicIndic)
    // fullwidth hex letters are also non-ASCII: verbatim
    val fullwidth = "\\u\uFF21\uFF22\uFF23\uFF24"
    assert(SqlGateway.unescape(fullwidth) == fullwidth)
    // real ASCII hex still decodes
    assert(SqlGateway.unescape("\\u0041") == "A")
    assert(SqlGateway.unescape("\\u00e9") == "\u00e9")
  }

  test("backslash-then-letter params survive the wire verbatim (single-pass unescape)") {
    withGateway { (port, catalog) =>
      import org.apache.spark.sql.types._
      catalog.create("gw_esc", StructType(Seq(
        StructField("k", LongType), StructField("s", StringType))), primaryKey = Some("k"))
      val client = new HttpSqlClient(s"http://127.0.0.1:$port")
      val ins = client.prepare("INSERT INTO gw_esc VALUES (?, ?)")
      val sel = client.prepare("SELECT s FROM gw_esc WHERE k = ?")
      // ADVICE r14 (high): the ordered-replace decoder turned 'C:\new'
      // into 'C:' + newline + 'ew' — literal backslash followed by
      // n/r/t is exactly the pattern the old chain corrupted
      val payloads = Seq(
        1L -> "C:\\new",           // \ then n
        2L -> "a\\tb",             // \ then t
        3L -> "r:\\rows\\n",       // \ then r, trailing \ then n
        4L -> "end\\",             // trailing lone backslash
        5L -> "mix\t\\t\n\\n\"q\"") // real control chars NEXT TO escaped pairs
      payloads.foreach { case (k, v) =>
        assert(client.executeUpdate(ins, Seq(k, v)).rowsAffected == 1L)
      }
      payloads.foreach { case (k, v) =>
        val got = client.executeQuery(sel, Seq(k)).rows(0).getString(0)
        assert(got == v, s"k=$k: sent ${v.map(_.toInt)} got ${got.map(_.toInt)}")
      }
      post(port, "DROP TABLE gw_esc")
    }
  }

  test("parseExecBody decodes standard JSON \\uXXXX escapes") {
    // a conforming third-party client (the endpoint mimics the JDBC/
    // BenchBase shape) sends non-ASCII as \uXXXX
    // built by concatenation: Scala's own scanner decodes \u escapes
    // inside source literals, triple-quoted included
    val U = "\\u"
    val (h, ps) = SqlGateway.parseExecBody(
      s"""{"handle":"s${U}002d1","params":["caf${U}00e9", "${U}0041\\\\u", 3]}""")
    assert(h == "s-1")
    assert(ps == Seq("caf\u00e9", "A\\u", 3L), ps.toString)
  }

  test("parseExecBody binds the TOP-LEVEL handle, not handle-shaped text inside a param (r18 review)") {
    // a client relaying JSON as a string parameter, serialized with
    // params BEFORE handle: the old findFirstMatchIn bound the escaped
    // occurrence inside the param and executed the WRONG statement
    val (h, ps) = SqlGateway.parseExecBody(
      """{"params":["{\"handle\":\"sess-stmt-1\"}", 7],"handle":"sess-stmt-2"}""")
    assert(h == "sess-stmt-2", s"bound $h")
    assert(ps == Seq("""{"handle":"sess-stmt-1"}""", 7L), ps.toString)
    // and params-shaped text inside a string must not hijack the array
    val (h2, ps2) = SqlGateway.parseExecBody(
      """{"handle":"s-9","params":["\"params\":[99]", 1]}""")
    assert(h2 == "s-9" && ps2 == Seq("\"params\":[99]", 1L), s"$h2 / $ps2")
  }

  test("concurrent /exec on one shared handle never crosses params (atomic bind+execute)") {
    withGateway { (port, _) =>
      // one session, one prepared echo statement, 4 threads x 25 execs:
      // every response must echo exactly the params THAT request sent —
      // a pendingParams race would hand one thread another's binding
      val client = new HttpSqlClient(s"http://127.0.0.1:$port")
      val h = client.prepare("SELECT ? AS a, ? AS b")
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 4).map { t =>
        val th = new Thread(() => {
          for (i <- 0 until 25) {
            val a = t * 1000L + i; val b = s"t$t-$i"
            try {
              val r = client.executeQuery(h, Seq(a, b)).rows(0)
              if (r.getLong(0) != a || r.getString(1) != b)
                errors.add(s"sent ($a,$b) got (${r.getLong(0)},${r.getString(1)})")
            } catch { case e: Throwable => errors.add(e.getMessage) }
          }
        })
        th.start(); th
      }
      threads.foreach(_.join())
      assert(errors.isEmpty, s"crossed params under concurrency: ${errors.peek()}")
    }
  }

  test("JSON path streams a multi-wave result (no whole-result buffering)") {
    withGateway { (port, _) =>
      // 64 result partitions = 4 waves of 16: the old collect() path
      // buffered everything; the streamed path emits rows wave by wave
      // into the chunked response. Pin the complete envelope + count.
      val (code, body, ctype) =
        post(port, "SELECT id FROM range(0, 100000, 1, 64) ORDER BY id")
      assert(code == 200 && ctype.startsWith("application/json"))
      val text = new String(body, StandardCharsets.UTF_8)
      assert(text.startsWith("""{"columns":["id"],"rows":[[0],[1],"""), text.take(60))
      assert(text.endsWith(""","row_count":100000}"""), text.takeRight(40))
    }
  }

  test("a mid-stream JSON failure truncates the body before the row_count seal") {
    withGateway { (port, _) =>
      // the failing row sits in partition 32 (wave 3): the first wave
      // primes clean, the 200 goes out, then the stream dies — the body
      // must be unparseable (missing the closing row_count key), never
      // mistakable for a complete shorter result
      val got =
        try {
          val (code, body, _) =
            post(port, "SELECT 10 / (id - 50000) AS v FROM range(0, 100000, 1, 64)")
          Some((code, new String(body, StandardCharsets.UTF_8)))
        } catch { case _: java.io.IOException => None } // chunked stream cut: also fine
      got.foreach { case (code, text) =>
        assert(code == 200, s"first wave is clean, status must be 200: $code")
        assert(!text.contains("row_count"),
          s"truncated body must not carry the completeness seal: ${text.takeRight(60)}")
      }
    }
  }

  test("a runtime failure on the Arrow path maps to an HTTP error, not a broken 200 body") {
    withGateway { (port, _) =>
      // ANSI division by zero at EXECUTION time (column-dependent, so
      // not constant-folded): prepareIpcStream's first-wave priming must
      // surface it before the 200 status line goes out
      val (code, body, _) = post(port, "SELECT 10 / (id - 5) AS v FROM range(10)",
        accept = Some(SqlGateway.arrowContentType))
      assert(code >= 400, s"runtime failure must not stream a 200: got $code")
      assert(new String(body, StandardCharsets.UTF_8).contains("error"))
    }
  }

  test("Accept: arrow stream returns IPC bytes that round-trip through ArrowWire") {
    withGateway { (port, _) =>
      val (code, body, ctype) =
        post(port, "SELECT 7 AS n", accept = Some(SqlGateway.arrowContentType))
      assert(code == 200 && ctype.startsWith(SqlGateway.arrowContentType))
      val back = org.apache.spark.sql.graft.ArrowWire.fromIpcStream(spark, body).collect()
      assert(back.length == 1 && back(0).getInt(0) == 7,
        "the gateway's Arrow payload must decode to the query result")
    }
  }

  test("X-Graft-Session pins a session: a transaction spans requests") {
    withGateway { (port, catalog) =>
      catalog.create("gw_t", StructType(Seq(
        StructField("id", LongType), StructField("v", StringType))))
      assert(post(port, "BEGIN", session = Some("client-a"))._1 == 200)
      assert(post(port, "INSERT INTO gw_t VALUES (1, 'staged')", session = Some("client-a"))._1 == 200)
      // another session must NOT see the staged write
      val (c1, b1, _) = post(port, "SELECT COUNT(*) AS n FROM gw_t", session = Some("client-b"))
      assert(c1 == 200 && new String(b1).contains("\"rows\":[[0]]"),
        s"staged write leaked across sessions: ${new String(b1)}")
      assert(post(port, "COMMIT", session = Some("client-a"))._1 == 200)
      val (c2, b2, _) = post(port, "SELECT COUNT(*) AS n FROM gw_t", session = Some("client-b"))
      assert(c2 == 200 && new String(b2).contains("\"rows\":[[1]]"),
        s"committed write must be visible: ${new String(b2)}")
    }
  }

  test("arrow responses stream chunked: multi-batch result, no Content-Length (r13 #3)") {
    withGateway { (port, _) =>
      val conn = new URL(s"http://127.0.0.1:$port/sql")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Accept", SqlGateway.arrowContentType)
      conn.getOutputStream.write(
        "SELECT id AS v FROM range(0, 6000)".getBytes(StandardCharsets.UTF_8))
      assert(conn.getResponseCode == 200)
      // chunked transfer = streamed body; a buffered response would have
      // carried Content-Length instead
      assert(Option(conn.getHeaderField("Transfer-encoding")).exists(_.equalsIgnoreCase("chunked")),
        s"expected chunked transfer, headers: ${conn.getHeaderFields}")
      assert(conn.getHeaderField("Content-Length") == null)
      val body = conn.getInputStream.readAllBytes()
      conn.disconnect()
      // the stream must carry MULTIPLE record-batch messages (6000 rows
      // at the 2048-row wire batch size) and decode to the full result
      val allocator = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(body), allocator)
      var batches = 0; var rows = 0L
      try while (reader.loadNextBatch()) {
        batches += 1; rows += reader.getVectorSchemaRoot.getRowCount
      } finally { reader.close(); allocator.close() }
      assert(batches >= 3 && rows == 6000,
        s"expected >=3 batches / 6000 rows on the wire, got $batches / $rows")
    }
  }

  test("ATTACH → DDL/DML → DETACH → re-ATTACH durability over the socket (r13 #2)") {
    withGateway { (port, _) =>
      // the ducklake_basic.test lifecycle, driven by a live HTTP client
      // through Session.sql (NOT the test runner's private rewrite)
      assert(post(port, "ATTACH 'ducklake:/tmp/gw_lake.db' AS gw_lake (DATA_PATH '/tmp/gw_lake_files')",
        session = Some("attacher"))._1 == 200)
      assert(post(port, "DROP TABLE IF EXISTS gw_lake.t", session = Some("attacher"))._1 == 200)
      assert(post(port, "CREATE TABLE gw_lake.t(i INT, j INT)",
        session = Some("attacher"))._1 == 200)
      assert(post(port, "INSERT INTO gw_lake.t VALUES (1, 2), (3, 4)",
        session = Some("attacher"))._1 == 200)
      assert(post(port, "DETACH gw_lake", session = Some("attacher"))._1 == 200)
      // re-attach FROM A DIFFERENT SESSION: the lake is durable, the
      // tables and rows must all survive
      assert(post(port, "ATTACH 'ducklake:/tmp/gw_lake.db' AS gw_lake",
        session = Some("reattacher"))._1 == 200)
      val (c, b, _) = post(port,
        "SELECT COUNT(*) AS n, SUM(i + j) AS s FROM gw_lake.t", session = Some("reattacher"))
      assert(c == 200 && new String(b).contains("\"rows\":[[2,10]]"),
        s"durable re-attach must see the inserted rows: ${new String(b)}")
      // USE switches the session's current database (session/mod.rs's
      // current-catalog semantics ride Spark's own USE) — bare names
      // then resolve inside the attached lake
      assert(post(port, "USE gw_lake", session = Some("reattacher"))._1 == 200)
      val (cu, bu, _) = post(port, "SELECT COUNT(*) AS n FROM t", session = Some("reattacher"))
      assert(cu == 200 && new String(bu).contains("\"rows\":[[2]]"),
        s"bare name must resolve in the USEd database: ${new String(bu)}")
      post(port, "DROP TABLE gw_lake.t", session = Some("reattacher"))
    }
  }

  test("errors map to HTTP statuses: parse 400, missing table 404, GET 405") {
    withGateway { (port, _) =>
      val (c1, b1, _) = post(port, "SELEKT 1")
      assert(c1 == 400 && new String(b1).contains("INVALID_ARGUMENT"))
      val (c2, b2, _) = post(port, "SELECT * FROM missing_gateway_table")
      assert(c2 == 404, s"missing table must be 404, got $c2: ${new String(b2)}")
      val conn = new URL(s"http://127.0.0.1:$port/sql")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      assert(conn.getResponseCode == 405)
      conn.disconnect()
    }
  }

  test("HttpSqlClient + Shell drive the gateway end-to-end: box table, DML counts, txn affinity") {
    withGateway { (port, catalog) =>
      catalog.create("gw_cli_t", StructType(Seq(
        StructField("id", LongType), StructField("v", StringType))))
      val client = new HttpSqlClient(s"http://127.0.0.1:$port")
      // the shell's query path renders a remote Arrow result as the
      // reference's box table
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.PrintStream(bos, true, "UTF-8")
      val shell = new Shell(client, out, out)
      shell.executeAndDisplay("SELECT 1 AS one, 'x' AS s")
      val rendered = bos.toString("UTF-8")
      assert(rendered.contains("│ one │ s │".replace(" ", " ")) || rendered.contains("one"),
        s"box table must render remote results: $rendered")
      assert(rendered.contains("1 row in"), s"timing line missing: $rendered")
      // DML through update(): the num_affected_rows surface carries over
      assert(client.update("INSERT INTO gw_cli_t VALUES (1, 'a')").rowsAffected == 1L)
      // a transaction spans requests on ONE client and is invisible to another
      client.update("BEGIN")
      client.update("INSERT INTO gw_cli_t VALUES (2, 'staged')")
      val other = new HttpSqlClient(s"http://127.0.0.1:$port")
      assert(other.query("SELECT COUNT(*) AS n FROM gw_cli_t").rows(0).getLong(0) == 1L,
        "another remote client must not see the staged write")
      client.update("COMMIT")
      assert(other.query("SELECT COUNT(*) AS n FROM gw_cli_t").rows(0).getLong(0) == 2L)
      // server errors surface as exceptions carrying the server message
      val e = intercept[RuntimeException](client.query("SELECT * FROM gw_missing"))
      assert(e.getMessage.contains("HTTP 404"), s"got: ${e.getMessage}")
    }
  }

  test("the boot assembly exposes the gateway on the configured data port") {
    val cfg = ServerConfig.load(Map(
      "SWANLAKE_HOST" -> "127.0.0.1",
      "SWANLAKE_PORT" -> "0",
      "SWANLAKE_STATUS_ENABLED" -> "false"))
    val running = Server.boot(cfg, sharedSpark = Some(spark))
    try {
      val port = running.gateway.get.boundPort
      val (code, body, _) = post(port, "SELECT 42 AS answer")
      assert(code == 200 && new String(body).contains("\"rows\":[[42]]"))
      assert(running.metrics.queries >= 1L, "gateway requests must hit the metrics")
    } finally running.shutdown()
  }
}
