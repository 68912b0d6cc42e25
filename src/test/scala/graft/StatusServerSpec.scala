package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

class StatusServerSpec extends SparkTestBase {

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("prefix normalization matches the reference (status.rs:88-95)") {
    assert(StatusServer.normalizePrefix("") == "")
    assert(StatusServer.normalizePrefix("/") == "")
    assert(StatusServer.normalizePrefix("status") == "/status")
    assert(StatusServer.normalizePrefix("/status/") == "/status")
  }

  test("disabled start is a no-op returning None (status.rs:30-32)") {
    val m = new Metrics()
    val reg = new SessionRegistry(spark)
    assert(StatusServer.start(m, reg, enabled = false).isEmpty)
  }

  test("healthz, status page, and status.json served end-to-end (status.rs:43-47)") {
    val m = new Metrics(slowQueryThresholdMillis = 1)
    val reg = new SessionRegistry(spark, maxSessions = 7, idleTimeoutMillis = 600000)
    reg.getOrCreate("peer-a")
    m.record("SELECT 1", millis = 12, rowCount = 3)
    m.record("SELECT slow", millis = 50) // over the 1 ms slow threshold
    m.recordError("SELECT boom", "bad \"quote\" and\nnewline")
    val srv = StatusServer.start(m, reg, pathPrefix = "/admin").get
    try {
      val (hc, hb) = get(srv.boundPort, "/healthz")
      assert(hc == 200 && hb == "OK")

      val (pc, pb) = get(srv.boundPort, "/admin/")
      assert(pc == 200 && pb.contains("<html"))

      val (jc, jb) = get(srv.boundPort, "/admin/status.json")
      assert(jc == 200)
      // payload shape: StatusPayload (status.rs:18-23) + snapshots
      assert(jb.contains("\"generated_at_ms\""))
      assert(jb.contains("\"uptime_ms\""))
      assert(jb.contains("\"totals\":{\"queries\":2,\"errors\":1"))
      assert(jb.contains("\"total_sessions\":1"))
      assert(jb.contains("\"max_sessions\":7"))
      assert(jb.contains("\"session_timeout_seconds\":600"))
      assert(jb.contains("\"sql\":\"SELECT slow\""))
      // control characters escape cleanly in error messages
      assert(jb.contains("bad \\\"quote\\\" and\\nnewline"))

      val (nc, _) = get(srv.boundPort, "/admin/nope")
      assert(nc == 404)
    } finally srv.stop()
  }

  test("status.json serves the prepared-path counters and the row cache") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val catalog = sources.MutableCatalog(spark)
    val sess = new Session("status-serve", spark.newSession(), Some(catalog))
    catalog.create("st_serve", StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))), primaryKey = Some("k"))
    sess.sql("INSERT INTO st_serve VALUES (1, 'a'), (2, 'b')")
    sess.sql("UPDATE st_serve SET v = 'c' WHERE k = 2") // a driver-side rewrite
    val p = sess.createPrepared("SELECT v FROM st_serve WHERE k = ?")
    sess.executePrepared(p.handle, Seq(2L)).collect() // answered on the driver
    sess.executePrepared(p.handle, Seq(null)).collect() // declined: NULL parameter
    val q = sess.createPrepared("SELECT count(*) FROM st_serve")
    (1 to 2).foreach(_ => sess.executePrepared(q.handle, Seq.empty).collect()) // plan-cache miss, hit
    val before = Map(
      "point_read" -> ServeCounters.pointReadHits.get(),
      "null_param" -> ServeCounters.declined("null_param"),
      "plan_cache" -> ServeCounters.planCacheHits.get(),
      "misses" -> ServeCounters.planCacheMisses.get(),
      "driver_dml_rewrites" -> ServeCounters.driverRewrites.get())
    val srv = StatusServer.start(new Metrics(), new SessionRegistry(spark)).get
    try {
      val (jc, jb) = get(srv.boundPort, "/status.json")
      assert(jc == 200)
      // the counter following `key` in the payload
      def after(key: String): Double =
        ("\"" + java.util.regex.Pattern.quote(key) + "\":(?:\\{\"hits\":)?([0-9.]+)").r
          .findFirstMatchIn(jb).map(_.group(1).toDouble)
          .getOrElse(fail(s"no $key in $jb"))
      assert(jb.contains("\"serve\":{\"point_read\":{\"hits\":"))
      before.foreach { case (k, v) => assert(v > 0 && after(k) >= v, s"$k: $jb") }
      ServeCounters.declineReasons.foreach(r => assert(jb.contains(s"\"$r\":"), r))
      assert(after("entries") >= 1 && after("bytes") > 0 && after("max_bytes") > 0)
      val rate = after("hit_rate")
      assert(rate >= 0 && rate <= 1)
    } finally { srv.stop(); catalog.drop("st_serve") }
  }

  test("status.json serves the micro-lake writer lock's counters; a routed UPDATE moves all three") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val catalog = sources.MutableCatalog(spark)
    val sess = new Session("status-lock", spark.newSession(), Some(catalog))
    catalog.create("st_lock", StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))), primaryKey = Some("k"))
    sess.sql("INSERT INTO st_lock VALUES (1, 'a'), (2, 'b')")
    def counters = (ServeCounters.lakeWrites.get(), ServeCounters.lakeLockWaitNanos.get(),
      ServeCounters.lakeLockHoldNanos.get())
    val (writes0, wait0, hold0) = counters
    sess.sql("UPDATE st_lock SET v = 'c' WHERE k = 2")
    val (writes1, wait1, hold1) = counters
    // one write: the publish inside the UPDATE re-enters the lock the
    // UPDATE holds and is not counted again
    assert(writes1 == writes0 + 1, s"$writes0 -> $writes1")
    assert(wait1 > wait0 && hold1 > hold0, s"wait $wait0 -> $wait1, hold $hold0 -> $hold1")
    val srv = StatusServer.start(new Metrics(), new SessionRegistry(spark)).get
    try {
      val (jc, jb) = get(srv.boundPort, "/status.json")
      assert(jc == 200)
      def served(key: String): Double =
        ("\"" + key + "\":([0-9.Ee+-]+)").r.findFirstMatchIn(jb).map(_.group(1).toDouble)
          .getOrElse(fail(s"no $key in $jb"))
      assert(served("lake_writes") >= writes1)
      assert(served("lake_lock_wait_ms") >= wait1 / 1e6 * 0.999)
      assert(served("lake_lock_hold_ms") >= hold1 / 1e6 * 0.999 && served("lake_lock_hold_ms") > 0)
    } finally { srv.stop(); catalog.drop("st_lock") }
  }

  test("status.json serves the write amplification: a routed one-row DELETE deletes 1 row and rewrites none") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val catalog = sources.MutableCatalog(spark)
    val sess = new Session("status-amp", spark.newSession(), Some(catalog))
    catalog.create("st_amp", StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))), primaryKey = Some("k"))
    sess.sql("INSERT INTO st_amp VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    def counters = (ServeCounters.lakeRowsDeleted.get(), ServeCounters.lakeRowsRewritten.get())
    val (deleted0, rewritten0) = counters
    sess.sql("DELETE FROM st_amp WHERE k = 2")
    val (deleted1, rewritten1) = counters
    assert(deleted1 == deleted0 + 1, s"lake_rows_deleted $deleted0 -> $deleted1")
    assert(rewritten1 == rewritten0, s"lake_rows_rewritten $rewritten0 -> $rewritten1")
    // an UPDATE deletes the old row and writes the new one again
    sess.sql("UPDATE st_amp SET v = 'z' WHERE k = 3")
    assert(counters == ((deleted1 + 1, rewritten1 + 1)))
    val srv = StatusServer.start(new Metrics(), new SessionRegistry(spark)).get
    try {
      val (jc, jb) = get(srv.boundPort, "/status.json")
      assert(jc == 200)
      def served(key: String): Long =
        ("\"" + key + "\":([0-9]+)").r.findFirstMatchIn(jb).map(_.group(1).toLong)
          .getOrElse(fail(s"no $key in $jb"))
      assert(served("lake_rows_deleted") >= deleted1 + 1)
      assert(served("lake_rows_rewritten") >= rewritten1 + 1)
    } finally { srv.stop(); catalog.drop("st_amp") }
  }

  test("registry snapshot aggregates idle ages (registry.rs:36-42)") {
    val reg = new SessionRegistry(spark, maxSessions = 5, idleTimeoutMillis = 900000)
    val now = System.currentTimeMillis()
    val a = reg.getOrCreate("s1"); a.lastAccessMillis = now - 4000
    val b = reg.getOrCreate("s2"); b.lastAccessMillis = now - 2000
    val snap = reg.snapshot(now)
    assert(snap.totalSessions == 2)
    assert(snap.maxSessions == 5)
    assert(snap.sessionTimeoutSeconds == 900)
    assert(snap.oldestIdleMs == 4000)
    assert(snap.averageIdleMs == 3000)
  }
}
