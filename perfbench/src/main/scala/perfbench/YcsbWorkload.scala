package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{HttpSqlClient, SqlParams}
import graft.sources.MutableCatalog

/** `ycsb`: YCSB's 50/5/15/10/10/10 read/scan/insert/update/delete/
  * read-modify-write mix as prepared statements over the gateway,
  * against a primary-keyed `usertable` in the micro-lake. Open loop:
  * requests arrive on a seeded, evenly paced schedule on 4 connections
  * (one server session each), at each rate of a fixed ladder, then a
  * closed loop measures saturated throughput. Gateway,
  * session, point reads and micro-lake DML do the work; Spark executes
  * almost nothing.
  */
object YcsbWorkload extends Workload {
  val name = "ycsb"
  val sf = 0.0
  val tables: Seq[String] = Nil
  val conns = 4
  val initialRows = 1000
  val fieldLen = 100
  val theta = 0.99
  /** Offered rates, ops/s: about a quarter and a half of what 4 busy
    * connections complete on a 4-core host. Every rate runs; the closed
    * loop after them is the point above capacity. A rate nearer
    * saturation made the pooled p90 swing from 0.3 s to 1.6 s across
    * seeds, with every burst of arrivals.
    */
  val ladder: Seq[Double] = Seq(4.0, 8.0)
  /** Latency limit on a rate's p90, from each request's due time. */
  val limitMs = 1000.0
  /** Share of the measured window given to the closed loop that
    * measures saturated throughput; the rates share the rest equally.
    * The rate is the connection count over the mean latency (Little's
    * law, exact for a closed loop), so a stall anywhere in the window
    * lowers it; unlike a count of completions it is not quantised by
    * the window's edges. 4-second slices of one warm loop differ by a
    * sixth, so an 8 s window left runs a third apart; what remains with
    * a 20 s window is mostly the JVM's: one seed's runs alone differ by
    * a tenth.
    */
  val closedShare = 0.7
  /** Connections in the closed loop. Two saturate the table's write
    * lock as four do (the same throughput within noise) and leave half
    * the cores to the JIT, the collector and Spark.
    */
  val closedConns = 2

  val schema: StructType = StructType(StructField("ycsb_key", LongType) +:
    (1 to 10).map(i => StructField(s"field$i", StringType)))

  val statements: Map[String, String] = Map(
    "read" -> "SELECT * FROM usertable WHERE ycsb_key = ?",
    "scan" -> "SELECT * FROM usertable WHERE ycsb_key BETWEEN ? AND ? ORDER BY ycsb_key",
    "insert" -> s"INSERT INTO usertable VALUES (${Seq.fill(11)("?").mkString(", ")})",
    "update" -> "UPDATE usertable SET field1 = ? WHERE ycsb_key = ?",
    "delete" -> "DELETE FROM usertable WHERE ycsb_key = ?")

  type Fields = IndexedSeq[String]

  sealed trait Op { def kind: String }
  final case class Read(key: Long, expect: Option[Fields]) extends Op { val kind = "read" }
  final case class Scan(lo: Long, hi: Long, conn: Int, expectOwn: Seq[(Long, Fields)]) extends Op { val kind = "scan" }
  final case class Insert(key: Long, fields: Fields) extends Op { val kind = "insert" }
  final case class Update(key: Long, value: String, expect: Long) extends Op { val kind = "update" }
  final case class Delete(key: Long, expect: Long) extends Op { val kind = "delete" }
  final case class Rmw(read: Read, update: Update) extends Op { val kind = "rmw" }

  val kinds = Seq("read", "scan", "insert", "update", "delete", "rmw")

  def text(rng: java.util.Random, n: Int): String = {
    val b = new StringBuilder(n)
    while (b.length < n) b += ('a' + rng.nextInt(26)).toChar
    b.toString
  }

  /** YCSB's zipfian generator (Gray et al.) over ranks 0 until n. */
  final class Zipf(n: Int, theta: Double) {
    private def zeta(k: Int): Double = (1 to k).map(i => 1.0 / math.pow(i, theta)).sum
    private val zetaN = zeta(n)
    private val alpha = 1.0 / (1.0 - theta)
    private val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta(2) / zetaN)
    def next(rng: java.util.Random): Int = {
      val u = rng.nextDouble()
      val uz = u * zetaN
      if (uz < 1.0) 0
      else if (uz < 1.0 + math.pow(0.5, theta)) 1
      else math.min(n - 1, (n * math.pow(eta * u - eta + 1, alpha)).toInt)
    }
  }

  /** One connection's view of its own keys (key % conns == conn): the
    * connection alone writes them and runs its requests in order, so
    * the expected answer of every request is known when it is drawn.
    */
  final class Model(conn: Int, seed: Long, initial: Map[Long, Fields]) {
    private val rng = new java.util.Random(seed * 7919L + conn)
    private val own = initial.keys.filter(_ % conns == conn).toIndexedSeq.sorted
    // hot ranks scattered over the key space, as YCSB scrambles them
    private val scrambled = new scala.util.Random(DataGen.seed * 31 + conn).shuffle(own)
    private val zipf = new Zipf(own.size, theta)
    private val live = mutable.Map.empty[Long, Fields] ++ initial.filter(_._1 % conns == conn)
    private val inserted = mutable.Queue.empty[Long]
    private var nextInsert = 0L

    private def hot(): Long = scrambled(zipf.next(rng))
    private def read(k: Long): Read = Read(k, live.get(k))
    private def update(k: Long): Update = {
      val v = text(rng, fieldLen)
      val hit = live.get(k)
      hit.foreach(f => live(k) = v +: f.tail)
      Update(k, v, if (hit.isDefined) 1 else 0)
    }

    def next(): Op = {
      val r = rng.nextDouble()
      if (r < 0.50) read(hot())
      else if (r < 0.55) {
        val lo = hot()
        val hi = lo + rng.nextInt(10)
        Scan(lo, hi, conn, live.toSeq.filter { case (k, _) => k >= lo && k <= hi }.sortBy(_._1))
      } else if (r < 0.70) {
        val k = initialRows + nextInsert * conns + conn
        nextInsert += 1
        val f = IndexedSeq.fill(10)(text(rng, fieldLen))
        live(k) = f
        inserted.enqueue(k)
        Insert(k, f)
      } else if (r < 0.80) update(hot())
      else if (r < 0.90) {
        // deletes retire this connection's oldest insert, keeping the
        // table near its loaded size; with none left, a never-used key
        if (inserted.nonEmpty) { val k = inserted.dequeue(); live.remove(k); Delete(k, 1) }
        else Delete(-1L - conn, 0)
      } else {
        val k = hot()
        val rd = read(k)
        Rmw(rd, update(k))
      }
    }
  }

  /** The loaded rows. The run draws them, and each connection's hot-key
    * scramble, from the fixed data seed: with both drawn from the run
    * seed, one seed's runs read a quarter above another's.
    */
  def initialData(seed: Long): Map[Long, Fields] = {
    val rng = new java.util.Random(seed)
    (0L until initialRows).map(k => k -> IndexedSeq.fill(10)(text(rng, fieldLen))).toMap
  }

  // --- answers ------------------------------------------------------------

  private def fields(r: Row): Fields = (1 to 10).map(r.getString)

  def checkRead(op: Read, rows: Seq[Row]): Boolean = op.expect match {
    case Some(f) => rows.size == 1 && rows.head.getLong(0) == op.key && fields(rows.head) == f
    case None => rows.isEmpty
  }

  def checkScan(op: Scan, rows: Seq[Row]): Boolean = {
    val keys = rows.map(_.getLong(0))
    keys.forall(k => k >= op.lo && k <= op.hi) && keys == keys.sorted.distinct &&
      rows.filter(_.getLong(0) % conns == op.conn).map(r => r.getLong(0) -> fields(r)) == op.expectOwn
  }

  // --- the server ---------------------------------------------------------

  final class Setup(val served: Served, val catalog: MutableCatalog,
      val clients: IndexedSeq[(HttpSqlClient, Map[String, String])]) {
    def table = catalog.get("usertable").get
  }

  private def setUp(ctx: Ctx, initial: Map[Long, Fields]): Setup = {
    val lake = Files.createTempDirectory(Paths.get(ctx.workDir), "lake")
    val cat = new MutableCatalog(ctx.spark, lake)
    cat.create("usertable", schema, primaryKey = Some("ycsb_key"))
    val rows = initial.toSeq.sortBy(_._1).map { case (k, f) =>
      (k.toString +: f.map(SqlParams.literal)).mkString("(", ", ", ")")
    }
    require(cat.route(s"INSERT INTO usertable VALUES ${rows.mkString(", ")}").contains(initialRows.toLong))
    val served = new Served(ctx.spark, Some(cat))
    val clients = Workload.parallel(0 until conns, conns) { _ =>
      val c = served.client()
      c -> statements.map { case (k, sql) => k -> c.prepare(sql) }
    }.toIndexedSeq
    new Setup(served, cat, clients)
  }

  /** Run `op` over HTTP on connection `c`; true when the answer is right. */
  private def overHttp(s: Setup, c: Int, op: Op): Boolean = {
    val (client, h) = s.clients(c)
    op match {
      case r: Read => checkRead(r, client.executeQuery(h("read"), Seq(r.key)).rows.toSeq)
      case sc: Scan => checkScan(sc, client.executeQuery(h("scan"), Seq(sc.lo, sc.hi)).rows.toSeq)
      case i: Insert => client.executeUpdate(h("insert"), i.key +: i.fields).rowsAffected == 1
      case u: Update => client.executeUpdate(h("update"), Seq(u.value, u.key)).rowsAffected == u.expect
      case d: Delete => client.executeUpdate(h("delete"), Seq(d.key)).rowsAffected == d.expect
      case m: Rmw => overHttp(s, c, m.read) & overHttp(s, c, m.update)
    }
  }

  val setUps = 9

  def run(ctx: Ctx): Outcome = {
    val initial = initialData(DataGen.seed)
    // nine set-ups (each well under a second): the median of three
    // swung by a third across seeds in a cold JVM, that of five by a
    // quarter
    val (setup, setupS) = Workload.setUp(setUps)(setUp(ctx, initial))(_.served.close())
    Workload.log("set up")
    try {
      val models = (0 until conns).map(c => new Model(c, ctx.seed, initial))
      if (ctx.trace) traced(ctx, setup, models.head)
      else measured(ctx, setup, models, setupS)
    } finally setup.served.close()
  }

  private def schedule(models: Seq[Model], rate: Double, seconds: Double,
      rng: java.util.Random): Seq[Due[Op]] =
    OpenLoop.paced(rate, seconds, models.size, rng).map { case (t, c) => Due(t, c, models(c).next()) }

  private def measured(ctx: Ctx, s: Setup, models: Seq[Model], setupS: Double): Outcome = {
    val arrivals = ctx.rng(2)
    // the measured closed loop continues the warm-up's, so no idle gap
    // separates them
    val closedSeconds = ctx.seconds * closedShare
    val closedLat = closedLoop(ctx, s, models.take(closedConns), warmSeconds, closedSeconds)
    Workload.log(f"warm, then closed loop: ${closedLat.size} requests, ${closedConns * 1000.0 / Stats.mean(closedLat)}%.1f/s")
    val rungSeconds = ctx.seconds * (1 - closedShare) / ladder.size
    val rungs = ladder.map { rate =>
      val rung = OpenLoop.run(rate, (rungSeconds * 1e9).toLong, schedule(models, rate, rungSeconds, arrivals), conns) {
        (c, op) => ctx.tally.record(overHttp(s, c, op))
      }
      Workload.log(f"rate $rate%.1f/s: ${rung.sent.size} requests, p90 ${tail(rung)}%.0f ms, " +
        s"backlog ${rung.backlogMid} then ${rung.backlogEnd}, ${if (meets(rung)) "meets" else "misses"} the limit")
      rung
    }
    val saturated = closedConns * 1000.0 / Stats.mean(closedLat)
    val sent = rungs.flatMap(_.sent)
    val lat = sent.map(_.latencyMs)
    val reads = sent.filter(_.req.op.kind == "read").map(_.latencyMs)
    val maxRate = rungs.filter(meets).map(_.rate).maxOption.getOrElse(0.0)
    val perKind = kinds.map { k =>
      val xs = sent.filter(_.req.op.kind == k).map(_.latencyMs)
      Metric(s"ycsb.$k.p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms", xs.size)
    }
    val perRung = rungs.flatMap { r =>
      val tag = f"ycsb.rate_${r.rate}%.0f"
      val xs = r.sent.map(_.latencyMs)
      Seq(Metric(s"$tag.p50_ms", Stats.median(xs), "ms", xs.size),
        Metric(s"$tag.p90_ms", Stats.percentile(xs, 90), "ms", xs.size),
        Metric(s"$tag.p99_ms", Stats.percentile(xs, 99), "ms", xs.size),
        Metric(s"$tag.lag_p99_ms", r.lagP99Ms, "ms", xs.size),
        Metric(s"$tag.backlog_mid", r.backlogMid, "count"),
        Metric(s"$tag.backlog_end", r.backlogEnd, "count"),
        Metric(s"$tag.meets_limit", if (meets(r)) 1 else 0, "bool"))
    }
    Outcome(
      Seq(Metric("setup_s", setupS, "s", setUps), Metric("throughput", saturated, "1/s", closedLat.size),
        Metric("p50_ms", Stats.median(reads), "ms", reads.size)),
      perKind ++ Seq(
        Metric("ycsb.p99_ms", Stats.percentile(lat, 99), "ms", lat.size),
        Metric("ycsb.max_rate_ops", maxRate, "1/s", rungs.size),
        Metric("ycsb.saturated_ops", saturated, "1/s", closedLat.size),
        Metric("ycsb.closed_loop_completed_per_s", closedLat.size / closedSeconds, "1/s", closedLat.size),
        Metric("ycsb.p90_ms", Stats.percentile(lat, 90), "ms", lat.size),
        Metric("setup_s", setupS, "s", setUps)) ++ perRung)
  }

  /** Every connection sends back to back for `warm + seconds`; returns
    * the latency in ms of each request sent after the first `warm`
    * seconds.
    */
  private def closedLoop(ctx: Ctx, s: Setup, models: Seq[Model], warm: Double, seconds: Double): Seq[Double] = {
    val from = System.nanoTime() + (warm * 1e9).toLong
    val until = from + (seconds * 1e9).toLong
    Workload.parallel(models.indices, models.size) { c =>
      val lat = Seq.newBuilder[Double]
      while (System.nanoTime() < until) {
        val t0 = System.nanoTime()
        ctx.tally.record(overHttp(s, c, models(c).next()))
        if (t0 >= from) lat += (System.nanoTime() - t0) / 1e6
      }
      lat.result()
    }.flatten
  }

  /** Untimed closed loop before measuring. A fresh JVM's saturated
    * throughput on this traffic doubles over its first ~8 s (JIT
    * compilation of the planner and DML paths) and then creeps up by a
    * sixth over the next minute; read latency keeps falling for ~45 s.
    * The rates run after the measured closed loop, later on that slope.
    */
  val warmSeconds = 12.0

  private def warmUp(ctx: Ctx, s: Setup, models: Seq[Model]): Unit = {
    closedLoop(ctx, s, models, warmSeconds, 0.0)
    Workload.log("warm")
  }

  private def tail(r: Rung[Op]): Double = Stats.percentile(r.sent.map(_.latencyMs), 90)

  private def meets(r: Rung[Op]): Boolean = tail(r) <= limitMs && !r.backlogGrowing(conns)

  // --- traced run ---------------------------------------------------------

  /** Serial open loop on one connection at the lowest rate. Requests
    * take turns between the HTTP path, the in-process layer calls and,
    * for writes, a direct `MutableCatalog.route`. An in-process read or
    * scan runs twice, with spans and without them (taking turns going
    * first); the two times of the same requests price the tracing.
    */
  private def traced(ctx: Ctx, s: Setup, model: Model): Outcome = {
    warmUp(ctx, s, Seq(model))
    val arrivals = ctx.rng(3)
    val rate = ladder.head
    val secs = math.max(ctx.seconds.toDouble, 2.0)
    val tracer = new Tracer
    val probe = new TraceProbe(ctx.spark)
    val inproc = new InProcess(s.served, tracer)
    val bare = new InProcess(s.served, new Tracer(enabled = false))
    val (client, h) = s.clients(0)
    val table = s.table
    val dir = Paths.get(table.dataDirKey)
    val filesBefore = files(dir).keySet
    val v0 = table.currentVersion
    val bytes = mutable.ArrayBuffer.empty[Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val fastPath = mutable.ArrayBuffer.empty[Boolean]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val dmlMs = mutable.ArrayBuffer.empty[Double]
    val spannedMs, bareMs = mutable.ArrayBuffer.empty[Double] // in-process reads and scans
    val bareReadMs = mutable.ArrayBuffer.empty[Double]
    val writeWindows = mutable.ArrayBuffer.empty[(Long, Long)] // session-path writes, wall ms
    var userBytes = 0L
    var writes = 0

    def timed(in: InProcess, handle: String, params: Seq[Any]): (InProcess.Answer, Double) = {
      val t0 = System.nanoTime()
      val a = in.execute(client.sessionKey, h(handle), params)
      (a, (System.nanoTime() - t0) / 1e6)
    }
    def readTwice(handle: String, params: Seq[Any])(check: Seq[Row] => Boolean): Boolean = {
      val order = if (spannedMs.size % 2 == 0) Seq(inproc, bare) else Seq(bare, inproc)
      val got = order.map(in => in -> timed(in, handle, params)).toMap
      val (a, aMs) = got(inproc)
      val (b, bMs) = got(bare)
      spannedMs += aMs
      bareMs += bMs
      if (handle == "read") bareReadMs += bMs
      observeRead(a.df)
      bytes += a.bytes
      check(a.rows.toSeq) & check(b.rows.toSeq)
    }

    def local(op: Op, viaLake: Boolean): Boolean = op match {
      case r: Read => readTwice("read", Seq(r.key))(checkRead(r, _))
      case sc: Scan => readTwice("scan", Seq(sc.lo, sc.hi))(checkScan(sc, _))
      case m: Rmw => local(m.read, viaLake) & local(m.update, viaLake)
      case w =>
        writes += 1
        userBytes += (w match { case i: Insert => 8L + i.fields.map(_.length).sum; case u: Update => u.value.length; case _ => 0L })
        val (handle, params, sql, expect) = w match {
          case i: Insert => ("insert", i.key +: i.fields, statements("insert"), 1L)
          case u: Update => ("update", Seq(u.value, u.key), statements("update"), u.expect)
          case d: Delete => ("delete", Seq(d.key), statements("delete"), d.expect)
          case other => throw new IllegalStateException(s"not a write: $other")
        }
        if (viaLake) {
          val t0 = System.nanoTime()
          val n = tracer.request("lake")(tracer.span("lake.route")(s.catalog.route(SqlParams.bind(sql, params))))
          dmlMs += (System.nanoTime() - t0) / 1e6
          n.contains(expect)
        } else {
          val from = System.currentTimeMillis()
          val a = inproc.execute(client.sessionKey, h(handle), params)
          writeWindows += (from -> System.currentTimeMillis())
          a.rows.headOption.exists(_.getLong(0) == expect)
        }
    }

    def observeRead(df: org.apache.spark.sql.DataFrame): Unit = {
      planMs += Plans.planMs(df)
      fastPath += Plans.holds(df, "PointRead")
      Plans.filesRead(df).foreach(n => filesRead += n.toDouble)
    }

    // requests take the three paths in turn; reads have no lake path
    def mode(i: Int, op: Op): String = (i % 3, op) match {
      case (0, _) | (2, _: Read) | (2, _: Scan) => "http"
      case (1, _) => "session"
      case _ => "lake"
    }
    val ops = OpenLoop.paced(rate, secs, 1, arrivals).zipWithIndex.map { case ((t, _), i) =>
      val op = model.next()
      Due(t, 0, (mode(i, op), op))
    }
    probe.start()
    val run = OpenLoop.run(rate, (secs * 1e9).toLong, ops, 1) { case (_, (m, op)) =>
      ctx.tally.record(if (m == "http") tracer.request("http")(overHttp(s, 0, op)) else local(op, m == "lake"))
    }
    val layer = probe.finish(tracer, ops = run.sent.size)
    def serviceMs(mode: String, kind: String): Seq[Double] = run.sent
      .filter(x => x.req.op._1 == mode && x.req.op._2.kind == kind).map(x => (x.endNs - x.sendNs) / 1e6)
    val httpReadMs = serviceMs("http", "read")
    val gatewaySelf = if (httpReadMs.isEmpty || bareReadMs.isEmpty) 0.0
      else Stats.median(httpReadMs) - Stats.median(bareReadMs.toSeq)
    val after = files(dir)
    val written = after.filter { case (f, _) => !filesBefore.contains(f) }.values.sum
    val liveUserBytes = table.df.count() * (8L + 10L * fieldLen)
    val noJob = writeWindows.map { case (a, b) => probe.counters.jobsStartedIn(a, b) == 0 }
    val m = layer ++ Seq(
      Metric("gateway.self_ms", gatewaySelf, "ms", httpReadMs.size),
      Metric("gateway.requests", run.sent.count(_.req.op._1 == "http").toDouble, "count"),
      Metric("wire.bytes_per_resp", Stats.mean(bytes.toSeq), "bytes", bytes.size),
      Metric("session.plan_ms", Stats.mean(planMs.toSeq), "ms", planMs.size),
      Metric("session.point_read_fast_ratio", fastPath.count(identity).toDouble / fastPath.size.max(1), "ratio", fastPath.size),
      Metric("session.dml_no_job_ratio", noJob.count(identity).toDouble / noJob.size.max(1), "ratio", noJob.size),
      Metric("lake.dml_ms", Stats.mean(dmlMs.toSeq), "ms", dmlMs.size),
      Metric("lake.files_live", table.fileCount.toDouble, "count"),
      Metric("lake.files_read_per_lookup", Stats.mean(filesRead.toSeq), "count", filesRead.size),
      Metric("lake.bytes_written_per_user_byte", written.toDouble / userBytes.max(1L), "ratio"),
      Metric("lake.bytes_stored_per_user_byte", after.values.sum.toDouble / liveUserBytes.max(1L), "ratio"),
      Metric("lake.versions_per_write", (table.currentVersion - v0).toDouble / writes.max(1), "ratio", writes),
      Metric("loadgen.lag_p99_ms", run.lagP99Ms, "ms", run.sent.size),
      Metric("loadgen.backlog_end", run.backlogEnd.toDouble, "count"),
      Metric("trace.overhead_pct", Trace.overheadPct(spannedMs.toSeq, bareMs.toSeq), "%", spannedMs.size))
    Outcome(Layers.complete(m), m)
  }

  /** Data files under `dir` and their sizes. */
  private def files(dir: Path): Map[String, Long] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".parquet")).map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }
}
