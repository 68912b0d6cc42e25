package perfbench

import graft.{HttpSqlClient, SparkEntry}

/** `tpch`: the 22 TPC-H registry queries as SQL texts over the gateway,
  * closed loop, 4 terminals with one server session each (BenchBase's
  * TPC-H shape). Spark execution and Catalyst planning do the work; the
  * micro-lake is bypassed.
  */
object TpchWorkload extends Workload {
  val name = "tpch"
  val sf = 0.02
  val terminals = 4
  /** The TPC-H tables the terminals register. */
  val tpchTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  /** All ten: the traced run also times the operators layer. */
  val tables: Seq[String] = graft.Engine.tableNames

  /** The oracle SQL texts of the `q<n>_*` registry entries, in query
    * order, with the DuckDB type names mapped to Spark's.
    */
  lazy val queries: Seq[(String, String)] = SparkEntry.oracleSql.toSeq
    .filter(_._1.matches("q\\d+_.*"))
    .sortBy(_._1.drop(1).takeWhile(_.isDigit).toInt)
    .map { case (n, sql) => n -> sparkDialect(sql) }

  def sparkDialect(sql: String): String =
    sql.replace("AS HUGEINT", "AS DECIMAL(38,0)").replace("AS VARCHAR", "AS STRING")

  final class Terminal(val client: HttpSqlClient, val handles: IndexedSeq[String])

  /** Terminals connect and set up concurrently, as independent clients do. */
  private def openTerminals(served: Served, dir: String): Seq[Terminal] =
    Workload.parallel(0 until terminals, terminals) { _ =>
      val c = served.client()
      tpchTables.foreach(t =>
        c.update(s"CREATE OR REPLACE TEMPORARY VIEW $t USING parquet OPTIONS (path '$dir/$t.parquet')"))
      new Terminal(c, queries.map { case (_, sql) => c.prepare(sql) }.toIndexedSeq)
    }

  def run(ctx: Ctx): Outcome = {
    require(queries.size == 22, s"expected the 22 TPC-H queries, found ${queries.size}")
    // the in-process builders' answers, the reference every response is checked against
    val expected = ctx.cachedLines(s"tpch-expected-sf$sf") {
      Workload.parallel(queries.indices, 4) { q =>
        Fingerprint.of(SparkEntry.queries(queries(q)._1)(ctx.spark, ctx.dataDir).collect().toSeq).toString
      }
    }.toIndexedSeq
    Workload.log(s"expected answers ready")
    val ((served, terms), setupS) = Workload.setUp(3) {
      val s = new Served(ctx.spark)
      (s, openTerminals(s, ctx.dataDir))
    }(_._1.close())
    try {
      def exec(t: Terminal, q: Int): Double = {
        val t0 = System.nanoTime()
        val r = t.client.executeQuery(t.handles(q), Nil)
        val ms = (System.nanoTime() - t0) / 1e6
        ctx.tally.record(Fingerprint.of(r.rows.toSeq).toString == expected(q))
        ms
      }
      // terminals start a quarter of the query cycle apart from a
      // seeded base, so every window covers the mix evenly
      val base = ctx.rng(1).nextInt(queries.size)
      val offsets = terms.indices.map(i => (base + i * queries.size / terms.size) % queries.size)
      // warm-up: every query runs once (the code-generation cache is
      // shared), spread over the terminals
      Workload.parallel(terms.indices, terms.size) { i =>
        queries.indices.filter(_ % terms.size == i).foreach(q => exec(terms(i), q))
      }
      Workload.log("warm")
      if (ctx.trace) traced(ctx, served, terms.head, expected, exec)
      else measured(ctx, terms, offsets, setupS, exec)
    } finally {
      Workload.log("measured")
      served.close()
    }
  }

  private def measured(ctx: Ctx, terms: Seq[Terminal], offsets: Seq[Int], setupS: Double,
      exec: (Terminal, Int) => Double): Outcome = {
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    val perTerminal = Workload.parallel(terms.indices, terms.size) { i =>
      val lat = Seq.newBuilder[(Int, Double)]
      var k = 0
      while (System.nanoTime() < deadline) {
        val q = (offsets(i) + k) % queries.size
        lat += (q -> exec(terms(i), q))
        k += 1
      }
      lat.result()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val lat = perTerminal.flatten.map(_._2)
    val n = lat.size
    val rps = n / wall
    val p50 = Stats.percentile(lat, 50)
    val p90 = Stats.percentile(lat, 90)
    val p95 = Stats.percentile(lat, 95)
    val perQuery = perTerminal.flatten.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, xs) =>
      Metric(s"tpch.${queries(q)._1}.p50_ms", Stats.median(xs.map(_._2)), "ms", xs.size)
    }
    Outcome(
      Seq(Metric("setup_s", setupS, "s", 3), Metric("throughput", rps, "1/s", n),
        Metric("p50_ms", p50, "ms", n)),
      Seq(Metric("tpch.rps", rps, "1/s", n), Metric("tpch.p50_ms", p50, "ms", n),
        Metric("tpch.p90_ms", p90, "ms", n), Metric("tpch.p95_ms", p95, "ms", n),
        Metric("tpch.samples_beyond_p95", Stats.beyond(lat, 95), "count"),
        Metric("setup_s", setupS, "s", 3)) ++ perQuery)
  }

  /** A serial traced pass on one terminal: each query over HTTP, then in
    * process through the same layer calls with spans and without them
    * (the paths take turns going first). The spanned and unspanned
    * in-process times of the same queries price the tracing. The served
    * path calls none of the registry's operator modules; the operators
    * layer is timed afterwards, in process, because the benchmark's
    * time budget has no room for a registry workload in every
    * regression check.
    */
  private def traced(ctx: Ctx, served: Served, t: Terminal, expected: IndexedSeq[String],
      exec: (Terminal, Int) => Double): Outcome = {
    val tracer = new Tracer
    val probe = new TraceProbe(ctx.spark)
    val spanned = new InProcess(served, tracer)
    val bare = new InProcess(served, new Tracer(enabled = false))
    val http, spannedMs, bareMs, plan, bytes = Seq.newBuilder[Double]
    def local(in: InProcess, q: Int): Double = {
      val t0 = System.nanoTime()
      val a = in.execute(t.client.sessionKey, t.handles(q), Nil)
      val ms = (System.nanoTime() - t0) / 1e6
      ctx.tally.record(Fingerprint.of(a.rows.toSeq).toString == expected(q))
      if (in eq spanned) { plan += Plans.planMs(a.df); bytes += a.bytes }
      ms
    }
    probe.start()
    for (q <- queries.indices) {
      val paths: Seq[() => Unit] = Seq(() => http += exec(t, q), () => spannedMs += local(spanned, q),
        () => bareMs += local(bare, q))
      (paths.drop(q % 3) ++ paths.take(q % 3)).foreach(_())
    }
    val layer = probe.finish(tracer, ops = 3 * queries.size)
    val h = http.result(); val sp = spannedMs.result(); val b = bareMs.result()
    val gatewaySelf = h.zip(b).map { case (x, y) => x - y }
    Workload.log("served layers traced; timing the operators layer")
    val m = layer ++ Operators.layer(ctx) ++ Seq(
      Metric("gateway.self_ms", Stats.median(gatewaySelf), "ms", gatewaySelf.size),
      Metric("gateway.requests", h.size.toDouble, "count"),
      Metric("wire.bytes_per_resp", Stats.mean(bytes.result()), "bytes", sp.size),
      Metric("session.plan_ms", Stats.mean(plan.result()), "ms", sp.size),
      Metric("trace.overhead_pct", Trace.overheadPct(sp, b), "%", sp.size))
    Outcome(Layers.complete(m), m)
  }
}
