package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.Engine

/** Runs one workload of the benchmark and prints, as its last line, the
  * result object `{"correct", "attempted", "failed", "metrics"}`.
  *
  * {{{
  * Main --workload tpch|ycsb --seed N --seconds S --trace 0|1
  *      --work DIR --cache DIR [--commit SHA]
  * }}}
  * `--work` holds the run's scratch files; `--cache` the generated
  * tables and reference answers, reused by later runs of one build.
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the
  * serial traced run and prints the per-layer metrics. The line before
  * the result is a report: the run's stamp and every named metric with
  * its unit and sample count.
  */
object Main {

  def main(args: Array[String]): Unit = {
    // exit as soon as the result is out: lingering non-daemon threads
    // (Spark, HTTP) would otherwise hold the JVM open
    val code = try { runOnce(args); 0 } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    }
    System.out.flush()
    Workload.log("exit")
    System.exit(code)
  }

  private def runOnce(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = Workload.all.find(_.name == need("workload"))
      .getOrElse(usage(s"unknown workload ${need("workload")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val cache = Paths.get(need("cache")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(cache)
    // the stamp must describe the JVM that measured: its heap is the one
    // SPARK_DRIVER_MEM asks for
    sys.env.get("SPARK_DRIVER_MEM").filter(_.nonEmpty).foreach { mem =>
      require(jvmArgs.split(' ').contains(s"-Xmx$mem"), s"SPARK_DRIVER_MEM=$mem but the JVM runs with '$jvmArgs'")
    }

    val spark = Engine.newSession("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    Workload.log("spark up")
    try {
      val (dataDir, genS) = Workload.seconds(DataGen.cached(spark, cache, workload.sf, workload.tables))
      Workload.log(f"data ready in $genS%.1f s")
      val tally = new Tally
      val jvm0 = Jvm.read()
      val steal0 = Steal.read()
      val out = workload.run(Ctx(spark, dataDir, work.toString, cache.toString, seed, seconds, trace, tally))
      val stealPct = Steal.pct(steal0, Steal.read())
      val jvm1 = Jvm.read()
      val stamp = Seq(
        "workload" -> Json.str(workload.name), "seed" -> seed.toString, "seconds" -> seconds.toString,
        "trace" -> trace.toString, "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "spark_cores" -> Engine.defaultCores.toString,
        "spark_driver_mem" -> Json.str(sys.env.getOrElse("SPARK_DRIVER_MEM", "")),
        "jvm_args" -> Json.str(jvmArgs), "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "sf" -> Json.num(workload.sf), "data_dir" -> Json.str(work.getParent.relativize(Paths.get(dataDir)).toString),
        "data_seed" -> DataGen.seed.toString,
        "data_gen_s" -> Json.num(genS), "commit" -> Json.str(opts.getOrElse("commit", "unknown")),
        "run_gc_ms" -> (jvm1.gcMs - jvm0.gcMs).toString, "run_gc_count" -> (jvm1.gcCount - jvm0.gcCount).toString,
        "run_jit_ms" -> (jvm1.jitMs - jvm0.jitMs).toString, "host_steal_pct" -> Json.num(stealPct))
      println(Json.obj(Seq("perfbench_report" -> Json.obj(stamp),
        "metrics" -> Json.metrics(out.report, withSamples = true))))
      println(Json.obj(Seq(
        "correct" -> (tally.failures == 0).toString,
        "attempted" -> tally.attempts.toString,
        "failed" -> tally.failures.toString,
        "metrics" -> Json.metrics(out.metrics, withSamples = false))))
    } finally {
      Workload.log("stopping")
      spark.stop()
      Workload.log("stopped")
    }
  }

  /** Heap, young-generation and collector flags of this JVM. */
  private def jvmArgs: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use")).mkString(" ")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\n" +
      "usage: Main --workload tpch|ycsb --seed N --seconds S --trace 0|1 --work DIR --cache DIR [--commit SHA]")
    sys.exit(2)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
