package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload run is given. `seconds` is the measured window. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: String, cacheDir: String,
    seed: Long, seconds: Int, trace: Boolean, tally: Tally) {
  def rng(salt: Long): java.util.Random = new java.util.Random(seed * 1000003L + salt)

  /** `make`'s lines, computed once per cache directory. */
  def cachedLines(name: String)(make: => Seq[String]): Seq[String] = {
    val f = java.nio.file.Paths.get(cacheDir, name)
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readAllLines(f).toArray.toSeq.map(_.toString)
    else {
      val lines = make
      val tmp = java.nio.file.Paths.get(cacheDir, name + ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      lines
    }
  }
}

/** A run's numbers: the end-to-end metrics (untraced run) or per-layer
  * metrics (traced run), plus the workload's own named metrics with
  * sample counts for the report line.
  */
final case class Outcome(metrics: Seq[Metric], report: Seq[Metric])

trait Workload {
  def name: String
  /** Scale factor of the generated tables. */
  def sf: Double
  /** The generated tables the workload reads. */
  def tables: Seq[String]
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(TpchWorkload, YcsbWorkload)

  /** Progress note on standard error, with the time since start. */
  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  /** `f` over `ix` on `threads` threads; the first failure is rethrown. */
  def parallel[T](ix: Seq[Int], threads: Int)(f: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try ix.map(i => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f(i) })).map { fut =>
      try fut.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdown()
  }

  /** Time `body` in seconds. */
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set up `times` times, tearing down all but the last; returns the
    * last set-up and the median set-up time in seconds.
    */
  def setUp[S](times: Int)(make: => S)(tearDown: S => Unit): (S, Double) = {
    val runs = (1 to times).map { i =>
      val (s, t) = seconds(make)
      if (i < times) tearDown(s)
      (s, t)
    }
    (runs.last._1, Stats.median(runs.map(_._2)))
  }
}

/** The per-layer metrics every traced run prints, by name and unit. A
  * layer a workload bypasses reports 0 (see perfbench/README.md).
  */
object Layers {
  val modules: Seq[String] = Seq("Tpch", "Relational", "Advanced", "AsOf", "Dedup", "Similarity",
    "TextAnalysis", "CorpusPipeline", "Skew", "Multimodal", "Analytics", "Sketches", "Warehouse")

  val units: Seq[(String, String)] = Seq(
    "gateway.self_ms" -> "ms", "gateway.requests" -> "count",
    "wire.encode_ms" -> "ms", "wire.decode_ms" -> "ms", "wire.bytes_per_resp" -> "bytes",
    "session.exec_call_ms" -> "ms", "session.plan_ms" -> "ms",
    "session.point_read_fast_ratio" -> "ratio", "session.dml_no_job_ratio" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_ms_per_op" -> "ms", "spark.sched_delay_ms_per_op" -> "ms",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.busy_cores" -> "cores",
    "lake.dml_ms" -> "ms", "lake.files_live" -> "count", "lake.files_read_per_lookup" -> "count",
    "lake.bytes_written_per_user_byte" -> "ratio", "lake.bytes_stored_per_user_byte" -> "ratio",
    "lake.versions_per_write" -> "ratio") ++
    modules.map(m => s"operators.$m.total_s" -> "s") ++ Seq(
    "jvm.gc_pause_share" -> "ratio", "jvm.gc_count" -> "count", "jvm.heap_post_gc_mb" -> "MB",
    "jvm.jit_ms" -> "ms", "loadgen.lag_p99_ms" -> "ms", "loadgen.backlog_end" -> "count",
    "trace.overhead_pct" -> "%")

  /** Every per-layer metric in canonical order; unmeasured ones are 0. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    require((byName.keySet -- units.map(_._1)).isEmpty,
      s"unknown per-layer metrics: ${byName.keySet -- units.map(_._1)}")
    units.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)).copy(unit = u) }
  }

  /** The Spark layer's per-op numbers from a traced window's counts. */
  def spark(counts: Map[String, Long], ops: Int, wallNs: Long): Seq[Metric] = {
    def d(k: String): Double = counts(k).toDouble
    val n = math.max(ops, 1).toDouble
    Seq(
      Metric("spark.jobs_per_op", d("jobs") / n, "count", ops),
      Metric("spark.stages_per_op", d("stages") / n, "count", ops),
      Metric("spark.tasks_per_op", d("tasks") / n, "count", ops),
      Metric("spark.task_ms_per_op", d("taskRunMs") / n, "ms", ops),
      Metric("spark.sched_delay_ms_per_op", d("schedDelayMs") / n, "ms", ops),
      Metric("spark.shuffle_bytes_per_op", d("shuffleBytes") / n, "bytes", ops),
      Metric("spark.spill_bytes", d("spillBytes"), "bytes"),
      Metric("spark.busy_cores", d("taskBusyMs") * 1e6 / math.max(wallNs, 1L), "cores"))
  }
}
