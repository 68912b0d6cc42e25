package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark-layer counters, read by a listener the benchmark registers.
  * Events arrive on Spark's listener bus after the fact; callers wait
  * for the bus to drain ([[drain]]) before reading.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val taskRunMs = new AtomicLong()
  val taskBusyMs = new AtomicLong()
  val schedDelayMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** (start, end) wall-clock millis of every finished job. */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null) taskBusyMs.addAndGet(info.duration)
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      // the Spark UI's scheduler delay: task time not spent running,
      // (de)serialising or fetching its result
      if (info != null) schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "taskRunMs" -> taskRunMs.get, "taskBusyMs" -> taskBusyMs.get,
    "schedDelayMs" -> schedDelayMs.get, "shuffleBytes" -> shuffleBytes.get,
    "spillBytes" -> spillBytes.get)

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsStartedIn(fromMs: Long, toMs: Long): Int =
    jobSpans.asScala.count { case (s, _) => s >= fromMs && s <= toMs }
}

object SparkCounters {
  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    try org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

/** JVM-layer readings: collector pauses and counts, heap left live after
  * the last collection, and JIT compile time.
  */
object Jvm {
  final case class Reading(gcCount: Long, gcMs: Long, jitMs: Long, wallNs: Long)

  def read(): Reading = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    Reading(gcs.map(_.getCollectionCount.max(0L)).sum, gcs.map(_.getCollectionTime.max(0L)).sum,
      jit, System.nanoTime())
  }

  def heapPostGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)

  def metrics(from: Reading, to: Reading): Seq[Metric] = Seq(
    Metric("jvm.gc_pause_share", (to.gcMs - from.gcMs) * 1e6 / math.max(1L, to.wallNs - from.wallNs), "ratio"),
    Metric("jvm.gc_count", (to.gcCount - from.gcCount).toDouble, "count"),
    Metric("jvm.heap_post_gc_mb", heapPostGcMb, "MB"),
    Metric("jvm.jit_ms", (to.jitMs - from.jitMs).toDouble, "ms"))
}

/** CPU time the hypervisor gave to other guests, from Linux's
  * `/proc/stat`. Runs on a shared virtual machine slow down together
  * when it rises, so the stamp records it: a run under heavy steal is
  * not comparable with one without.
  */
object Steal {
  /** (steal, total) ticks of all CPUs so far; None where unreadable. */
  def read(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val t = l.split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.take(8).sum)
    } finally src.close()
  } catch { case _: java.io.IOException | _: NumberFormatException => None }

  /** Stolen share of the CPU time between two readings, in percent. */
  def pct(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double = (from, to) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0) * 100.0 / (t1 - t0)
    case _ => Double.NaN
  }
}

/** Everything a traced run reads besides its spans: the Spark listener,
  * JVM readings and the wall clock, from `start()` to `finish`.
  */
final class TraceProbe(spark: org.apache.spark.sql.SparkSession) {
  // registered fresh at start(), so its counts cover the traced window
  val counters = new SparkCounters
  private var jvmFrom: Jvm.Reading = _
  // maps the listener's wall-clock millis onto System.nanoTime
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def toNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def start(): Unit = {
    SparkCounters.drain(spark)
    spark.sparkContext.addSparkListener(counters)
    jvmFrom = Jvm.read()
  }

  /** Spark, JVM and span-derived metrics over `ops` traced operations.
    * Wire self time excludes the Spark jobs that ran inside the span.
    */
  def finish(tracer: Tracer, ops: Int): Seq[Metric] = {
    val jvmTo = Jvm.read()
    SparkCounters.drain(spark)
    spark.sparkContext.removeSparkListener(counters)
    val jobs = counters.jobSpans.asScala.toSeq.map { case (a, b) => (toNs(a), toNs(b)) }
    val self = tracer.selfTimes(jobs)
    def selfMs(name: String): Seq[Double] = self.collect { case (s, ns) if s.name == name => ns / 1e6 }
    def durMs(name: String): Seq[Double] = tracer.all.filter(_.name == name).map(_.durationNs / 1e6)
    def mean(name: String, xs: Seq[Double]): Metric = Metric(name, Stats.mean(xs), "ms", xs.size)
    Layers.spark(counters.snapshot, ops, jvmTo.wallNs - jvmFrom.wallNs) ++
      Jvm.metrics(jvmFrom, jvmTo) ++ Seq(
        mean("wire.encode_ms", selfMs("wire.encode")),
        mean("wire.decode_ms", selfMs("wire.decode")),
        mean("session.exec_call_ms", durMs("session.executePrepared"))).filter(_.samples > 0)
  }
}
