package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

/** Engine metrics — the observability surface of the reference
  * (swanlake-core/src/metrics.rs:14-201, surfaced on its status HTTP
  * page): in-flight gauges, lifetime totals, latency percentiles, and
  * bounded ring buffers of slow queries (≥ 5 s) and recent errors (200
  * entries each).
  *
  * Latency percentiles use a bounded reservoir of the most recent
  * `windowSize` samples (the reference keeps histograms per class);
  * recording is O(1) and lock-free on the hot counters, with the ring
  * buffers under a small lock — same shape as the reference's
  * `parking_lot`-guarded rings.
  */
final class Metrics(
    val slowQueryThresholdMillis: Long = 5000,
    val ringCapacity: Int = 200,
    val windowSize: Int = 4096) {

  final case class SlowQuery(sql: String, millis: Long, atMillis: Long)
  final case class ErrorEntry(sql: String, message: String, atMillis: Long)

  /** Construction time — the status page's started_at/uptime fields
    * (metrics.rs MetricsSnapshot.started_at_ms/uptime_ms).
    */
  val startedAtMillis: Long = System.currentTimeMillis()
  def uptimeMillis: Long = math.max(0L, System.currentTimeMillis() - startedAtMillis)

  private val inFlightGauge = new AtomicLong()
  private val totalQueries = new LongAdder()
  private val totalErrors = new LongAdder()
  private val totalRows = new LongAdder()

  private val latencies = new Array[Long](windowSize)
  private val latencyCount = new AtomicLong()

  private val slowRing = mutable.Queue.empty[SlowQuery]
  private val errorRing = mutable.Queue.empty[ErrorEntry]

  def inFlight: Long = inFlightGauge.get()
  def queries: Long = totalQueries.sum()
  def errors: Long = totalErrors.sum()
  def rows: Long = totalRows.sum()

  /** Run `f`, recording latency/result metrics around it. */
  def timed[T](sql: String)(f: => T): T = {
    inFlightGauge.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val out = f
      record(sql, (System.nanoTime() - t0) / 1000000)
      out
    } catch {
      case e: Throwable =>
        recordError(sql, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
        record(sql, (System.nanoTime() - t0) / 1000000, countQuery = false)
        throw e
    } finally inFlightGauge.decrementAndGet()
  }

  /** `countQuery = false` records the latency/slow-ring sample WITHOUT
    * counting a query (the timed() error path: the failure already
    * counts in totalErrors — review catch: the old `countError` flag
    * was dead and errored calls inflated the queries counter).
    */
  def record(sql: String, millis: Long, rowCount: Long = 0, countQuery: Boolean = true): Unit = {
    if (countQuery) totalQueries.increment()
    totalRows.add(rowCount)
    val idx = (latencyCount.getAndIncrement() % windowSize).toInt
    latencies.synchronized { latencies(idx) = millis }
    if (millis >= slowQueryThresholdMillis) slowRing.synchronized {
      slowRing.enqueue(SlowQuery(sql, millis, System.currentTimeMillis()))
      while (slowRing.size > ringCapacity) slowRing.dequeue()
    }
  }

  def recordError(sql: String, message: String): Unit = {
    totalErrors.increment()
    errorRing.synchronized {
      errorRing.enqueue(ErrorEntry(sql, message, System.currentTimeMillis()))
      while (errorRing.size > ringCapacity) errorRing.dequeue()
    }
  }

  def slowQueries: Seq[SlowQuery] = slowRing.synchronized(slowRing.toSeq)
  def recentErrors: Seq[ErrorEntry] = errorRing.synchronized(errorRing.toSeq)

  /** avg/p50/p95/p99 over the sample window (metrics.rs latency summary,
    * the numbers BENCHMARK.md reports).
    */
  def latencySummary: Map[String, Double] = {
    val n = math.min(latencyCount.get(), windowSize.toLong).toInt
    if (n == 0) return Map("avg" -> 0.0, "p50" -> 0.0, "p95" -> 0.0, "p99" -> 0.0)
    val snap = latencies.synchronized(latencies.take(n).sorted)
    def pct(p: Double): Double = snap(math.min(n - 1, math.ceil(p * n).toInt - 1).max(0)).toDouble
    Map(
      "avg" -> snap.sum.toDouble / n,
      "p50" -> pct(0.50),
      "p95" -> pct(0.95),
      "p99" -> pct(0.99))
  }
}
