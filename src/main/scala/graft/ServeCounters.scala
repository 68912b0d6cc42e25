package graft

import java.util.concurrent.atomic.AtomicLong

/** Engine-wide counters of the serving paths a prepared statement can
  * take, served on `status.json`: how many key reads the driver answered
  * and why the others declined to the planned path, how often a cached
  * prepared plan was reused, how many DML statements the driver-side
  * path applied, how long micro-lake writes waited for and held their
  * table's writer lock, and the lake's write amplification. The row
  * cache reports its own occupancy (graft.sources.RowCache).
  */
object ServeCounters {

  /** Why a prepared key read went to the planned path. */
  val declineReasons: Seq[String] = Seq(
    "null_param",       // a NULL parameter: native NULL-comparison semantics
    "unmanaged_table",  // not a micro-lake table
    "param_type",       // a parameter that does not bind exactly to the key type
    "shape",            // a projection or key name the analyzer must resolve
    "unsupported_type", // a column type or file layout the driver codec lacks
    "over_bound")       // more candidate rows than the driver-side bound

  val pointReadHits = new AtomicLong()
  private val declines: Map[String, AtomicLong] =
    declineReasons.map(_ -> new AtomicLong()).toMap

  def decline(reason: String): Unit = declines(reason).incrementAndGet()
  def declined(reason: String): Long = declines(reason).get()

  val planCacheHits = new AtomicLong()
  val planCacheMisses = new AtomicLong()
  /** DML statements the driver-side path applied (served as
    * `driver_dml_rewrites`).
    */
  val driverRewrites = new AtomicLong()

  /** Micro-lake writes (outermost writer-lock acquisitions) and their
    * summed lock wait and hold, in nanoseconds.
    */
  val lakeWrites = new AtomicLong()
  val lakeLockWaitNanos = new AtomicLong()
  val lakeLockHoldNanos = new AtomicLong()

  /** Row positions recorded in delete vectors by DELETE and UPDATE. */
  val lakeRowsDeleted = new AtomicLong()

  /** Rows written again: merged by micro-compaction and `checkpoint`,
    * and the updated rows an UPDATE appends. An INSERT's rows are not
    * counted.
    */
  val lakeRowsRewritten = new AtomicLong()

  def lakeWrite(waitNanos: Long, holdNanos: Long): Unit = {
    lakeWrites.incrementAndGet()
    lakeLockWaitNanos.addAndGet(waitNanos)
    lakeLockHoldNanos.addAndGet(holdNanos)
  }
}
