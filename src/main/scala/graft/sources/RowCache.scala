package graft.sources

import java.util.concurrent.atomic.AtomicLong

/** Decoded rows of micro-lake data files, keyed by (table root, file
  * name) and bounded by an estimate of their heap bytes, least recently
  * used first out.
  *
  * A data file never changes once adopted (deletes are recorded in the
  * manifest's delete vectors, never in the file), so an entry can never
  * go stale; readers skip the deleted positions themselves. Eviction
  * only saves memory, and `vacuum`/`drop` remove the entries of files
  * that are gone. The driver-side writers fill it with the rows they
  * just wrote (write-through), and every driver-side reader — the
  * prepared key read, the merge-on-read DML, micro-compaction and
  * the primary-key check — reads through it, so a file is decoded at
  * most once while it stays cached.
  *
  * Rows are external values in schema order ([[DriverDml]]'s
  * convention) and are SHARED: callers must never mutate one.
  * `load` runs outside the lock — a racing duplicate decode of one
  * immutable file is benign and cheaper than serializing every table's
  * misses behind it.
  */
private[graft] final class RowCache(val maxBytes: Long) {

  private final class Entry(val rows: IndexedSeq[Array[Any]], val bytes: Long)

  private val m = new java.util.LinkedHashMap[(String, String), Entry](64, 0.75f, true)
  private var used = 0L
  private val hitCount = new AtomicLong()
  private val missCount = new AtomicLong()

  /** The file's rows, decoding them with `load` on a miss; None when
    * `load` cannot decode the file (nothing is cached then).
    */
  def getOrLoad(root: String, file: String)(
      load: => Option[IndexedSeq[Array[Any]]]): Option[IndexedSeq[Array[Any]]] = {
    val hit = synchronized(Option(m.get((root, file))))
    hit match {
      case Some(e) => hitCount.incrementAndGet(); Some(e.rows)
      case None =>
        missCount.incrementAndGet()
        val rows = load
        rows.foreach(put(root, file, _))
        rows
    }
  }

  /** Cache rows a writer just wrote; a file bigger than the whole bound
    * is not cached.
    */
  def put(root: String, file: String, rows: IndexedSeq[Array[Any]]): Unit = {
    val bytes = RowCache.estimateBytes(rows)
    if (bytes > maxBytes) return
    synchronized {
      val old = m.put((root, file), new Entry(rows, bytes))
      if (old != null) used -= old.bytes
      used += bytes
      val it = m.values().iterator()
      while (used > maxBytes && it.hasNext) {
        used -= it.next().bytes
        it.remove()
      }
    }
  }

  def remove(root: String, file: String): Unit = synchronized {
    val old = m.remove((root, file))
    if (old != null) used -= old.bytes
  }

  /** Drop every entry of one table (the table was dropped). */
  def removeTable(root: String): Unit = synchronized {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == root) { used -= e.getValue.bytes; it.remove() }
    }
  }

  def entries: Int = synchronized(m.size())
  def bytes: Long = synchronized(used)
  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()
}

private[graft] object RowCache {

  /** The micro-lake's one cache: a sixteenth of the maximum heap. */
  val shared = new RowCache(Runtime.getRuntime.maxMemory / 16)

  /** Rough heap footprint of external rows: array header and slots,
    * boxed primitives, and strings at two bytes a char.
    */
  def estimateBytes(rows: IndexedSeq[Array[Any]]): Long = {
    var total = 0L
    rows.foreach { r =>
      total += 16L + 8L * r.length
      r.foreach {
        case null => ()
        case s: String => total += 40L + 2L * s.length
        case _: org.apache.spark.sql.types.Decimal => total += 64L
        case _ => total += 24L
      }
    }
    total
  }
}
