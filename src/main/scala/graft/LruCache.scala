package graft

/** Tiny synchronized access-ordered LRU: the planned DML discovery
  * scans, and each micro-lake table's parsed manifests.
  *
  * `compute` runs OUTSIDE the lock on purpose: a racing duplicate build
  * is benign — both values are equivalent (compiled plans over immutable
  * files, or parses of one immutable manifest) — and far cheaper than
  * holding a monitor across Spark physical planning.
  */
private[graft] final class LruCache[K, V](max: Int) {
  private val m = new java.util.LinkedHashMap[K, V](max + 8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > max
  }

  def getOrElseUpdate(key: K)(compute: => V): V =
    synchronized(Option(m.get(key))) match {
      case Some(v) => v
      case None =>
        val v = compute
        synchronized(m.put(key, v))
        v
    }

  def put(key: K, v: V): Unit = synchronized(m.put(key, v))

  def remove(key: K): Unit = synchronized(m.remove(key))
}
