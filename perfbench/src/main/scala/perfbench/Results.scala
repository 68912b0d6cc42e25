package perfbench

import org.apache.spark.sql.Row

/** One reported number. `samples` is how many measurements it
  * summarises (0 when it is a count or a ratio, not a summary).
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0)

/** Attempts and failures of one workload. A wrong result is a failure. */
final class Tally {
  private val attempted = new java.util.concurrent.atomic.AtomicLong()
  private val failed = new java.util.concurrent.atomic.AtomicLong()
  def record(ok: Boolean): Boolean = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    ok
  }
  def attempts: Long = attempted.get
  def failures: Long = failed.get
}

/** Order-sensitive fingerprint of a result: row count plus a hash of the
  * rows in order. Values are normalised so one result compares equal
  * whether it came off the Arrow wire or from an in-process collect:
  * every number as a double to 6 significant digits (parallel sums
  * differ in their last bits run to run), every time as epoch units.
  */
final case class Fingerprint(rows: Long, hash: Int)

object Fingerprint {
  def of(rows: Seq[Row]): Fingerprint =
    Fingerprint(rows.length, scala.util.hashing.MurmurHash3.orderedHash(rows.map(norm)))

  private def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def norm(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case t: java.sql.Timestamp => "t" + (t.getTime * 1000 + t.getNanos / 1000 % 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000 + t.getNano / 1000)
    case t: java.time.LocalDateTime => norm(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def metrics(ms: Seq[Metric], withSamples: Boolean): String = obj(ms.map { m =>
    m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)) ++
      (if (withSamples) Seq("samples" -> m.samples.toString) else Nil))
  })
}
