package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side row codec + literal parsing for the small-batch DML fast
  * path (VERDICT r15 #3: the YCSB write path averaged 258-323 ms, of
  * which ~85% was Spark job/planning overhead moving a handful of rows).
  * A native engine (the reference's shape — connection.rs routes point
  * DML straight into the storage layer) applies a one-row INSERT/UPDATE/
  * DELETE in-process; this module gives the micro-lake the same floor:
  * parse VALUES literals, read/write parquet via parquet-mr on local
  * files (NIO streams, no Hadoop file system), and evaluate an
  * already-resolved predicate over in-memory rows — all
  * strictly GATED (supported primitive types, bounded row counts,
  * foldable assignments) with the planned Spark path as the universal
  * fallback, never a second semantics.
  *
  * External value convention: Long/Int/Double/Float/Boolean/String with
  * null for SQL NULL (and Catalyst's internal values for the date,
  * timestamp and decimal types, see [[supported]]) — the shapes
  * [[readRows]] decodes and [[writeRows]] encodes.
  */
private[sources] object DriverDml {

  /** Is the session's effective timezone UTC? Gates every string→
    * date/timestamp coercion on the fast path (only UTC's rules are
    * replicated driver-side) — one shared definition so a future
    * alias fix ("Etc/UTC", "GMT") lands in one place.
    */
  def utcSession(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID) == "UTC"

  /** The fast path handles exactly these leaf types; anything else
    * (wide decimals, nested, binary) falls back to the planned path.
    * Widened r17 (VERDICT r16 #5): date (INT32 days), timestamp (INT64
    * micros), and decimal up to precision 18 (INT32/INT64 unscaled,
    * Spark's own non-legacy parquet layout) — a real point-DML table
    * with a timestamp column otherwise silently lost the ~60 ms floor
    * and paid the ~250 ms planned path.
    *
    * External value convention for the new types = Catalyst's internal
    * one (Integer days / Long micros / o.a.s.sql.types.Decimal), so
    * predicate eval via [[toInternal]] and [[foldAssignment]] outputs
    * compose without conversion.
    */
  def supported(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(f => f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | BooleanType | StringType => true
      case DateType | TimestampType => true
      case d: DecimalType => d.precision <= 18
      case _ => false
    })

  // === parquet-mr codec ======================================================
  // Local files only, through parquet's own NIO streams (LocalOutputFile/
  // LocalInputFile) and a plain map configuration: no Hadoop file system
  // is involved, so a write leaves no `.crc` checksum sidecar and forks
  // no `chmod` (Hadoop's LocalFileSystem does both on every file when no
  // native Hadoop library is loaded). The configuration is fresh per
  // file: the example writer stores its schema in it.

  private def readOptions: org.apache.parquet.ParquetReadOptions =
    org.apache.parquet.ParquetReadOptions
      .builder(new org.apache.parquet.conf.PlainParquetConfiguration()).build()

  private def messageType(schema: StructType): org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.addField(Types.optional(INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case DoubleType => b.addField(Types.optional(DOUBLE).named(f.name))
        case FloatType => b.addField(Types.optional(FLOAT).named(f.name))
        case BooleanType => b.addField(Types.optional(BOOLEAN).named(f.name))
        case StringType => b.addField(
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name))
        case DateType => b.addField(
          Types.optional(INT32).as(LogicalTypeAnnotation.dateType()).named(f.name))
        case TimestampType => b.addField( // Spark's TIMESTAMP_MICROS layout
          Types.optional(INT64).as(LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name))
        case d: DecimalType if d.precision <= 9 => b.addField(
          Types.optional(INT32).as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
            .named(f.name))
        case d: DecimalType if d.precision <= 18 => b.addField(
          Types.optional(INT64).as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
            .named(f.name))
        case other => throw new IllegalArgumentException(s"unsupported: $other")
      }
    }
    b.named("spark_schema") // the name Spark's writer uses
  }

  /** Write `rows` (external values, schema order) as one parquet file —
    * SNAPPY like Spark's writer, so the file is indistinguishable to
    * every downstream reader (stats kinds, compression, schema name).
    * Returns the file's column stats, taken from the closed writer's
    * footer: equal to [[FileStats.fromFooter]] of the written file, with
    * no second open of it. Values are plain-encoded, without dictionary
    * pages: the driver writes point-DML files and compactions of them,
    * whose string columns are mostly distinct, so a dictionary would be
    * filled, hashed and then dropped for plain encoding anyway.
    */
  def writeRows(file: Path, schema: StructType, rows: Seq[Array[Any]]): Map[String, ColStats] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val mt = messageType(schema)
    val factory = new SimpleGroupFactory(mt)
    val writer = ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withType(mt)
      .withConf(new org.apache.parquet.conf.PlainParquetConfiguration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withDictionaryEncoding(false)
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      var i = 0
      while (i < schema.length) {
        val v = r(i)
        if (v != null) schema.fields(i).dataType match {
          case LongType => g.add(i, v.asInstanceOf[Long])
          case IntegerType => g.add(i, v.asInstanceOf[Int])
          case DoubleType => g.add(i, v.asInstanceOf[Double])
          case FloatType => g.add(i, v.asInstanceOf[Float])
          case BooleanType => g.add(i, v.asInstanceOf[Boolean])
          case StringType => g.add(i,
            org.apache.parquet.io.api.Binary.fromString(v.asInstanceOf[String]))
          case DateType => g.add(i, v.asInstanceOf[Int])
          case TimestampType => g.add(i, v.asInstanceOf[Long])
          case d: DecimalType if d.precision <= 9 =>
            g.add(i, v.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong.toInt)
          case d: DecimalType if d.precision <= 18 =>
            g.add(i, v.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong)
          case other => throw new IllegalArgumentException(s"unsupported: $other")
        }
        i += 1
      }
      writer.write(g)
    } finally writer.close()
    FileStats.fromMetadata(writer.getFooter)
  }

  /** Read every row of `file` as external values in `schema` order.
    * None when the file cannot be read this way (caller falls back).
    */
  def readRows(file: Path, schema: StructType): Option[IndexedSeq[Array[Any]]] = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    try {
      val reader = ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(file), readOptions)
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(fileSchema)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(fileSchema))
          var n = pages.getRowCount
          while (n > 0) {
            val g = records.read()
            val row = new Array[Any](schema.length)
            var i = 0
            while (i < schema.length) {
              val idx = g.getType.getFieldIndex(schema.fields(i).name)
              row(i) =
                if (g.getFieldRepetitionCount(idx) == 0) null
                else {
                  // dispatch on the TABLE type, verifying the physical
                  // layout carries it (a Spark INT96 timestamp or a
                  // millis one is NOT micros — decline, planned path):
                  // the schema is the authority on what the value MEANS,
                  // the footer on how it is stored
                  val pt = g.getType.getType(idx).asPrimitiveType()
                  val phys = pt.getPrimitiveTypeName
                  val ann = pt.getLogicalTypeAnnotation
                  (schema.fields(i).dataType, phys) match {
                    case (LongType, INT64) => g.getLong(idx, 0)
                    case (IntegerType, INT32) => g.getInteger(idx, 0)
                    case (DoubleType, DOUBLE) => g.getDouble(idx, 0)
                    case (FloatType, FLOAT) => g.getFloat(idx, 0)
                    case (BooleanType, BOOLEAN) => g.getBoolean(idx, 0)
                    case (StringType, BINARY) => g.getBinary(idx, 0).toStringUsingUTF8
                    case (DateType, INT32) => g.getInteger(idx, 0)
                    case (TimestampType, INT64) => ann match {
                      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
                        g.getLong(idx, 0)
                      case _ => return None
                    }
                    case (d: DecimalType, INT32 | INT64) => ann match {
                      case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
                          if a.getScale == d.scale =>
                        val unscaled =
                          if (phys == INT32) g.getInteger(idx, 0).toLong else g.getLong(idx, 0)
                        org.apache.spark.sql.types.Decimal(
                          java.math.BigDecimal.valueOf(unscaled, d.scale), d.precision, d.scale)
                      case _ => return None
                    }
                    case _ => return None
                  }
                }
              i += 1
            }
            out += row
            n -= 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
      Some(out.toIndexedSeq)
    } catch { case _: Exception => None }
  }

  // === VALUES literal parsing ================================================

  /** A `DATE '...'` / `TIMESTAMP '...'` literal as parsed text — typed
    * by [[coerce]] against the target column (r17: the planned parser
    * produces these for point-DML on date/timestamp tables).
    */
  final case class TypedLit(keyword: String, value: String)

  /** Parse the body of `INSERT ... VALUES <s>` when it is PURE literals
    * — numbers, '...'-quoted strings ('' escape), NULL/TRUE/FALSE,
    * DATE/TIMESTAMP '...'. Anything else (expressions, functions,
    * casts) answers None and the statement takes the planned path.
    * Returns raw rows: Long for integral tokens, java.math.BigDecimal
    * for fractional/exponent tokens (EXACT — a Double intermediate
    * would corrupt decimal-column inserts: 1.23 as a double is
    * 1.2299999…, as the SQL literal it is exactly 1.23), String,
    * Boolean, TypedLit, null.
    */
  def parseValues(s: String): Option[Seq[Seq[Any]]] = {
    val rows = scala.collection.mutable.Buffer.empty[Seq[Any]]
    var i = 0
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    // one '...'-quoted string with Spark's backslash escape semantics
    // (SqlParams.literal doubles every backslash for exactly that
    // reason) — decode the common escapes identically; any exotic one
    // (\u, octal, \Z, \%) bails to the planned parser rather than risk
    // divergence. None = malformed/exotic (caller returns None overall).
    def quotedString(): Option[String] = {
      i += 1 // opening quote
      val sb = new StringBuilder
      var closed = false
      while (!closed) {
        if (i >= s.length) return None
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) return None
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\')
            case '\'' => sb.append('\'')
            case '"'  => sb.append('"')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'b'  => sb.append('\b')
            case _    => return None
          }
          i += 2
        } else if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
          else { closed = true; i += 1 }
        } else { sb.append(c); i += 1 }
      }
      Some(sb.toString)
    }
    skipWs()
    while (i < s.length) {
      if (s.charAt(i) != '(') return None
      i += 1
      val vals = scala.collection.mutable.Buffer.empty[Any]
      var done = false
      while (!done) {
        skipWs()
        if (i >= s.length) return None
        s.charAt(i) match {
          case '\'' =>
            vals += quotedString().getOrElse(return None)
          case c if c == '-' || c == '+' || c.isDigit || c == '.' =>
            val start = i
            if (c == '-' || c == '+') i += 1
            var isFloat = false
            var prev = ' '
            var run = true
            while (run && i < s.length) {
              val ch = s.charAt(i)
              val expSign = (ch == '-' || ch == '+') && (prev == 'e' || prev == 'E')
              if (ch.isDigit || ch == '.' || ch == 'e' || ch == 'E' || expSign) {
                if (ch == '.' || ch == 'e' || ch == 'E') isFloat = true
                prev = ch; i += 1
              } else run = false
            }
            val tok = s.substring(start, i)
            if (isFloat)
              vals += (try new java.math.BigDecimal(tok)
              catch { case _: NumberFormatException => return None })
            else vals += tok.toLongOption.getOrElse(return None)
          case _ =>
            val start = i
            while (i < s.length && s.charAt(i).isLetter) i += 1
            s.substring(start, i).toUpperCase match {
              case "NULL" => vals += null
              case "TRUE" => vals += true
              case "FALSE" => vals += false
              case kw @ ("DATE" | "TIMESTAMP") =>
                skipWs()
                if (i >= s.length || s.charAt(i) != '\'') return None
                vals += TypedLit(kw, quotedString().getOrElse(return None))
              case _ => return None
            }
        }
        skipWs()
        if (i >= s.length) return None
        s.charAt(i) match {
          case ',' => i += 1
          case ')' => i += 1; done = true
          case _ => return None
        }
      }
      rows += vals.toSeq
      skipWs()
      if (i < s.length) {
        if (s.charAt(i) != ',') return None
        i += 1
        skipWs()
        if (i >= s.length) return None // trailing comma
      }
    }
    if (rows.isEmpty) None else Some(rows.toSeq)
  }

  /** Strict `yyyy-[m]m-[d]d` — the unambiguous subset of Spark's
    * string→date cast. Everything else (trailing time, spaces, junk)
    * answers None: the planned cast owns the lenient shapes.
    */
  private val dateRe = "^(\\d{4,7})-(\\d{1,2})-(\\d{1,2})$".r

  private[sources] def parseDateDays(s: String): Option[Int] = s match {
    case dateRe(y, m, d) =>
      try {
        val ld = java.time.LocalDate.of(y.toInt, m.toInt, d.toInt)
        val days = ld.toEpochDay
        if (days >= Int.MinValue && days <= Int.MaxValue) Some(days.toInt) else None
      } catch { case _: Exception => None }
    case _ => None
  }

  /** Strict `yyyy-[m]m-[d]d[( |T)[h]h:[m]m[:[s]s[.f{1,6}]]]`, resolved
    * in UTC — the fast path only engages when the session timezone IS
    * UTC (the [[coerce]] gate), so zone-rule divergence from Spark's
    * own string→timestamp cast is impossible by construction. Returns
    * epoch micros.
    */
  private val tsRe =
    ("^(\\d{4,7})-(\\d{1,2})-(\\d{1,2})" +
      "(?:[ T](\\d{1,2}):(\\d{1,2})(?::(\\d{1,2})(?:\\.(\\d{1,6}))?)?)?$").r

  private[sources] def parseTsMicrosUtc(s: String): Option[Long] = s match {
    case tsRe(y, mo, d, h, mi, sec, frac) =>
      try {
        val micros = Option(frac).map(f => (f + "0" * (6 - f.length)).toLong).getOrElse(0L)
        val ldt = java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt,
          Option(h).map(_.toInt).getOrElse(0), Option(mi).map(_.toInt).getOrElse(0),
          Option(sec).map(_.toInt).getOrElse(0), (micros * 1000L).toInt)
        val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
        Some(math.addExact(math.multiplyExact(inst.getEpochSecond, 1000000L),
          inst.getNano / 1000L))
      } catch { case _: Exception => None }
    case _ => None
  }

  /** Coerce a parsed literal to a column type; None = cannot represent
    * naturally (the planned path's cast semantics then apply instead).
    * `utcSession` gates the timestamp arms: string/TypedLit timestamps
    * are session-timezone-relative, and only the UTC rules are
    * replicated here — any other session zone falls back.
    */
  def coerce(v: Any, dt: DataType, utcSession: Boolean = true): Option[Any] = (v, dt) match {
    case (null, _) => Some(null)
    case (l: Long, LongType) => Some(l)
    case (l: Long, IntegerType) =>
      if (l >= Int.MinValue && l <= Int.MaxValue) Some(l.toInt) else None
    case (l: Long, DoubleType) => Some(l.toDouble)
    case (l: Long, FloatType) => Some(l.toFloat)
    case (l: Long, d: DecimalType) => coerceDecimal(java.math.BigDecimal.valueOf(l), d)
    case (d: Double, DoubleType) => Some(d)
    case (d: Double, FloatType) => Some(d.toFloat)
    case (bd: java.math.BigDecimal, DoubleType) => Some(bd.doubleValue)
    case (bd: java.math.BigDecimal, FloatType) => Some(bd.floatValue)
    case (bd: java.math.BigDecimal, d: DecimalType) => coerceDecimal(bd, d)
    case (s: String, StringType) => Some(s)
    case (s: String, DateType) => parseDateDays(s)
    case (s: String, TimestampType) if utcSession => parseTsMicrosUtc(s)
    case (TypedLit("DATE", s), DateType) => parseDateDays(s)
    case (TypedLit("TIMESTAMP", s), TimestampType) if utcSession => parseTsMicrosUtc(s)
    case (b: Boolean, BooleanType) => Some(b)
    case _ => None
  }

  /** EXACT fit only: rescaling that needs rounding or precision past
    * the column's falls back — ANSI vs legacy rounding/overflow
    * semantics then stay the planned path's problem, never a silent
    * divergence here.
    */
  private def coerceDecimal(bd: java.math.BigDecimal, d: DecimalType): Option[Any] =
    try {
      val scaled = bd.setScale(d.scale) // throws if rounding would be needed
      if (scaled.precision > d.precision) None
      else Some(org.apache.spark.sql.types.Decimal(scaled, d.precision, d.scale))
    } catch { case _: ArithmeticException => None }

  /** Parse + align + coerce a VALUES body against the table schema: the
    * driver-side equivalent of `spark.sql(VALUES)` + BatchAlign (NULL-
    * fill for columns outside the explicit list, like alignToSchema).
    * None on any literal, width, or type mismatch — fall back.
    */
  def parseValuesAligned(values: String, schema: StructType,
      explicitCols: Option[Seq[String]], utcSession: Boolean = true): Option[Seq[Array[Any]]] = {
    if (!supported(schema)) return None
    val raw = parseValues(values).getOrElse(return None)
    // positions of the fed columns within the target schema
    val feedIdx: Seq[Int] = explicitCols match {
      case Some(cols) =>
        val idx = cols.map(c =>
          schema.fields.indexWhere(_.name.equalsIgnoreCase(c.stripPrefix("`").stripSuffix("`"))))
        if (idx.contains(-1) || idx.distinct.size != idx.size) return None
        idx
      case None => schema.indices
    }
    val out = raw.map { r =>
      if (r.size != feedIdx.size) return None
      val row = new Array[Any](schema.length) // nulls for unfed columns
      feedIdx.zip(r).foreach { case (ti, v) =>
        row(ti) = coerce(v, schema.fields(ti).dataType, utcSession).getOrElse(return None)
      }
      row
    }
    Some(out)
  }

  // === predicate evaluation over external rows ==============================

  /** Bind an already-RESOLVED predicate's attributes to schema ordinals;
    * None when any referenced name is missing or the tree contains
    * shapes the in-process evaluator must not run (non-deterministic,
    * subqueries, unevaluable leftovers).
    */
  def bind(resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    if (!resolved.deterministic) return None
    if (resolved.exists(_.isInstanceOf[PlanExpression[_]])) return None
    if (resolved.exists(e => e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference]))
      return None
    val bound = resolved.transform {
      case a: AttributeReference =>
        val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(a.name))
        if (i < 0) return None
        BoundReference(i, schema.fields(i).dataType, schema.fields(i).nullable)
    }
    Some(bound)
  }

  /** External row viewed as an InternalRow for expression eval: a
    * string becomes a UTF8String only when read, so a key predicate
    * over a cached file converts the key column and nothing else.
    */
  def toInternal(row: Array[Any]): org.apache.spark.sql.catalyst.InternalRow =
    new ExternalRowView(row)

  private final class ExternalRowView(row: Array[Any])
      extends org.apache.spark.sql.catalyst.expressions.BaseGenericInternalRow {
    override protected def genericGet(i: Int): Any = row(i) match {
      case s: String => UTF8String.fromString(s)
      case other => other
    }
    override def numFields: Int = row.length
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("read-only row")
    override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException("read-only row")
    override def copy(): org.apache.spark.sql.catalyst.expressions.GenericInternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array.tabulate[Any](row.length)(genericGet))
  }

  /** Fold a SET-clause expression to an external value of the column's
    * type (Literal or any resolved foldable tree, cast like the planned
    * path's `e.cast(dt)`); None = not foldable / cast failed — fall back.
    */
  def foldAssignment(e: org.apache.spark.sql.catalyst.expressions.Expression,
      dt: DataType, utcSession: Boolean = true): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    try {
      if (!e.resolved || !e.foldable || !e.deterministic) return None
      val casted = (if (e.dataType == dt) e else Cast(e, dt)) match {
        // a zone-dependent cast (string/date → timestamp) resolves only
        // with an explicit zone — pin UTC when the session IS UTC, else
        // stay unresolved and fall back (the planned path owns other
        // zones' rules)
        case c: Cast if c.needsTimeZone && utcSession => c.withTimeZone("UTC")
        case other => other
      }
      if (!casted.resolved) return None
      Some(casted.eval(null) match {
        case u: UTF8String => u.toString
        case other => other
      })
    } catch { case _: Exception => None }
  }
}
