package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side small-batch DML fast path (VERDICT r15 #3) must be a
  * pure LATENCY optimization: same results, same errors, same manifest
  * semantics as the planned Spark path, with every gate falling back
  * instead of diverging. Parity is pinned here value-by-value.
  */
class DriverDmlSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def mk(pk: Option[String] = Some("id")) = {
    val dir = Files.createTempDirectory("graft_ddml").resolve("t").toString
    MutableTable.create(spark, dir, schema, pk)
  }

  private def rowsDf(data: (Long, String, Double)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.map(d => Row(d._1, d._2, d._3)), 1), schema)

  // === VALUES literal parsing ===============================================

  test("parseValues: literals, escapes, negatives, exponents, NULL/TRUE/FALSE") {
    // fractional tokens come back as EXACT BigDecimal (r17: a Double
    // intermediate would corrupt decimal-column inserts)
    assert(DriverDml.parseValues("(1, 'a', 2.5)") ==
      Some(Seq(Seq(1L, "a", new java.math.BigDecimal("2.5")))))
    assert(DriverDml.parseValues("(1,'x''y'), (-2, NULL)") ==
      Some(Seq(Seq(1L, "x'y"), Seq(-2L, null))))
    // Spark-parser escape semantics: \\ is one backslash, \n a newline —
    // the exact text SqlParams.literal produces for "C:\new"
    assert(DriverDml.parseValues("""(1, 'C:\\new')""") ==
      Some(Seq(Seq(1L, "C:\\new"))))
    assert(DriverDml.parseValues("""(1, 'a\nb\t''q')""") ==
      Some(Seq(Seq(1L, "a\nb\t'q"))))
    // exotic escapes bail to the planned parser
    assert(DriverDml.parseValues("(1, '" + '\\' + "u0041')").isEmpty)
    assert(DriverDml.parseValues("""(1, 'x\Z')""").isEmpty)
    assert(DriverDml.parseValues("(1e3, -2.5E-1, TRUE, false)") ==
      Some(Seq(Seq(new java.math.BigDecimal("1e3"),
        new java.math.BigDecimal("-2.5E-1"), true, false))))
    // typed date/timestamp literals (the SqlParams.literal shapes)
    assert(DriverDml.parseValues("(DATE '2024-01-05', TIMESTAMP '2024-01-05 10:30:00.5')") ==
      Some(Seq(Seq(DriverDml.TypedLit("DATE", "2024-01-05"),
        DriverDml.TypedLit("TIMESTAMP", "2024-01-05 10:30:00.5")))))
    assert(DriverDml.parseValues("(date '2024-01-05')") == // keyword case-insensitive
      Some(Seq(Seq(DriverDml.TypedLit("DATE", "2024-01-05")))))
    assert(DriverDml.parseValues("(DATE)").isEmpty) // keyword without string
    assert(DriverDml.parseValues("(DATE 2024)").isEmpty)
    // anything non-literal falls back
    assert(DriverDml.parseValues("(1 + 2)").isEmpty)
    assert(DriverDml.parseValues("(upper('a'))").isEmpty)
    assert(DriverDml.parseValues("(CAST(1 AS INT))").isEmpty)
    assert(DriverDml.parseValues("").isEmpty)
    assert(DriverDml.parseValues("(1,), (2)").isEmpty) // malformed
    assert(DriverDml.parseValues("(1), ").isEmpty) // trailing comma
  }

  test("parseValues inverts SqlParams.literal for arbitrary rows (the exact wire path)") {
    import org.scalacheck.Gen
    // the driver-side insert fast path consumes EXACTLY the text
    // SqlParams.bind produces for prepared params — the parser must be
    // the literal() escaper's inverse for every representable value.
    // Strings are biased toward backslash/quote clusters (the historical
    // corruption shapes) plus non-ASCII.
    val str: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.asciiPrintableChar,
      2 -> Gen.oneOf('\\', '\'', '"'),
      1 -> Gen.oneOf('\n', '\r', '\t', '\b'),
      1 -> Gen.oneOf('é', '中', 'ß'))).map(_.mkString)
    val finiteDouble = Gen.chooseNum(-1e12, 1e12).suchThat(d => !d.isNaN && !d.isInfinite)
    val value: Gen[Any] = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(l => l: Any),
      finiteDouble.map(d => d: Any),
      str.map(s => s: Any),
      Gen.oneOf(true, false).map(b => b: Any),
      Gen.const(null: Any))
    val rows = Gen.nonEmptyListOf(Gen.nonEmptyListOf(value).map(_.take(6))).map(_.take(4))
    (0 until 300).foreach { _ =>
      rows.sample.foreach { rs =>
        val text = rs.map(r => r.map(graft.SqlParams.literal).mkString("(", ", ", ")"))
          .mkString(", ")
        val parsed = DriverDml.parseValues(text)
        assert(parsed.isDefined, s"parser rejected literal() output: $text")
        // fractional tokens parse to exact BigDecimal; the double-column
        // coercion (bd.doubleValue on the shortest repr) is the identity
        val norm = parsed.get.map(_.map {
          case bd: java.math.BigDecimal => bd.doubleValue
          case other => other
        }.toList)
        assert(norm == rs.map(_.toList), s"round-trip diverged for $text")
      }
    }
  }

  test("coerce: natural representations only; lossy shapes decline") {
    assert(DriverDml.coerce(5L, LongType) == Some(5L))
    assert(DriverDml.coerce(5L, IntegerType) == Some(5))
    assert(DriverDml.coerce(Long.MaxValue, IntegerType).isEmpty) // overflow
    assert(DriverDml.coerce(5L, DoubleType) == Some(5.0))
    assert(DriverDml.coerce(2.5, FloatType) == Some(2.5f))
    assert(DriverDml.coerce("x", StringType) == Some("x"))
    assert(DriverDml.coerce(2.5, LongType).isEmpty) // truncation -> planned cast
    assert(DriverDml.coerce(5L, StringType).isEmpty) // cross-kind -> planned cast
    assert(DriverDml.coerce(null, LongType) == Some(null))
  }

  test("coerce: date/timestamp/decimal arms (r17) — strict shapes, exact fits, UTC gate") {
    import org.apache.spark.sql.types.Decimal
    def bd(s: String) = new java.math.BigDecimal(s)
    val d102 = DecimalType(10, 2)
    // decimal: exact rescale only
    assert(DriverDml.coerce(bd("1.23"), d102) == Some(Decimal(bd("1.23"), 10, 2)))
    assert(DriverDml.coerce(bd("1.2"), d102) == Some(Decimal(bd("1.20"), 10, 2)))
    assert(DriverDml.coerce(7L, d102) == Some(Decimal(bd("7.00"), 10, 2)))
    assert(DriverDml.coerce(bd("1.234"), d102).isEmpty) // rounding -> planned cast
    assert(DriverDml.coerce(bd("123456789.12"), d102).isEmpty) // overflow
    assert(DriverDml.coerce(bd("2.5"), DoubleType) == Some(2.5))
    assert(DriverDml.coerce(bd("2.5"), FloatType) == Some(2.5f))
    // date: strict yyyy-[m]m-[d]d, valid calendar dates only
    assert(DriverDml.coerce("2024-01-05", DateType) ==
      Some(java.time.LocalDate.of(2024, 1, 5).toEpochDay.toInt))
    assert(DriverDml.coerce(DriverDml.TypedLit("DATE", "2024-1-5"), DateType) ==
      Some(java.time.LocalDate.of(2024, 1, 5).toEpochDay.toInt))
    assert(DriverDml.coerce("2024-02-30", DateType).isEmpty) // invalid day
    assert(DriverDml.coerce("2024-01-05 10:00:00", DateType).isEmpty) // lenient shape -> planned
    // timestamp: micros since epoch under UTC; non-UTC session declines
    assert(DriverDml.coerce("1970-01-01 00:00:01", TimestampType) == Some(1000000L))
    assert(DriverDml.coerce(DriverDml.TypedLit("TIMESTAMP", "1970-01-01 00:00:00.5"),
      TimestampType) == Some(500000L))
    assert(DriverDml.coerce("1970-01-01T00:01:00", TimestampType) == Some(60000000L))
    assert(DriverDml.coerce("1970-01-02", TimestampType) == Some(86400000000L)) // date-only
    assert(DriverDml.coerce("1970-01-01 00:00:00.1234567", TimestampType).isEmpty) // > micros
    assert(DriverDml.coerce("1970-01-01 00:00:00+05:30", TimestampType).isEmpty) // zoned -> planned
    assert(DriverDml.coerce("1970-01-01 00:00:01", TimestampType, utcSession = false).isEmpty)
    assert(DriverDml.coerce(DriverDml.TypedLit("TIMESTAMP", "1970-01-01 00:00:01"),
      TimestampType, utcSession = false).isEmpty)
    // cross-kind typed literals decline
    assert(DriverDml.coerce(DriverDml.TypedLit("DATE", "2024-01-05"), TimestampType).isEmpty)
    assert(DriverDml.coerce(DriverDml.TypedLit("TIMESTAMP", "2024-01-05 00:00:00"), DateType).isEmpty)
    // the parsed values must MATCH Spark's own cast of the same text
    val viaSpark = spark.sql(
      "SELECT CAST('2024-01-05' AS DATE), CAST('2024-01-05 10:30:00.5' AS TIMESTAMP)").head()
    assert(DriverDml.coerce("2024-01-05", DateType).get ==
      viaSpark.getDate(0).toLocalDate.toEpochDay.toInt)
    assert(DriverDml.coerce("2024-01-05 10:30:00.5", TimestampType).get ==
      java.time.temporal.ChronoUnit.MICROS.between(
        java.time.Instant.EPOCH, viaSpark.getTimestamp(1).toInstant))
  }

  // === codec round-trip =====================================================

  test("writeRows/readRows round-trip all supported types incl. nulls") {
    val s = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("s", StringType)))
    val dir = Files.createTempDirectory("graft_codec")
    val file = dir.resolve("t.parquet")
    val in = Seq(
      Array[Any](1L, 2, 3.5, 4.5f, true, "héllo"),
      Array[Any](null, null, null, null, null, null),
      Array[Any](-9L, -8, -0.0, 0.0f, false, ""))
    DriverDml.writeRows(file, s, in)
    val out = DriverDml.readRows(file, s).get
    assert(out.map(_.toSeq) == in.map(_.toSeq))
    // Spark reads the driver-written file identically (same physical types)
    val viaSpark = spark.read.schema(s).parquet(file.toString)
      .orderBy(col("l").asc_nulls_last).collect()
    assert(viaSpark.length == 3 && viaSpark(0).getLong(0) == -9L)
    // and footer stats decode with the right kinds
    val st = FileStats.fromFooter(file)
    assert(st("l").kind == 'L' && st("s").kind == 'S' && st("d").kind == 'D')
    assert(st("l").min.contains("-9") && st("l").max.contains("1"))
  }

  test("stats from the writer's footer equal the footer read back from the file") {
    import org.apache.spark.sql.types.Decimal
    // every codec type, an all-NULL column, and the edge values whose
    // footer bounds parquet's reader rewrites (NaN, signed zeros)
    val s = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("d9", DecimalType(9, 2)), StructField("d18", DecimalType(18, 4)),
      StructField("nul", LongType)))
    def dec(v: String, p: Int, sc: Int) = Decimal(new java.math.BigDecimal(v), p, sc)
    val batches = Seq(
      "mixed" -> Seq(
        Array[Any](1L, 2, 3.5, 4.5f, true, "héllo", 19727, 86400000001L,
          dec("12.34", 9, 2), dec("-5.0001", 18, 4), null),
        Array[Any](-9L, -8, -0.0, 0.0f, false, "", -10, -1L,
          dec("-0.01", 9, 2), dec("123456789.9999", 18, 4), null),
        Array[Any](null, null, null, null, null, null, null, null, null, null, null)),
      "nan" -> Seq(
        Array[Any](1L, 1, Double.NaN, Float.NaN, true, "a", 1, 1L, null, null, null),
        Array[Any](2L, 2, 7.0, -1.5f, true, "b", 2, 2L, null, null, null)),
      "zeros" -> Seq(
        Array[Any](0L, 0, 0.0, -0.0f, false, "", 0, 0L, dec("0", 9, 2), dec("0", 18, 4), null),
        Array[Any](0L, 0, -0.0, 0.0f, false, "", 0, 0L, dec("0", 9, 2), dec("0", 18, 4), null)),
      "only zero" -> Seq(
        Array[Any](5L, 5, 0.0, 0.0f, true, "z", 5, 5L, null, null, null)),
      "all null" -> Seq(
        Array[Any](null, null, null, null, null, null, null, null, null, null, null)))
    val dir = Files.createTempDirectory("graft_footer_stats")
    batches.foreach { case (label, rows) =>
      val file = dir.resolve(s"${label.replace(' ', '_')}.parquet")
      val written = DriverDml.writeRows(file, s, rows)
      assert(written == FileStats.fromFooter(file), s"$label: writer footer vs read-back")
      assert(written("nul").nulls == rows.size, label)
    }
  }

  test("driver-side DML leaves only data files in data/: no .crc or other dot-file") {
    val t = mk()
    (1 to 20).foreach { i => // 16 tiny files trigger a micro-compaction
      assert(t.insertRowsDirect(Seq(Array[Any](i.toLong, s"n$i", i.toDouble))) == Some(1L))
    }
    val hits = t.driverDmlHits.get()
    assert(t.update(expr("id = 3"), Map("name" -> lit("u"))) == 1L)
    assert(t.delete(expr("id = 4")) == 1L)
    assert(t.driverDmlHits.get() == hits + 2, "UPDATE and DELETE must take the driver rewrite")
    assert(t.fileCount < 16, "the inserts must have compacted")
    val names = MutableTable.listDir(t.root.resolve("data")).map(_.getFileName.toString)
    assert(names.nonEmpty)
    assert(names.forall(n => n.startsWith("part-") && n.endsWith(".parquet")),
      s"data/ holds more than data files: ${names.filterNot(_.endsWith(".parquet"))}")
    assert(t.df.count() == 19)
  }

  // === insert fast path =====================================================

  test("insertRowsDirect: append, pk in-batch dup, clash vs table, unsupported schema") {
    val t = mk()
    assert(t.insertRowsDirect(Seq(Array[Any](1L, "a", 1.0), Array[Any](2L, "b", 2.0))) == Some(2L))
    assert(t.df.count() == 2)
    // in-batch duplicate: error, nothing committed
    val v = t.currentVersion
    val dup = intercept[Exception](
      t.insertRowsDirect(Seq(Array[Any](9L, "x", 0.0), Array[Any](9L, "y", 0.0))))
    assert(dup.getMessage.contains("duplicate key in batch"))
    assert(t.currentVersion == v && t.df.count() == 2)
    // clash against committed rows (bounds overlap -> planned check)
    val clash = intercept[Exception](t.insertRowsDirect(Seq(Array[Any](1L, "z", 0.0))))
    assert(clash.getMessage.contains("violates primary key"))
    assert(t.df.count() == 2)
    // -0.0 vs 0.0 double pk in one batch clashes (grouping semantics)
    val dblSchema = StructType(Seq(StructField("d", DoubleType), StructField("k", LongType)))
    val td = MutableTable.create(spark,
      Files.createTempDirectory("graft_ddml").resolve("d").toString, dblSchema, Some("d"))
    val zz = intercept[Exception](
      td.insertRowsDirect(Seq(Array[Any](0.0, 1L), Array[Any](-0.0, 2L))))
    assert(zz.getMessage.contains("duplicate key in batch"))
    // unsupported schema (wide decimal — p>18 needs FIXED_LEN_BYTE_ARRAY)
    // declines, no side effects
    val wide = StructType(Seq(StructField("d", DecimalType(20, 2))))
    val tt = MutableTable.create(spark,
      Files.createTempDirectory("graft_ddml").resolve("wd").toString, wide, None)
    assert(tt.insertRowsDirect(Seq(Array[Any](null))).isEmpty)
    assert(tt.df.count() == 0)
  }

  test("an INSERT inside a file's key bounds checks the pk over the row cache, starting no job") {
    import org.apache.spark.sql.graft.JobGroups
    val t = mk()
    assert(t.insertRowsDirect(Seq(Array[Any](1L, "a", 1.0), Array[Any](5L, "e", 5.0),
      Array[Any](9L, "i", 9.0))) == Some(3L))
    val (ok, okJobs) = JobGroups.jobsDuring(spark)(t.insertRowsDirect(Seq(Array[Any](3L, "c", 3.0))))
    assert(ok == Some(1L) && okJobs == 0, s"overlapping insert started $okJobs jobs")
    val (clash, clashJobs) = JobGroups.jobsDuring(spark)(
      intercept[Exception](t.insertRowsDirect(Seq(Array[Any](5L, "dup", 0.0)))))
    assert(clash.getMessage.contains("violates primary key: id=5") && clashJobs == 0)
    // a NULL key never clashes with a table row, as in the planned check
    assert(t.insertRowsDirect(Seq(Array[Any](null, "n1", 0.0))) == Some(1L))
    assert(t.insertRowsDirect(Seq(Array[Any](null, "n2", 0.0), Array[Any](4L, "d", 4.0))) == Some(2L))
    assert(t.df.count() == 7)
    // a Spark-written file is decoded once into the cache, then checked
    val t2 = mk()
    t2.insert(rowsDf((10L, "a", 0.0), (20L, "b", 0.0), (30L, "c", 0.0)))
    val (clash2, jobs2) = JobGroups.jobsDuring(spark)(
      intercept[Exception](t2.insertRowsDirect(Seq(Array[Any](15L, "x", 0.0), Array[Any](20L, "y", 0.0)))))
    assert(clash2.getMessage.contains("violates primary key: id=20") && jobs2 == 0)
    assert(t2.df.count() == 3)
    // signed zeros and NaN compare as the planned aggregate groups them
    val dbl = StructType(Seq(StructField("d", DoubleType), StructField("k", LongType)))
    val td = MutableTable.create(spark,
      Files.createTempDirectory("graft_ddml").resolve("d").toString, dbl, Some("d"))
    assert(td.insertRowsDirect(Seq(Array[Any](0.0, 1L), Array[Any](Double.NaN, 2L), Array[Any](-5.0, 3L))) == Some(3L))
    assert(intercept[Exception](td.insertRowsDirect(Seq(Array[Any](-0.0, 4L))))
      .getMessage.contains("violates primary key"))
    assert(intercept[Exception](td.insertRowsDirect(Seq(Array[Any](Double.NaN, 5L))))
      .getMessage.contains("violates primary key"))
    assert(td.insertRowsDirect(Seq(Array[Any](-1.0, 6L))) == Some(1L))
  }

  test("an INSERT inside a transaction is staged on the driver, starting no job") {
    import org.apache.spark.sql.graft.{JobGroups, PointReadExec}
    val cat = MutableCatalog(spark)
    val t = cat.create("ddml_txn", schema, Some("id"))
    assert(t.insertRowsDirect(Seq(Array[Any](1L, "a", 1.0), Array[Any](5L, "e", 5.0))) == Some(2L))
    val s = new graft.Session("ddml-txn", spark.newSession(), Some(cat))
    val other = new graft.Session("ddml-other", spark.newSession(), Some(cat))
    def names(sess: graft.Session) =
      sess.sql("SELECT name FROM ddml_txn ORDER BY id").collect().map(_.getString(0)).toSeq
    val read = s.createPrepared("SELECT name FROM ddml_txn WHERE id = ?")
    def readKey(k: Long) = {
      val df = s.executePrepared(read.handle, Seq(k))
      assert(df.queryExecution.executedPlan.isInstanceOf[PointReadExec], s"key $k read was planned")
      df.collect().map(_.getString(0)).toSeq
    }
    s.sql("BEGIN")
    val (affected, jobs) = JobGroups.jobsDuring(spark)(s.sql("INSERT INTO ddml_txn VALUES (3, 'c', 3.0)"))
    assert(jobs == 0, s"in-transaction insert started $jobs Spark jobs")
    assert(affected.head().getLong(0) == 1L)
    assert(readKey(3L) == Seq("c"), "the session reads its staged row on the driver")
    assert(names(other) == Seq("a", "e"), "another session must not see the staged row")
    s.sql("COMMIT")
    assert(names(other) == Seq("a", "c", "e"), "COMMIT publishes the staged row")
    s.sql("BEGIN")
    s.sql("INSERT INTO ddml_txn VALUES (4, 'd', 4.0)")
    assert(readKey(4L) == Seq("d"))
    s.sql("ROLLBACK")
    assert(readKey(4L).isEmpty && names(other) == Seq("a", "c", "e"), "ROLLBACK discards the row")
    // a duplicate key, against the staged chain or the published rows,
    // raises and aborts the transaction: the next statement rolls back
    s.sql("BEGIN")
    s.sql("INSERT INTO ddml_txn VALUES (6, 'f', 6.0)")
    val dup = intercept[t.DuplicateKeyException](s.sql("INSERT INTO ddml_txn VALUES (6, 'g', 0.0)"))
    assert(dup.getMessage.contains("id=6"))
    assert(names(s) == Seq("a", "c", "e") && !s.inTransaction, "the failed transaction rolled back")
    s.sql("BEGIN")
    intercept[t.DuplicateKeyException](s.sql("INSERT INTO ddml_txn VALUES (5, 'x', 0.0)"))
    assert(names(s) == Seq("a", "c", "e") && !s.inTransaction)
    // enough staged inserts to trigger micro-compaction inside the
    // transaction: other sessions keep the published files until COMMIT
    s.sql("BEGIN")
    (10 until 30).foreach(i => s.sql(s"INSERT INTO ddml_txn VALUES ($i, 'n$i', 0.0)"))
    assert(names(other) == Seq("a", "c", "e"))
    s.sql("COMMIT")
    assert(names(other) == Seq("a", "c", "e") ++ (10 until 30).map(i => s"n$i"))
    assert(t.fileCount < 20, s"${t.fileCount} files: the staged inserts were not compacted")
    cat.drop("ddml_txn")
  }

  test("r17 types: codec round-trip + Spark read-back + stats kinds for date/ts/decimal") {
    import org.apache.spark.sql.types.Decimal
    val s = StructType(Seq(
      StructField("k", LongType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("d9", DecimalType(9, 2)),
      StructField("d18", DecimalType(18, 4))))
    val dir = Files.createTempDirectory("graft_codec17")
    val file = dir.resolve("t.parquet")
    def dec(v: String, p: Int, sc: Int) = Decimal(new java.math.BigDecimal(v), p, sc)
    val in = Seq(
      Array[Any](1L, 19727, 86400000001L, dec("12.34", 9, 2), dec("-5.0001", 18, 4)),
      Array[Any](2L, null, null, null, null),
      Array[Any](3L, -10, -1L, dec("-0.01", 9, 2), dec("123456789.9999", 18, 4)))
    DriverDml.writeRows(file, s, in)
    val out = DriverDml.readRows(file, s).get
    assert(out.map(_.toSeq) == in.map(_.toSeq))
    // Spark decodes the driver-written layout identically
    val viaSpark = spark.read.schema(s).parquet(file.toString).orderBy("k").collect()
    assert(viaSpark(0).getDate(1).toLocalDate == java.time.LocalDate.ofEpochDay(19727))
    assert(java.time.temporal.ChronoUnit.MICROS.between(
      java.time.Instant.EPOCH, viaSpark(0).getTimestamp(2).toInstant) == 86400000001L)
    assert(viaSpark(0).getDecimal(3) == new java.math.BigDecimal("12.34"))
    assert(viaSpark(2).getDecimal(4) == new java.math.BigDecimal("123456789.9999"))
    assert(viaSpark(1).isNullAt(1) && viaSpark(1).isNullAt(2) && viaSpark(1).isNullAt(3))
    // and the codec reads a SPARK-written file of the same schema back
    // (the compaction/rewrite path over planned-path inserts)
    val sparkFile = dir.resolve("spark")
    spark.read.schema(s).parquet(file.toString).coalesce(1)
      .write.parquet(sparkFile.toString)
    val pq = java.nio.file.Files.list(sparkFile).iterator()
    val part = Iterator.continually(pq).takeWhile(_.hasNext).map(_.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val reRead = DriverDml.readRows(part, s).get
    assert(reRead.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]) == in.map(_.toSeq))
    // footer stats: date/ts prune as 'L'; decimals carry no stats (safe)
    val st = FileStats.fromFooter(file)
    assert(st("dt").kind == 'L' && st("ts").kind == 'L')
    assert(st("dt").min.contains("-10") && st("dt").max.contains("19727"))
    assert(!st.contains("d9") && !st.contains("d18"))
  }

  test("r17 types: point DML on a timestamped table rides the fast paths (the VERDICT probe)") {
    import org.apache.spark.sql.types.Decimal
    val s = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("dt", DateType), StructField("amt", DecimalType(10, 2)),
      StructField("v", StringType)))
    val dir = Files.createTempDirectory("graft_ddml17").resolve("t").toString
    val t = MutableTable.create(spark, dir, s, Some("id"))
    // literal insert with typed + string-coerced shapes
    assert(t.insertRowsDirect(DriverDml.parseValuesAligned(
      "(1, TIMESTAMP '2024-01-05 10:30:00.5', DATE '2024-01-05', 12.34, 'a'), " +
        "(2, '2024-01-06 00:00:00', '2024-01-06', 5, NULL)", s, None).get) == Some(2L))
    val r1 = t.df.orderBy("id").collect()
    assert(r1(0).getTimestamp(1).toInstant == java.time.Instant.parse("2024-01-05T10:30:00.5Z"))
    assert(r1(0).getDate(2).toLocalDate == java.time.LocalDate.of(2024, 1, 5))
    assert(r1(0).getDecimal(3) == new java.math.BigDecimal("12.34"))
    assert(r1(1).getDecimal(3) == new java.math.BigDecimal("5.00"))
    // point UPDATE with a timestamp-typed SET takes the driver rewrite
    val before = t.driverDmlHits.get()
    assert(t.update(expr("id = 1"),
      Map("ts" -> expr("TIMESTAMP '2025-02-03 04:05:06'"), "v" -> expr("'u'"))) == 1L)
    assert(t.driverDmlHits.get() == before + 1,
      "timestamped tables must not silently lose the ~60 ms DML floor (VERDICT r16 #5)")
    assert(t.df.filter("id = 1").head().getTimestamp(1).toInstant ==
      java.time.Instant.parse("2025-02-03T04:05:06Z"))
    // string-literal SET onto a timestamp column folds via the UTC-pinned cast
    assert(t.update(expr("id = 2"), Map("ts" -> expr("'2025-01-01 00:00:00'"))) == 1L)
    assert(t.driverDmlHits.get() == before + 2)
    // timestamp-predicate DELETE rides the rewrite and prunes on 'L' stats
    assert(t.delete(expr("ts < TIMESTAMP '2025-01-15 00:00:00'")) == 1L)
    assert(t.driverDmlHits.get() == before + 3)
    assert(t.df.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // fallback parity: the same ops on a twin table via the PLANNED path
    // (non-foldable SET forces it) give identical values
    val dir2 = Files.createTempDirectory("graft_ddml17").resolve("p").toString
    val t2 = MutableTable.create(spark, dir2, s, Some("id"))
    t2.insert(t.asOf(1))
    assert(t2.update(expr("id = 1"),
      Map("ts" -> expr("CASE WHEN id = id THEN TIMESTAMP '2025-02-03 04:05:06' END"),
        "v" -> expr("'u'"))) == 1L)
    assert(t2.df.filter("id = 1").head().getTimestamp(1) ==
      t.df.filter("id = 1").head().getTimestamp(1))
    // decimal round-trip through the rewrite: SET amt
    assert(t.update(expr("id = 1"), Map("amt" -> expr("99.99"))) == 1L)
    assert(t.df.head().getDecimal(3) == new java.math.BigDecimal("99.99"))
  }

  test("parseValuesAligned: explicit column lists NULL-fill like BatchAlign; mismatches decline") {
    val s = schema // (id LONG, name STRING, score DOUBLE)
    // full-width, schema order
    val full = DriverDml.parseValuesAligned("(1, 'a', 2.5)", s, None).get
    assert(full.head.toSeq == Seq(1L, "a", 2.5))
    // explicit subset, reordered + case-insensitive: unfed column nulls
    val sub = DriverDml.parseValuesAligned("('x', 7)", s, Some(Seq("NAME", "id"))).get
    assert(sub.head.toSeq == Seq(7L, "x", null))
    // width mismatch, unknown column, duplicate column: decline
    assert(DriverDml.parseValuesAligned("(1)", s, None).isEmpty)
    assert(DriverDml.parseValuesAligned("(1)", s, Some(Seq("nope"))).isEmpty)
    assert(DriverDml.parseValuesAligned("(1, 2)", s, Some(Seq("id", "id"))).isEmpty)
    // unrepresentable literal for the column type: decline (planned cast)
    assert(DriverDml.parseValuesAligned("('5', 'a', 1.0)", s, None).isEmpty)
  }

  // === update/delete fast path parity =======================================

  test("driver rewrite parity: UPDATE/DELETE match Spark filter semantics") {
    val t = mk()
    t.insert(rowsDf((1L, "a", 1.0), (2L, "b", 2.0), (3L, null, 3.0)))
    // point update (the YCSB shape): literal SET, equality WHERE
    assert(t.update(expr("id = 2"), Map("name" -> expr("'upd'"))) == 1L)
    assert(t.df.filter("id = 2").head().getString(1) == "upd")
    assert(t.df.count() == 3)
    // NULL-valued column in the predicate: `name = 'a'` is NULL for the
    // null row — matched rows only where TRUE (three-valued logic)
    assert(t.update(expr("name = 'a'"), Map("score" -> expr("99.5"))) == 1L)
    assert(t.df.filter("id = 1").head().getDouble(2) == 99.5)
    // delete with a range predicate keeps cond-NULL rows (id IS NOT NULL
    // here, so just the range check)
    assert(t.delete(expr("id >= 3")) == 1L)
    assert(t.df.count() == 2)
    // SET to NULL folds and applies
    assert(t.update(expr("id = 1"), Map("name" -> expr("NULL"))) == 1L)
    assert(t.df.filter("id = 1").head().isNullAt(1))
    // update matching nothing: no version bump beyond the no-op contract
    assert(t.update(expr("id = 1000"), Map("name" -> expr("'x'"))) == 0L)
  }

  test("IN-list point deletes ride the driver rewrite (batch-delete shape)") {
    val t = mk()
    t.insert(rowsDf((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    val before = t.driverDmlHits.get()
    assert(t.delete(expr("id IN (2, 4, 99)")) == 2L)
    assert(t.driverDmlHits.get() == before + 1,
      "the IN-list delete must take the in-process rewrite, not the planned path")
    assert(t.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // NOT IN keeps three-valued semantics through the same path
    t.insert(rowsDf((5L, null, 5.0)))
    assert(t.delete(expr("name NOT IN ('a')")) == 1L) // only 'c'; NULL name survives
    assert(t.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))
  }

  test("driver rewrite gates: non-foldable SET and coercing predicates fall back, same results") {
    val t = mk()
    t.insert(rowsDf((1L, "a", 1.0), (2L, "b", 2.0)))
    // non-foldable assignment (references a column) -> planned path
    assert(t.update(expr("id = 1"), Map("name" -> expr("concat(name, '!')"))) == 1L)
    assert(t.df.filter("id = 1").head().getString(1) == "a!")
    // predicate needing analyzer coercion (string col = int) -> planned
    // path; result matches a Spark filter exactly (fresh table: every
    // name must be castable under ANSI semantics)
    val t2 = mk()
    t2.insert(rowsDf((10L, "042", 0.0), (11L, "42", 0.0), (12L, "7", 0.0)))
    val sparkSem = t2.df.filter(expr("name = 42")).count()
    assert(sparkSem == 2L)
    assert(t2.delete(expr("name = 42")) == sparkSem)
    assert(t2.df.count() == 3 - sparkSem)
  }

  test("micro-compaction: tiny files merge inside the insert commit; data and time travel intact") {
    val t = mk()
    (1 to 20).foreach { i =>
      assert(t.insertRowsDirect(Seq(Array[Any](i.toLong, s"n$i", i.toDouble))) == Some(1L))
    }
    // 16 tiny files triggered at least one merge: live count well below 20
    assert(t.fileCount < 16, s"got ${t.fileCount} files")
    assert(t.df.count() == 20)
    assert(t.df.agg(sum("id")).head().getLong(0) == 210L)
    // pk enforcement still holds across the compacted file
    val clash = intercept[Exception](t.insertRowsDirect(Seq(Array[Any](7L, "dup", 0.0))))
    assert(clash.getMessage.contains("violates primary key"))
    // an old snapshot still reads its original (pre-compaction) file set
    assert(t.asOf(5).count() == 5)
  }

  test("insertRowsDirect files prune like Spark-written ones (stats parity)") {
    val t = mk(pk = None)
    assert(t.insertRowsDirect(Seq(Array[Any](1L, "aa", 1.0), Array[Any](5L, "mm", 5.0))) == Some(2L))
    assert(t.insertRowsDirect(Seq(Array[Any](100L, "zz", 9.0))) == Some(1L))
    assert(t.candidateFiles(t.currentVersion, expr("id = 100")).size == 1)
    assert(t.candidateFiles(t.currentVersion, expr("id = 50")).isEmpty)
    assert(t.candidateFiles(t.currentVersion, expr("name LIKE 'a%'")).size == 1)
  }
}
