package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.{JobGroups, PointReadExec}
import org.apache.spark.sql.types._

/** The prepared key-read fast path (Session.pointReadFast): equality,
  * IN and BETWEEN shapes are answered on the driver over the
  * micro-lake's row cache — these legs pin that its answers are
  * IDENTICAL to the planned SQL path across key types, values, DML
  * churn, projections, ORDER BY directions, and transactions
  * (read-your-writes), that it starts no Spark job, and that unusual
  * shapes fall back rather than change semantics.
  */
class FastReadSpec extends SparkTestBase {

  private def freshSession(): (Session, sources.MutableCatalog) = {
    val catalog = sources.MutableCatalog(spark)
    (new Session("fastread", spark.newSession(), Some(catalog)), catalog)
  }

  private def load(catalog: sources.MutableCatalog, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val t = catalog.create(name, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("v", LongType))), primaryKey = Some("k"))
    (0 until 5).foreach { i =>
      t.insert(spark.range(i * 100L, i * 100L + 100)
        .select(col("id").as("k"), concat(lit("s"), col("id")).as("s"), (col("id") * 7).as("v")))
    }
  }

  test("point read: fast path answers match the native path across values and DML") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_pt")
    val p = sess.createPrepared("SELECT * FROM fr_pt WHERE k = ?")
    def read(k: Long) = sess.executePrepared(p.handle, Seq(k)).collect()
    val r = read(250L)
    assert(r.length == 1 && r(0).getString(1) == "s250" && r(0).getLong(2) == 1750L)
    // different value through the SAME handle (re-bound literal, cached scan)
    assert(read(42L)(0).getString(1) == "s42")
    assert(read(9999L).isEmpty, "missing key answers zero rows")
    // DML invalidates by candidate-set change, not staleness
    sess.sql("UPDATE fr_pt SET s = 'changed' WHERE k = 250")
    assert(read(250L)(0).getString(1) == "changed")
    sess.sql("DELETE FROM fr_pt WHERE k = 42")
    assert(read(42L).isEmpty, "deleted key must disappear from the fast path")
    // projection subset (key not selected) keeps the declared columns
    val p2 = sess.createPrepared("SELECT s FROM fr_pt WHERE k = ?")
    val r2 = sess.executePrepared(p2.handle, Seq(300L)).collect()
    assert(r2(0).length == 1 && r2(0).getString(0) == "s300")
    catalog.drop("fr_pt")
  }

  test("range read: BETWEEN with ORDER BY matches the native path, both directions") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_rng")
    val asc = sess.createPrepared("SELECT k, s FROM fr_rng WHERE k BETWEEN ? AND ? ORDER BY k")
    val got = sess.executePrepared(asc.handle, Seq(95L, 205L)).collect()
    assert(got.map(_.getLong(0)).toSeq == (95L to 205L), s"got ${got.length} rows")
    assert(got.head.getString(1) == "s95" && got.last.getString(1) == "s205")
    val desc = sess.createPrepared(
      "SELECT k FROM fr_rng WHERE k BETWEEN ? AND ? ORDER BY k DESC")
    val gotDesc = sess.executePrepared(desc.handle, Seq(480L, 520L)).collect()
    assert(gotDesc.map(_.getLong(0)).toSeq == (499L to 480L by -1),
      "the table tops out at 499; DESC order must hold")
    // empty range and inverted bounds answer zero rows (native semantics)
    assert(sess.executePrepared(asc.handle, Seq(1000L, 2000L)).collect().isEmpty)
    assert(sess.executePrepared(asc.handle, Seq(10L, 5L)).collect().isEmpty)
    catalog.drop("fr_rng")
  }

  test("IN-list read: batch key lookup matches the native path, missing keys skipped") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_in")
    val p = sess.createPrepared("SELECT k, s FROM fr_in WHERE k IN (?, ?, ?)")
    def read(ks: Seq[Any]) = sess.executePrepared(p.handle, ks).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(read(Seq(5L, 250L, 499L)).toSeq ==
      Seq((5L, "s5"), (250L, "s250"), (499L, "s499")))
    // missing + duplicate keys: each matching ROW answers once
    assert(read(Seq(42L, 42L, 9999L)).toSeq == Seq((42L, "s42")))
    // DML visibility through the same handle
    sess.sql("DELETE FROM fr_in WHERE k = 250")
    assert(read(Seq(5L, 250L, 499L)).toSeq == Seq((5L, "s5"), (499L, "s499")))
    // a NULL param falls back to the native path (same empty-match answer)
    assert(read(Seq(5L, null, 9999L)).toSeq == Seq((5L, "s5")))
    catalog.drop("fr_in")
  }

  test("excess positional params are ignored like the native binder (review r16)") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_xs")
    // the native binder consumes exactly the placeholder count and
    // ignores extras; the fast path once handed the WHOLE param list to
    // the executor — equality with two params hit the two-literal
    // BETWEEN branch and silently became a range read
    val pEq = sess.createPrepared("SELECT k, s FROM fr_xs WHERE k = ?")
    val r = sess.executePrepared(pEq.handle, Seq(5L, 250L)).collect()
    assert(r.length == 1 && r(0).getLong(0) == 5L,
      s"equality with an extra param must stay an equality: got ${r.length} rows")
    val pRng = sess.createPrepared("SELECT k FROM fr_xs WHERE k BETWEEN ? AND ?")
    assert(sess.executePrepared(pRng.handle, Seq(10L, 12L, 99L)).collect().length == 3)
    catalog.drop("fr_xs")
  }

  test("ORDER BY a non-key column falls back to the native path (same results)") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_fb")
    val p = sess.createPrepared("SELECT k, v FROM fr_fb WHERE k BETWEEN ? AND ? ORDER BY v DESC")
    assert(p.pointRead.isEmpty, "non-key ORDER BY must not be detected as a fast shape")
    val got = sess.executePrepared(p.handle, Seq(10L, 13L)).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(13L, 12L, 11L, 10L)) // v = 7k is monotone
    catalog.drop("fr_fb")
  }

  test("equivalent spellings of a key read take the driver path; other shapes stay planned") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_sp")
    // the planned reference reads the same text with its values bound in
    def check(sql: String, params: Seq[Any], fast: Boolean): Unit = {
      val p = sess.createPrepared(sql)
      assert(p.pointRead.isDefined == fast, s"detected=${p.pointRead}: $sql")
      val hits0 = ServeCounters.pointReadHits.get()
      val ((plan, got), jobs) = JobGroups.jobsDuring(spark) {
        val df = sess.executePrepared(p.handle, params)
        (df.queryExecution.executedPlan, df.collect().map(_.toString).toSeq)
      }
      val planned = sess.sql(SqlParams.bind(sql, params)).collect().map(_.toString).toSeq
      if (sql.contains("ORDER BY")) assert(got == planned, s"$sql with $params")
      else assert(got.sorted == planned.sorted, s"$sql with $params")
      assert(planned.nonEmpty, s"$sql: the fixture answers rows")
      if (fast) {
        assert(plan.isInstanceOf[PointReadExec], s"$sql declined to ${plan.nodeName}")
        assert(jobs == 0, s"$sql started $jobs Spark jobs")
        assert(ServeCounters.pointReadHits.get() == hits0 + 1, s"$sql: no counted hit")
      } else assert(!plan.isInstanceOf[PointReadExec], s"$sql was served on the driver")
    }
    check("SELECT * FROM fr_sp WHERE ? = k", Seq(250L), fast = true)
    check("SELECT u.k, u.s FROM fr_sp AS u WHERE u.k = ?", Seq(42L), fast = true)
    check("SELECT `s`, `k` FROM `fr_sp` WHERE `k` = ?", Seq(7L), fast = true)
    check("SELECT s FROM fr_sp /* key read */ WHERE k = ?", Seq(8L), fast = true)
    check("SELECT s FROM fr_sp -- key read\nWHERE k = ?", Seq(9L), fast = true)
    check("select k, v\n  from fr_sp\n where k in (?, ?)\n", Seq(3L, 300L), fast = true)
    check("SELECT k, s FROM fr_sp WHERE k BETWEEN ? AND ? ORDER BY k DESC NULLS LAST",
      Seq(95L, 105L), fast = true)
    // ORDER BY another column, LIMIT, NOT BETWEEN, a computed bound, OR
    check("SELECT k, v FROM fr_sp WHERE k BETWEEN ? AND ? ORDER BY s", Seq(95L, 105L), fast = false)
    check("SELECT k FROM fr_sp WHERE k BETWEEN ? AND ? ORDER BY k LIMIT 3", Seq(95L, 105L), fast = false)
    check("SELECT k FROM fr_sp WHERE k NOT BETWEEN ? AND ? ORDER BY k", Seq(5L, 495L), fast = false)
    check("SELECT s FROM fr_sp WHERE k = ? + 1", Seq(41L), fast = false)
    check("SELECT s FROM fr_sp WHERE k = ? OR k = ?", Seq(41L, 43L), fast = false)
    catalog.drop("fr_sp")
  }

  test("concurrent fast-path reads racing autocommit DML always see a consistent snapshot") {
    val (readerSess, catalog) = freshSession()
    val writerSess = new Session("fastread-writer", spark.newSession(), Some(catalog))
    load(catalog, "fr_race")
    val p = readerSess.createPrepared("SELECT s FROM fr_race WHERE k = ?")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      try (1 to 25).foreach { i =>
        writerSess.sql(s"UPDATE fr_race SET s = 'v$i' WHERE k = 250")
      } catch { case e: Throwable => errors.add(s"writer: ${e.getMessage}") }
      finally stop.set(true)
    })
    val readers = (0 until 3).map { t =>
      new Thread(() => {
        var i = 0
        try while (!stop.get() || i == 0) {
          // the contended key: exactly one row, value from the update
          // lineage — never missing, duplicated, or torn
          val hot = readerSess.executePrepared(p.handle, Seq(250L)).collect()
          if (hot.length != 1) errors.add(s"t$t: got ${hot.length} rows for the hot key")
          else {
            val v = hot(0).getString(0)
            if (v != "s250" && !v.matches("v\\d+")) errors.add(s"t$t: torn value '$v'")
          }
          // an uncontended key in the SAME table (whose file the writer
          // keeps replacing around it) must stay byte-identical
          val cold = readerSess.executePrepared(p.handle, Seq((200L + t * 7))).collect()
          if (cold.length != 1 || cold(0).getString(0) != s"s${200 + t * 7}")
            errors.add(s"t$t: cold key corrupted: ${cold.mkString(",")}")
          i += 1
        } catch { case e: Throwable => errors.add(s"t$t: ${e.getMessage}") }
      })
    }
    (readers :+ writer).foreach(_.start())
    (readers :+ writer).foreach(_.join())
    assert(errors.isEmpty, s"fast path raced DML into: ${errors.peek()}")
    // after the dust settles the final value is the last update
    assert(readerSess.executePrepared(p.handle, Seq(250L)).collect()(0).getString(0) == "v25")
    catalog.drop("fr_race")
  }

  test("read-your-writes: a transaction's staged rows are visible to the fast path") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_txn")
    val p = sess.createPrepared("SELECT s FROM fr_txn WHERE k = ?")
    sess.sql("BEGIN")
    sess.sql("UPDATE fr_txn SET s = 'staged' WHERE k = 7")
    assert(sess.executePrepared(p.handle, Seq(7L)).collect()(0).getString(0) == "staged",
      "inside the txn the staged snapshot must win")
    sess.sql("ROLLBACK")
    assert(sess.executePrepared(p.handle, Seq(7L)).collect()(0).getString(0) == "s7",
      "after rollback the published snapshot is back")
    catalog.drop("fr_txn")
  }

  // === driver answer vs planned answer, per key type =======================

  private def bd(s: String) = new java.math.BigDecimal(s)
  private def date(s: String) = java.sql.Date.valueOf(s)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** One key type's fixture: keys written by a Spark job (read back by a
    * row-cache miss) and keys written driver-side (cached write-through),
    * NULL and repeated keys included — the table has no primary key —
    * plus the probes each shape runs with.
    */
  private final case class KeyCase(name: String, dt: DataType,
      sparkKeys: Seq[Any], driverKeys: Seq[Any],
      points: Seq[Any], ins: Seq[Seq[Any]], ranges: Seq[(Any, Any)])

  private val keyCases = Seq(
    KeyCase("long", LongType,
      Seq(-5L, 0L, 3L, null, 100L), Seq(7L, Long.MaxValue, 3L, null),
      Seq(3L, 7L, 42L, Long.MaxValue, 7), // 7: an INT param for a BIGINT key
      Seq(Seq(3L, 3L, 42L), Seq(-5L, 7L, 100L)),
      Seq((0L, 7L), (-10L, Long.MaxValue), (50L, 40L))),
    KeyCase("int", IntegerType,
      Seq(-2, 0, 9, null), Seq(1, 42, 9),
      Seq(9, -2, 5), Seq(Seq(0, 42, 42), Seq(77, 1)), Seq((-2, 9), (10, 100))),
    // UTF-8 byte order differs from java.lang.String order for
    // supplementary characters: U+1F600 sorts after U+FFFD and U+FF5A
    // in bytes, before them in UTF-16
    KeyCase("string", StringType,
      Seq("a", "é", "😀", null, "z"), Seq("�", "ｚ", "", "a"),
      Seq("a", "😀", "", "missing"),
      Seq(Seq("�", "�", "nope"), Seq("z", "é")),
      Seq(("a", "😁"), ("", "￿"), ("b", "y"))),
    // -0.0 = 0.0 and NaN = NaN, NaN largest: Spark's double semantics
    KeyCase("double", DoubleType,
      Seq(-0.0, 1.5, Double.NaN, null, -3.25, Double.PositiveInfinity), Seq(0.0, 2.0, 1.5),
      Seq(0.0, -0.0, Double.NaN, 1.5, 7.0),
      Seq(Seq(Double.NaN, -0.0, 9.0)),
      Seq((-0.0, 2.0), (-10.0, Double.NaN), (1.0, Double.PositiveInfinity), (Double.NaN, Double.NaN))),
    KeyCase("decimal", DecimalType(10, 2),
      Seq(bd("-1.50"), bd("0.00"), null, bd("99999999.99")), Seq(bd("2.25"), bd("0.00")),
      Seq(bd("0"), bd("2.25"), bd("2.2"), bd("-1.5")),
      Seq(Seq(bd("2.25"), bd("-1.50"), bd("7"))),
      Seq((bd("-2"), bd("3")), (bd("0.00"), bd("0.00")))),
    KeyCase("date", DateType,
      Seq(date("2020-01-01"), date("1999-12-31"), null), Seq(date("2024-02-29"), date("2020-01-01")),
      Seq(date("2020-01-01"), date("2024-02-29"), date("2001-01-01")),
      Seq(Seq(date("1999-12-31"), date("2024-02-29"))),
      Seq((date("2000-01-01"), date("2030-01-01")), (date("1900-01-01"), date("2020-01-01")))),
    KeyCase("timestamp", TimestampType,
      Seq(ts("2020-01-01 10:00:00.123456"), null, ts("1970-01-01 00:00:00")),
      Seq(ts("2021-06-30 23:59:59.999999")),
      Seq(ts("2020-01-01 10:00:00.123456"), ts("2020-01-01 10:00:00")),
      Seq(Seq(ts("1970-01-01 00:00:00"), ts("2021-06-30 23:59:59.999999"))),
      Seq((ts("1970-01-01 00:00:00"), ts("2020-12-31 00:00:00")))))

  test("every shape and key type: the driver answer equals the planned answer, with no Spark job") {
    var plannedJobsSeen = 0
    keyCases.foreach { kc =>
      val catalog = sources.MutableCatalog(spark)
      val sess = new Session("fastread-types", spark.newSession(), Some(catalog))
      // the planned reference binds parameters as SQL text, read in the
      // session time zone; java.sql timestamps and dates are JVM-zone
      sess.spark.conf.set("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
      val name = s"fr_${kc.name}"
      val schema = StructType(Seq(StructField("k", kc.dt), StructField("v", StringType),
        StructField("n", LongType)))
      val t = catalog.create(name, schema)
      t.insert(spark.createDataFrame(java.util.Arrays.asList(
        kc.sparkKeys.zipWithIndex.map { case (k, i) => Row(k, s"s$i", i.toLong) }: _*), schema))
      sess.sql(s"INSERT INTO $name VALUES " + kc.driverKeys.zipWithIndex.map { case (k, i) =>
        Seq(k, s"d$i", 100L + i).map(SqlParams.literal).mkString("(", ", ", ")")
      }.mkString(", "))
      assert(t.fileCount == 2, s"${kc.name}: one Spark-written and one driver-written file")

      val shapes: Seq[(String, Seq[Seq[Any]], Boolean)] =
        Seq((s"SELECT * FROM $name WHERE k = ?", kc.points.map(Seq(_)), false),
          (s"SELECT n, k FROM $name WHERE k = ?", kc.points.map(Seq(_)), false)) ++
        kc.ins.map(ks => (s"SELECT * FROM $name WHERE k IN (${ks.map(_ => "?").mkString(", ")})",
          Seq(ks), false)) ++
        Seq((s"SELECT * FROM $name WHERE k BETWEEN ? AND ?", kc.ranges.map(r => Seq(r._1, r._2)), false),
          (s"SELECT k, v FROM $name WHERE k BETWEEN ? AND ? ORDER BY k", kc.ranges.map(r => Seq(r._1, r._2)), true),
          (s"SELECT v, k FROM $name WHERE k BETWEEN ? AND ? ORDER BY k DESC", kc.ranges.map(r => Seq(r._1, r._2)), true))
      shapes.foreach { case (sql, paramSets, ordered) =>
        val p = sess.createPrepared(sql)
        assert(p.pointRead.isDefined, s"not detected as a key read: $sql")
        paramSets.foreach { params =>
          val (fast, jobs) = JobGroups.jobsDuring(spark) {
            val df = sess.executePrepared(p.handle, params)
            val wire = org.apache.spark.sql.graft.ArrowWire.readIpc(
              org.apache.spark.sql.graft.ArrowWire.toIpcStream(df))._2
            (df.queryExecution.executedPlan, df.collect(), wire)
          }
          val (planned, plannedJobs) = JobGroups.jobsDuring(spark) {
            sess.sql(SqlParams.bind(sql, params)).collect()
          }
          val what = s"${kc.name}: $sql with ${params.mkString("[", ", ", "]")}"
          assert(fast._1.isInstanceOf[PointReadExec], s"$what declined to ${fast._1.nodeName}")
          assert(jobs == 0, s"$what started $jobs Spark jobs")
          plannedJobsSeen += plannedJobs
          val keyAt = fast._2.headOption.map(_.schema.fieldIndex("k")).getOrElse(0)
          if (ordered)
            assert(fast._2.map(r => String.valueOf(r.get(keyAt))).toSeq ==
              planned.map(r => String.valueOf(r.get(keyAt))).toSeq, s"$what: key order")
          assert(fast._2.map(_.toString).sorted.toSeq == planned.map(_.toString).sorted.toSeq, what)
          assert(fast._3.map(_.toString).toSeq == fast._2.map(_.toString).toSeq, s"$what: Arrow wire")
        }
      }
      catalog.drop(name)
    }
    assert(plannedJobsSeen > 0, "the planned references run as jobs: the counter sees jobs")
  }

  test("a key read over a file with deleted positions equals the planned read") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_del")
    val t = catalog.get("fr_del").get
    // deletes inside the files' key ranges, and an UPDATE: its old row
    // is a deleted position, its new one in an appended file
    sess.sql("DELETE FROM fr_del WHERE k IN (250, 251)")
    sess.sql("DELETE FROM fr_del WHERE k BETWEEN 10 AND 20")
    sess.sql("UPDATE fr_del SET s = 'u' WHERE k = 260")
    assert(t.fileCount == 6, "the five loaded files stay, with delete vectors, plus the update's")
    val shapes: Seq[(String, Seq[Seq[Any]], Boolean)] = Seq(
      ("SELECT * FROM fr_del WHERE k = ?", Seq(Seq(250L), Seq(252L), Seq(260L), Seq(15L), Seq(21L)), false),
      ("SELECT * FROM fr_del WHERE k IN (?, ?, ?)", Seq(Seq(249L, 250L, 260L), Seq(10L, 20L, 30L)), false),
      ("SELECT k, s FROM fr_del WHERE k BETWEEN ? AND ? ORDER BY k", Seq(Seq(5L, 30L), Seq(240L, 270L)), true),
      ("SELECT s, k FROM fr_del WHERE k BETWEEN ? AND ? ORDER BY k DESC", Seq(Seq(0L, 499L)), true))
    shapes.foreach { case (sql, paramSets, ordered) =>
      val p = sess.createPrepared(sql)
      paramSets.foreach { params =>
        val df = sess.executePrepared(p.handle, params)
        val what = s"$sql with ${params.mkString("[", ", ", "]")}"
        assert(df.queryExecution.executedPlan.isInstanceOf[PointReadExec], s"$what declined")
        val fast = df.collect().map(_.toString).toSeq
        val planned = sess.sql(SqlParams.bind(sql, params)).collect().map(_.toString).toSeq
        if (ordered) assert(fast == planned, what)
        else assert(fast.sorted == planned.sorted, what)
      }
    }
    assert(sess.sql("SELECT count(*) FROM fr_del").head().getLong(0) == 500 - 2 - 11)
    catalog.drop("fr_del")
  }

  test("declines go to the planned path, counted by reason") {
    val (sess, catalog) = freshSession()
    load(catalog, "fr_decl")
    def declined(reason: String) = ServeCounters.declined(reason)
    val nulls0 = declined("null_param")
    val p = sess.createPrepared("SELECT s FROM fr_decl WHERE k = ?")
    assert(sess.executePrepared(p.handle, Seq(null)).collect().isEmpty)
    assert(declined("null_param") == nulls0 + 1)
    // a string for a BIGINT key binds through the analyzer's coercion
    val types0 = declined("param_type")
    val r = sess.executePrepared(p.handle, Seq("250")).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("s250"))
    assert(declined("param_type") == types0 + 1)
    // a table outside the micro-lake
    sess.spark.range(3).createOrReplaceTempView("fr_plain")
    val unmanaged0 = declined("unmanaged_table")
    val q = sess.createPrepared("SELECT id FROM fr_plain WHERE id = ?")
    assert(sess.executePrepared(q.handle, Seq(2L)).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(declined("unmanaged_table") == unmanaged0 + 1)
    // a column type the driver codec lacks
    val wide = catalog.create("fr_wide", StructType(Seq(StructField("k", LongType),
      StructField("b", BinaryType))))
    wide.insert(spark.range(4).selectExpr("id AS k", "CAST(CAST(id AS STRING) AS BINARY) AS b"))
    val unsupported0 = declined("unsupported_type")
    val w = sess.createPrepared("SELECT k FROM fr_wide WHERE k = ?")
    assert(sess.executePrepared(w.handle, Seq(3L)).collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(declined("unsupported_type") == unsupported0 + 1)
    // more candidate rows than the driver-side bound
    val big = catalog.create("fr_big", StructType(Seq(StructField("k", LongType))))
    big.insert(spark.range(60000).toDF("k"))
    val bound0 = declined("over_bound")
    val b = sess.createPrepared("SELECT k FROM fr_big WHERE k BETWEEN ? AND ?")
    assert(sess.executePrepared(b.handle, Seq(10L, 12L)).collect().length == 3)
    assert(declined("over_bound") == bound0 + 1)
    Seq("fr_decl", "fr_wide", "fr_big").foreach(catalog.drop)
  }

  test("row cache: evicts least recently used files down to its byte bound") {
    val rows = IndexedSeq.fill(10)(Array[Any](1L, "x" * 50))
    val one = sources.RowCache.estimateBytes(rows)
    val c = new sources.RowCache(3 * one)
    (1 to 3).foreach(i => c.put("root", s"f$i", rows))
    assert(c.entries == 3 && c.bytes == 3 * one)
    assert(c.getOrLoad("root", "f1")(fail("f1 is cached")).isDefined) // f2 is now eldest
    c.put("root", "f4", rows)
    assert(c.entries == 3 && c.bytes == 3 * one && c.bytes <= c.maxBytes)
    assert(c.getOrLoad("root", "f2")(None).isEmpty, "the least recently used file is evicted")
    Seq("f1", "f3", "f4").foreach(f => assert(c.getOrLoad("root", f)(fail(s"$f is cached")).isDefined))
    // a file bigger than the whole bound is never cached
    c.put("root", "huge", rows ++ rows ++ rows ++ rows)
    assert(c.getOrLoad("root", "huge")(None).isEmpty && c.bytes <= c.maxBytes)
    c.put("other", "f1", rows)
    c.removeTable("root")
    assert(c.entries == 1 && c.bytes == one)
    assert(c.hits == 4 && c.misses == 2)
  }
}
