package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MutableTableSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def mkTable(pk: Option[String] = Some("id")) = {
    val dir = Files.createTempDirectory("graft_mt").resolve("t").toString
    MutableTable.create(spark, dir, schema, pk)
  }

  private def rows(data: (Long, String, Double)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.map(d => Row(d._1, d._2, d._3)), 1), schema)

  test("insert appends and bumps the version") {
    val t = mkTable()
    assert(t.currentVersion == 0 && t.df.count() == 0)
    assert(t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0))) == 2)
    assert(t.currentVersion == 1)
    assert(t.df.count() == 2)
    t.insert(rows((3L, "c", 3.0)))
    assert(t.df.count() == 3)
  }

  test("duplicate primary key errors, nothing committed (error_status.test)") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))
    val v = t.currentVersion
    intercept[RuntimeException](t.insert(rows((1L, "dup", 9.9))))
    intercept[RuntimeException](t.insert(rows((5L, "x", 1.0), (5L, "y", 2.0))))
    assert(t.currentVersion == v)
    assert(t.df.count() == 1)
  }

  test("no primary key -> duplicates allowed") {
    val t = mkTable(pk = None)
    t.insert(rows((1L, "a", 1.0)))
    t.insert(rows((1L, "a", 1.0)))
    assert(t.df.count() == 2)
  }

  test("delete is file-level copy-on-write: untouched files carry over") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0)))  // file A
    t.insert(rows((3L, "c", 3.0), (4L, "d", 4.0)))  // file B
    assert(t.fileCount == 2)
    assert(t.delete(col("id") === 3L) == 1)
    assert(t.df.count() == 3)
    assert(t.df.filter(col("id") === 3L).count() == 0)
    // file A (ids 1,2) must not have been rewritten: still 2 files, one of
    // which is the original
    assert(t.fileCount == 2)
  }

  test("delete keeps rows whose predicate is NULL (data-loss regression, ADVICE r2 high)") {
    val t = mkTable()
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "a", 1.0), Row(2L, null, 2.0), Row(3L, "b", 3.0)), 1), schema)
    t.insert(withNull)
    // cond is NULL for id=2 (name IS NULL): three-valued logic — DELETE
    // removes only WHERE-true rows, so id=2 must survive the rewrite
    assert(t.delete(col("name") === "a") == 1)
    assert(t.df.orderBy(col("id")).collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("delete removing a whole file shrinks the manifest") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))
    t.insert(rows((2L, "b", 2.0)))
    t.delete(col("id") === 1L)
    assert(t.fileCount == 1)
    assert(t.df.collect().toSeq == Seq(Row(2L, "b", 2.0)))
  }

  test("update rewrites matching rows only (copy-on-write)") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0)))
    val n = t.update(col("id") === 2L, Map("score" -> lit(20.0), "name" -> lit("B")))
    assert(n == 1)
    val got = t.df.orderBy("id").collect().toSeq
    assert(got == Seq(Row(1L, "a", 1.0), Row(2L, "B", 20.0)))
  }

  test("update with predicate matching nothing is a no-op version-wise") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))
    val v = t.currentVersion
    assert(t.update(col("id") === 99L, Map("score" -> lit(0.0))) == 0)
    assert(t.currentVersion == v)
  }

  test("UPDATE assigning the primary key re-validates uniqueness (r19 review)") {
    val t = mkTable()
    t.insert(rows((5L, "a", 1.0), (6L, "b", 2.0)))
    val v = t.currentVersion
    // both the driver-rewrite-eligible literal form and the planned form
    // must refuse to mint a duplicate PK
    intercept[RuntimeException](t.update(col("id") === 6L, Map("id" -> lit(5L))))
    assert(t.currentVersion == v, "nothing committed after the refused update")
    assert(t.df.filter(col("id") === 5L).count() == 1)
    // a pk-assigning update to a FREE key value succeeds
    assert(t.update(col("id") === 6L, Map("id" -> lit(7L))) == 1L)
    assert(t.df.filter(col("id") === 7L).count() == 1)
    assert(t.df.count() == 2)
    // an in-batch clash: two rows rewritten onto the same new key
    t.insert(rows((8L, "c", 3.0)))
    intercept[RuntimeException](t.update(col("id").isin(5L, 7L), Map("id" -> lit(9L))))
    assert(t.df.count() == 3)
  }

  test("catalog UPDATE/INSERT parsing survives literals with WHERE/commas/escapes and backticks (r19 review)") {
    val cat = MutableCatalog(spark)
    cat.create("parse_t", StructType(Seq(
      StructField("k", LongType), StructField("s", StringType), StructField("n", LongType))))
    // backticked explicit column list with an expression forces the
    // PLANNED insert path: values must land, not an all-NULL row
    assert(cat.route("INSERT INTO parse_t (`k`, `s`, `n`) VALUES (1, upper('x'), 1 + 1)")
      .contains(1L))
    val r0 = spark.table("parse_t").collect()
    assert(r0.length == 1 && r0(0).getLong(0) == 1L && r0(0).getString(1) == "X"
      && r0(0).getLong(2) == 2L, s"backticked planned insert corrupted: ${r0.toSeq}")
    // a string literal containing ' where ' must not split the SET tail
    assert(cat.route("UPDATE parse_t SET s = 'a where b' WHERE k = 1").contains(1L))
    assert(spark.table("parse_t").collect()(0).getString(1) == "a where b")
    // commas and doubled-quote escapes inside literals must not split
    // assignments
    assert(cat.route("UPDATE parse_t SET s = 'it''s, fine', n = 9 WHERE k = 1").contains(1L))
    val r1 = spark.table("parse_t").collect()(0)
    assert(r1.getString(1) == "it's, fine" && r1.getLong(2) == 9L, s"$r1")
    // WHERE immediately followed by '(' is a valid boundary (r19 advice)
    assert(cat.route("UPDATE parse_t SET n = 3 WHERE(k = 1)").contains(1L))
    assert(spark.table("parse_t").collect()(0).getLong(2) == 3L)
    cat.drop("parse_t")
  }

  test("backtick-quoted identifiers containing ' where '/commas parse (r19 advice)") {
    val cat = MutableCatalog(spark)
    cat.create("bt_t", StructType(Seq(
      StructField("k", LongType), StructField("a where b", LongType),
      StructField("c, d", StringType))))
    assert(cat.route("INSERT INTO bt_t (`k`, `a where b`, `c, d`) VALUES (1, 2, 'x')")
      .contains(1L))
    // the SET tail's backticked identifier contains ' where ': the
    // splitter must find the REAL top-level WHERE after it
    assert(cat.route("UPDATE bt_t SET `a where b` = 5 WHERE k = 1").contains(1L))
    val r = spark.table("bt_t").collect()(0)
    assert(r.getLong(1) == 5L && r.getString(2) == "x", s"$r")
    cat.drop("bt_t")
  }

  test("UPDATE and DELETE route from Spark's parse: comments, case, backticks, qualifiers") {
    val cat = MutableCatalog(spark)
    cat.create("rt_p", StructType(Seq(
      StructField("k", LongType), StructField("s", StringType), StructField("n", LongType))))
    assert(cat.route("INSERT INTO rt_p VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3), (4, 'd', 4)")
      .contains(4L))
    def row(k: Long) = spark.table("rt_p").where(col("k") === k).collect().map(r =>
      (r.getString(1), r.getLong(2))).headOption
    assert(cat.route("/* note */ UPDATE rt_p SET s = 'x' WHERE k = 1").contains(1L))
    assert(row(1) == Some(("x", 1L)))
    assert(cat.route("update rt_p\n  set n = n + 10\n  where k = 2").contains(1L))
    assert(row(2) == Some(("b", 12L)))
    assert(cat.route("UPDATE `rt_p` SET `s` = 'y' WHERE `k` = 3").contains(1L))
    assert(row(3) == Some(("y", 3L)))
    assert(cat.route("UPDATE rt_p SET rt_p.s = 'q' WHERE rt_p.k = 4").contains(1L))
    assert(row(4) == Some(("q", 4L)))
    assert(cat.route("UPDATE rt_p AS u SET u.n = 7 WHERE u.k = 4").contains(1L))
    assert(row(4) == Some(("q", 7L)))
    assert(cat.route("-- note\ndelete from rt_p where k = 1").contains(1L))
    assert(row(1).isEmpty)
    assert(cat.route("DELETE FROM rt_p").contains(3L))
    assert(spark.table("rt_p").count() == 0)
    cat.drop("rt_p")
  }

  test("UPDATE on an unmanaged or unparsable target is not routed: Spark reports its own error") {
    val cat = MutableCatalog(spark)
    cat.create("rt_e", StructType(Seq(StructField("k", LongType), StructField("s", StringType))))
    val sess = new graft.Session("route-errors", spark.newSession(), Some(cat))
    sess.spark.range(3).createOrReplaceTempView("rt_plain")
    Seq("UPDATE rt_plain SET id = 1 WHERE id = 2", "DELETE FROM rt_plain WHERE id = 2",
        "UPDATE rt_e SET s = WHERE k = 1", "DELETE FROM rt_e WHERE k =",
        // parses, with WHERE as the table's alias: routed, it deleted every row
        "DELETE FROM rt_e WHERE").foreach { stmt =>
      assert(cat.route(stmt).isEmpty, stmt)
      val routed = intercept[Exception](sess.sql(stmt))
      val spark0 = intercept[Exception](sess.spark.sql(stmt).collect())
      assert(routed.getClass == spark0.getClass, s"$stmt: $routed vs $spark0")
      assert(graft.ErrorMapping.classify(routed) == graft.ErrorMapping.classify(spark0), stmt)
    }
    assert(graft.ErrorMapping.classify(intercept[Exception](sess.sql("UPDATE rt_e SET s = WHERE k = 1")))
      == graft.ErrorMapping.InvalidArgument)
    cat.drop("rt_e")
  }

  test("drop defers directory reclaim while a live txn has staged DML (r19 advice)") {
    val cat = MutableCatalog(spark)
    val t = cat.create("defer_t", schema, primaryKey = Some("id"))
    t.insert(rows((1L, "a", 1.0)))
    val txn = cat.beginTxn()
    assert(cat.route("DELETE FROM defer_t WHERE id = 1", Some(txn)).contains(1L))
    cat.drop("defer_t")
    assert(cat.get("defer_t").isEmpty, "drop must deregister immediately")
    assert(Files.exists(t.root),
      "staged txn's files must survive the drop until the txn finishes")
    // finishing the txn is a tolerated no-op for the dropped table
    cat.rollbackTxn(txn)
    // with no staged holder, a fresh drop cycle reclaims eagerly
    val t2 = cat.create("defer_e", schema)
    cat.drop("defer_e")
    assert(!Files.exists(t2.root), "unstaged drop still reclaims the directory")
  }

  test("drop reclaims the table directory so the name is reusable (r19 review)") {
    val cat = MutableCatalog(spark)
    val t1 = cat.create("reuse_t", schema, primaryKey = Some("id"))
    t1.insert(rows((1L, "a", 1.0)))
    cat.drop("reuse_t")
    // re-creating the dropped name must work and start empty
    val t2 = cat.create("reuse_t", schema, primaryKey = Some("id"))
    assert(t2.df.count() == 0)
    t2.insert(rows((2L, "b", 2.0))) // direct table insert: no view refresh
    assert(t2.df.count() == 1)
    cat.drop("reuse_t")
    // the rollback-of-created-table path rides the same reclaim
    val txn = cat.beginTxn()
    cat.create("reuse_t", schema, txn = Some(txn))
    cat.rollbackTxn(txn)
    val t3 = cat.create("reuse_t", schema)
    assert(t3.df.count() == 0)
    cat.drop("reuse_t")
  }

  test("snapshot time travel: asOf reads historic versions") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))
    val v1 = t.currentVersion
    t.insert(rows((2L, "b", 2.0)))
    t.delete(col("id") === 1L)
    assert(t.asOf(v1).collect().toSeq == Seq(Row(1L, "a", 1.0)))
    assert(t.df.collect().toSeq == Seq(Row(2L, "b", 2.0)))
  }

  test("merge-on-read: DELETE k then INSERT k succeeds on the driver and planned pk paths") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val before = t.currentVersion
    assert(t.delete(col("id") === 1L) == 1L)
    assert(t.fileCount == 1, "the file stays, with its row 1 deleted")
    // driver path: the clash check over the row cache skips the deleted
    // position, and still sees the live ones
    assert(t.insertRowsDirect(Seq(Array[Any](1L, "d", 4.0))) == Some(1L))
    intercept[RuntimeException](t.insertRowsDirect(Seq(Array[Any](2L, "dup", 0.0))))
    // planned path: the aggregate's table side applies the vectors
    assert(t.delete(col("id") === 2L) == 1L)
    assert(t.insert(rows((2L, "e", 5.0))) == 1L)
    intercept[RuntimeException](t.insert(rows((3L, "dup", 0.0))))
    assert(t.df.orderBy("id").collect().toSeq ==
      Seq(Row(1L, "d", 4.0), Row(2L, "e", 5.0), Row(3L, "c", 3.0)))
    // a pk-assigning UPDATE rejects a live key and may take a deleted one
    val v = t.currentVersion
    intercept[RuntimeException](t.update(col("id") === 3L, Map("id" -> lit(1L))))
    assert(t.currentVersion == v, "nothing committed after the refused update")
    assert(t.delete(col("id") === 1L) == 1L)
    assert(t.update(col("id") === 3L, Map("id" -> lit(1L))) == 1L)
    assert(t.df.orderBy("id").collect().toSeq == Seq(Row(1L, "c", 3.0), Row(2L, "e", 5.0)))
    // time travel: the pre-delete version still returns the rows
    assert(t.asOf(before).orderBy("id").collect().toSeq ==
      Seq(Row(1L, "a", 1.0), Row(2L, "b", 2.0), Row(3L, "c", 3.0)))
  }

  test("merge-on-read: DELETE writes no data file and UPDATE only the updated rows, on every path") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0),
      (5L, "e", 5.0), (6L, "f", 6.0), (7L, "g", 7.0)))
    def dataFiles = MutableTable.listDir(t.root.resolve("data")).map(_.getFileName.toString).toSet
    val loaded = dataFiles
    val hits = t.driverDmlHits.get()
    // the driver path, and the planned path (a predicate the micro-
    // resolver declines, and a non-deterministic one)
    assert(t.delete(expr("id = 1")) == 1L)
    assert(t.driverDmlHits.get() == hits + 1, "the point DELETE takes the driver path")
    assert(t.delete(expr("concat(name, '') = 'b'")) == 1L)
    assert(t.delete(expr("id = 3 AND rand() >= 0")) == 1L)
    assert(dataFiles == loaded, "a DELETE writes no data file")
    assert(t.fileCount == 1)
    def appendedRows(f: => Unit): Long = {
      val was = dataFiles
      f
      val added = dataFiles -- was
      assert(added.size == 1, s"one appended file, got $added")
      spark.read.parquet(t.root.resolve("data").resolve(added.head).toString).count()
    }
    assert(appendedRows(assert(t.update(expr("id = 4"), Map("name" -> lit("D"))) == 1L)) == 1L)
    assert(t.driverDmlHits.get() == hits + 2, "the point UPDATE takes the driver path")
    assert(appendedRows(assert(t.update(expr("id >= 6"), Map("name" -> expr("upper(name)"))) == 2L)) == 2L)
    assert(t.df.orderBy("id").collect().toSeq ==
      Seq(Row(4L, "D", 4.0), Row(5L, "e", 5.0), Row(6L, "F", 6.0), Row(7L, "G", 7.0)))
    // checkpoint folds the vectors back into one file
    t.checkpoint(targetFiles = 1)
    assert(t.fileCount == 1)
    assert(t.df.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(4L, 5L, 6L, 7L))
    val m = new String(Files.readAllBytes(t.root.resolve(s"manifest-${t.currentVersion}.json")))
    assert(m.contains("\"deletes\": {}"), m)
  }

  test("a DataFrame-API predicate takes the driver-side DML path") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val hits = t.driverDmlHits.get()
    assert(t.delete(col("id") === 1L) == 1L)
    assert(t.driverDmlHits.get() == hits + 1, "col === lit takes the driver path, like expr(\"id = 1\")")
    assert(t.update(col("id") >= 2L && !(col("name") === "c"), Map("name" -> lit("B"))) == 1L)
    assert(t.driverDmlHits.get() == hits + 2, "&&, ! and >= take the driver path")
    assert(t.df.orderBy("id").collect().toSeq == Seq(Row(2L, "B", 2.0), Row(3L, "c", 3.0)))
  }

  test("planned DML discovery deletes exactly the rows and positions the driver path does") {
    import scala.jdk.CollectionConverters._
    val wide = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("code", StringType),
      StructField("d", DateType), StructField("amt", DecimalType(10, 2))))
    def mk() = MutableTable.create(spark,
      Files.createTempDirectory("graft_mt_eq").resolve("t").toString, wide, Some("id"))
    val (a, b) = (mk(), mk())
    // three files of ten rows, with NULLs in name, score and code
    (0 until 3).foreach { f =>
      val batch = (1 to 10).map { j =>
        val i = f * 10 + j
        Row(i.toLong, if (i % 7 == 0) null else s"n$i", if (i % 11 == 0) null else i * 3.0,
          Seq("7", "07", "8", "70", null)(i % 5), java.sql.Date.valueOf(s"2024-01-${1 + i % 10}"),
          new java.math.BigDecimal(i * 225).movePointLeft(2))
      }
      Seq(a, b).foreach(_.insert(spark.createDataFrame(batch.asJava, wide).coalesce(1)))
    }
    // each manifest's delete vectors, keyed by the file's place in it:
    // both tables wrote the same files in the same order
    def vectors(t: MutableTable): Seq[(Int, Seq[Int])] = {
      val m = new String(Files.readAllBytes(t.root.resolve(s"manifest-${t.currentVersion}.json")))
      def section(key: String, open: Char, close: Char) = {
        val o = m.indexOf(open, m.indexOf("\"" + key + "\""))
        m.substring(o + 1, m.indexOf(close, o))
      }
      val files = section("files", '[', ']').split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
      val dv = DeleteVectors.parse(section("deletes", '{', '}'))
      files.zipWithIndex.flatMap { case (f, i) => dv.get(f).map(bm => i -> bm.toArray.toSeq) }
    }
    // (predicate, does the driver path take it on table a?)
    val cases = Seq(
      "id = 3" -> true,
      "id IN (1, 5, 9, 14)" -> true,
      "id BETWEEN 10 AND 12" -> true, // a `between` call, lifted as its two comparisons
      "name IS NULL" -> true,
      "id = 2 OR score > 80" -> true,
      "NOT (score > 40)" -> true, // score NULL: NOT(NULL) keeps the row
      "code = 7" -> false, // string vs numeric: the micro-resolver declines
      "d = DATE '2024-01-05'" -> true,
      "amt > 50.5" -> true)
    cases.foreach { case (p, driver) =>
      val (ha, hb) = (a.driverDmlHits.get(), b.driverDmlHits.get())
      val na = a.delete(expr(p))
      val nb = b.delete(coalesce(expr(p), lit(false)))
      assert(a.driverDmlHits.get() == ha + (if (driver) 1 else 0), s"$p: path taken on a")
      assert(b.driverDmlHits.get() == hb, s"coalesce($p, false) must take the planned path")
      assert(na > 0 && na == nb, s"$p: $na vs $nb rows deleted")
      assert(vectors(a) == vectors(b), s"$p: delete vectors differ")
      assert(a.df.orderBy("id").collect().toSeq == b.df.orderBy("id").collect().toSeq, s"$p: live rows differ")
    }
    assert(a.df.count() > 0, "some rows stay live")
  }

  test("a read of a snapshot with deletes still prunes files by their stats") {
    val t = mkTable()
    (0 until 4).foreach(i => t.insert(rows((i * 10L, "a", 1.0), (i * 10L + 1, "b", 2.0))))
    assert(t.delete(col("id") === 20L) == 1L)
    t.df.createOrReplaceTempView("mt_prune")
    val df = spark.sql("SELECT * FROM mt_prune WHERE id = 21")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    }
    assert(scans.map(_.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.inputFiles.length) == Seq(1), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().toSeq == Seq(Row(21L, "b", 2.0)))
    assert(spark.sql("SELECT * FROM mt_prune WHERE id = 20").collect().isEmpty)
  }

  test("a manifest that still carries the older \"stats\" array loads, prunes and takes a DELETE") {
    val t = mkTable()
    (0 until 3).foreach(i => t.insert(rows((i * 10L, s"a$i", 1.0), (i * 10L + 1, s"b$i", 2.0))))
    val v = t.currentVersion
    val path = t.root.resolve(s"manifest-$v.json")
    // the older writer's array: per file and column, an entry
    // `file|colB64|kind|rows|nulls|minB64|maxB64`
    def b64(x: String) = java.util.Base64.getEncoder.encodeToString(x.getBytes("UTF-8"))
    val entries = t.candidateFiles(v, lit(true)).zipWithIndex.flatMap { case (f, i) =>
      Seq(s"$f|${b64("id")}|L|2|0|${b64(s"${i * 10}")}|${b64(s"${i * 10 + 1}")}",
        s"$f|${b64("name")}|S|2|0|${b64(s"a$i")}|${b64(s"b$i")}",
        s"$f|${b64("score")}|D|2|0|${b64("1.0")}|${b64("2.0")}")
    }
    val older = new String(Files.readAllBytes(path)).trim.stripSuffix("}") +
      entries.map("\"" + _ + "\"").mkString(", \"stats\": [", ", ", "]}")
    Files.write(path, older.getBytes)
    val re = MutableTable.load(spark, t.root.toString)
    assert(re.df.count() == 6)
    assert(re.candidateFiles(v, expr("id = 11")).size == 1)
    assert(re.candidateFiles(v, expr("id > 100")).isEmpty)
    assert(re.delete(expr("id = 11")) == 1L)
    val written = new String(Files.readAllBytes(re.root.resolve(s"manifest-${re.currentVersion}.json")))
    assert(!written.contains("\"stats\""), written)
    assert(re.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 10L, 20L, 21L))
  }

  test("a one-row DELETE on a 16-file ycsb-shaped table writes a manifest under 2 KB") {
    import scala.jdk.CollectionConverters._
    // the ycsb usertable: a key and ten 100-character fields
    val ycsb = StructType(StructField("ycsb_key", LongType) +:
      (1 to 10).map(i => StructField(s"field$i", StringType)))
    val t = MutableTable.create(spark, Files.createTempDirectory("graft_mt_ycsb")
      .resolve("usertable").toString, ycsb, Some("ycsb_key"))
    val rnd = new scala.util.Random(7)
    (0 until 16).foreach { f =>
      val batch = (0 until 60).map(j =>
        Row.fromSeq((f * 60L + j) +: Seq.fill(10)(rnd.alphanumeric.take(100).mkString)))
      t.insert(spark.createDataFrame(batch.asJava, ycsb).coalesce(1))
    }
    assert(t.fileCount == 16)
    assert(t.delete(col("ycsb_key") === 500L) == 1L)
    val bytes = Files.size(t.root.resolve(s"manifest-${t.currentVersion}.json"))
    info(s"one-row DELETE manifest: $bytes bytes")
    assert(bytes < 2048, s"one-row DELETE manifest: $bytes bytes")
  }

  test("checkpoint compacts files without changing data (A26)") {
    val t = mkTable()
    (1 to 5).foreach(i => t.insert(rows((i.toLong, s"r$i", i.toDouble))))
    assert(t.fileCount == 5)
    t.checkpoint(targetFiles = 1)
    assert(t.fileCount == 1)
    assert(t.df.count() == 5)
    assert(t.df.agg(sum("score")).head.getDouble(0) == 15.0)
  }

  test("load reopens a table with schema and pk intact") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))
    val re = MutableTable.load(spark, t.root.toString)
    assert(re.schema == schema)
    assert(re.primaryKey.contains("id"))
    assert(re.df.count() == 1)
    intercept[RuntimeException](re.insert(rows((1L, "dup", 0.0))))
  }

  test("DML job accounting: a point UPDATE stays within its fused job budget") {
    // the round-14 YCSB latency work fused affected-file discovery with
    // the match count into ONE per-file aggregate scan, leaving
    // discovery(+count) + write per UPDATE/DELETE; under AQE the
    // discovery aggregate's shuffle stage materializes as its own job,
    // so the ceiling is 3 — the pre-fusion path (separate find-files
    // collect, then a recount) cost one more aggregate action. INSERT's
    // tagged-union pre-check is pinned by behavior specs instead: its
    // AQE stage-job count varies with exchange reuse across runs.
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      counter.set(0)
      val hits = t.driverDmlHits.get()
      // an expression-valued SET: the driver path declines it
      assert(t.update(col("id") === 2L, Map("name" -> expr("upper(name)"))) == 1L)
      assert(t.driverDmlHits.get() == hits, "the UPDATE must take the planned path")
      Thread.sleep(300) // listener bus is async
      val updateJobs = counter.get()
      assert(updateJobs <= 3, s"point UPDATE must run <=3 jobs (discovery+count, write), ran $updateJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("vacuum removes files unreferenced by any manifest") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))
    t.update(col("id") === 1L, Map("score" -> lit(2.0)))
    // the pre-update file is still referenced by manifest v1 -> not removable
    assert(t.vacuum() == 0)
  }

  test("a vacuumed snapshot never reads partially: asOf throws, and an older frame fails at scan") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0), (2L, "b", 2.0)))  // v1: file A
    t.insert(rows((3L, "c", 3.0)))                  // v2: A + B
    val early = t.asOf(2)                           // built while A exists
    assert(early.count() == 3)
    assert(t.delete(col("id") <= 2L) == 2L)         // v3: B alone
    // retire v1 and v2 the way an expiry would (their manifests go), so
    // vacuum reclaims A; then bring the manifests back: v2 is retained
    // again, but one of its two files is gone
    val root = t.root
    val aside = Files.createTempDirectory("graft_mt_aside")
    Seq(1L, 2L).foreach(v =>
      Files.move(root.resolve(s"manifest-$v.json"), aside.resolve(s"manifest-$v.json")))
    assert(t.vacuum() == 1)
    Seq(1L, 2L).foreach(v =>
      Files.move(aside.resolve(s"manifest-$v.json"), root.resolve(s"manifest-$v.json")))
    val built = intercept[java.nio.file.NoSuchFileException](t.asOf(2))
    assert(built.getMessage.contains("part-"), built.getMessage)
    intercept[java.nio.file.NoSuchFileException](t.asOf(1))
    // the frame made before the vacuum still names A: its scan fails
    // rather than answering from B alone
    val scanned = intercept[Exception](early.collect())
    assert(Iterator.iterate[Throwable](scanned)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), scanned.toString)
    assert(t.df.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("restore rolls forward to a past version's contents, history intact") {
    val t = mkTable()
    t.insert(rows((1L, "a", 1.0)))           // v1
    t.insert(rows((2L, "b", 2.0)))           // v2
    t.delete(col("id") === 1L)               // v3
    val nv = t.restore(1)                    // v4 == v1 contents
    assert(nv == 4 && t.currentVersion == 4)
    assert(t.df.collect().map(_.getLong(0)).toSet == Set(1L))
    // the rolled-back interval still time-travels
    assert(t.asOf(3).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(t.restore(4) == 4, "restore to the current version is a no-op")
    intercept[IllegalArgumentException](t.restore(99))
  }

  test("catalog transaction: staged writes are invisible until commit, gone after rollback (SURVEY 7.4)") {
    val cat = MutableCatalog(spark)
    val a = cat.create("txn_a", schema, Some("id"))
    // seed through the catalog so the root-session view tracks it
    cat.route("INSERT INTO txn_a VALUES (1, 'a', 1.0)")
    val txn = cat.beginTxn()
    assert(cat.route("INSERT INTO txn_a VALUES (2, 'b', 2.0)", Some(txn)).contains(1L))
    assert(cat.route("DELETE FROM txn_a WHERE id = 1", Some(txn)).contains(1L),
      "within-txn DML sees the txn's own earlier staged writes")
    cat.create("txn_new", schema, None, Some(txn)).insert(rows((9L, "z", 9.0)))
    // ISOLATION: the published table is untouched while the txn is open
    assert(a.df.collect().map(_.getLong(0)).toSet == Set(1L),
      "staged writes are invisible to published readers before commit")
    cat.rollbackTxn(txn)
    assert(a.df.collect().map(_.getLong(0)).toSet == Set(1L),
      "rollback leaves the published contents untouched")
    assert(cat.get("txn_new").isEmpty, "tables created inside the txn are dropped")
    // the view still serves the published snapshot
    assert(spark.sql("SELECT COUNT(*) FROM txn_a").head.getLong(0) == 1L)
    cat.drop("txn_a")
  }

  test("catalog transaction: commit publishes atomically; stray commit/rollback are no-ops") {
    val cat = MutableCatalog(spark)
    val t = cat.create("txn_c", schema, Some("id"))
    cat.commitTxn(cat.beginTxn()); cat.rollbackTxn(cat.beginTxn()) // empty: tolerated no-ops
    val txn = cat.beginTxn()
    cat.route("INSERT INTO txn_c VALUES (1, 'a', 1.0)", Some(txn))
    assert(t.df.count() == 0, "uncommitted write invisible")
    cat.commitTxn(txn)
    assert(t.df.count() == 1, "commit publishes transactional writes")
    cat.rollbackTxn(txn)
    assert(t.df.count() == 1, "rollback after commit is a no-op")
    cat.drop("txn_c")
  }

  test("concurrent transactions: isolated while open; the second commit conflicts") {
    // Flipped from the pre-r13 last-pointer-swap-wins leniency: two open
    // txns stage divergent chains off the same base invisibly to each
    // other; the FIRST commit wins and the second ABORTS with a conflict
    // instead of silently erasing the committed row — the reference's
    // DuckDB-backed transactions raise the same way.
    val cat = MutableCatalog(spark)
    val t = cat.create("txn_cc", schema, Some("id"))
    cat.route("INSERT INTO txn_cc VALUES (1, 'base', 1.0)")
    val t1 = cat.beginTxn(); val t2 = cat.beginTxn()
    cat.route("INSERT INTO txn_cc VALUES (2, 'from_t1', 2.0)", Some(t1))
    cat.route("INSERT INTO txn_cc VALUES (3, 'from_t2', 3.0)", Some(t2))
    assert(t.df.count() == 1, "both staged chains invisible while open")
    cat.commitTxn(t1)
    assert(t.df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val e = intercept[Exception](cat.commitTxn(t2))
    assert(e.getMessage.contains("conflict"))
    assert(t.df.collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "the first committed write survives; the conflicted chain is discarded")
    cat.drop("txn_cc")
  }

  test("syncViews re-registers a session's view only when the table version changed") {
    val cat = MutableCatalog(spark)
    val t = cat.create("sv_t", schema, Some("id"))
    t.insert(rows((1L, "a", 1.0)))
    val sess = spark.newSession()
    cat.syncViews(sess)
    assert(sess.sql("SELECT COUNT(*) FROM sv_t").head.getLong(0) == 1L)
    // plant a decoy view: an unchanged table version must NOT be
    // re-registered (the per-statement sync call would otherwise be an
    // O(tables) re-analysis under the catalog lock)
    sess.range(42).toDF("id").createOrReplaceTempView("sv_t")
    cat.syncViews(sess)
    assert(sess.sql("SELECT COUNT(*) FROM sv_t").head.getLong(0) == 42L,
      "unchanged version must skip re-registration")
    // a mutation bumps the version and the next sync replaces the decoy
    cat.route("INSERT INTO sv_t VALUES (2, 'b', 2.0)")
    cat.syncViews(sess)
    assert(sess.sql("SELECT COUNT(*) FROM sv_t").head.getLong(0) == 2L,
      "changed version must re-register the snapshot view")
    cat.drop("sv_t")
  }

  test("concurrent syncViews across sessions race a writer safely and converge") {
    val cat = MutableCatalog(spark)
    val t = cat.create("svc_t", schema, Some("id"))
    t.insert(rows((1L, "a", 1.0)))
    val sessions = (0 until 6).map(_ => spark.newSession())
    val fail = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val readers = sessions.map { cs =>
      val th = new Thread(() =>
        try (1 to 15).foreach { _ => cat.syncViews(cs); cs.sql("SELECT COUNT(*) FROM svc_t").collect() }
        catch { case e: Throwable => fail.compareAndSet(null, e) })
      th.start(); th
    }
    val writer = new Thread(() =>
      try (2 to 6).foreach(i => cat.route(s"INSERT INTO svc_t VALUES ($i, 'x', 1.0)"))
      catch { case e: Throwable => fail.compareAndSet(null, e) })
    writer.start()
    (readers :+ writer).foreach(_.join())
    assert(fail.get() == null, s"concurrent sync/read/write raised: ${fail.get()}")
    // after the dust settles every session converges on the final snapshot
    sessions.foreach { cs =>
      cat.syncViews(cs)
      assert(cs.sql("SELECT COUNT(*) FROM svc_t").head.getLong(0) == 6L)
    }
    cat.drop("svc_t")
  }

  test("concurrent in-process writers serialize: no lost updates") {
    val t = mkTable(pk = None)
    val writers = 8
    val threads = (0 until writers).map { w =>
      val th = new Thread(() => t.insert(rows((w.toLong, s"w$w", w.toDouble))))
      th.start(); th
    }
    threads.foreach(_.join())
    // every writer's commit must survive: version advanced once per
    // insert and all rows are present (an unserialized read-version ->
    // commit(v+1) race drops whole batches)
    assert(t.currentVersion == writers.toLong,
      s"expected $writers commits, saw version ${t.currentVersion}")
    assert(t.df.count() == writers.toLong)
  }
}
