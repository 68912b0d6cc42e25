package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Per-file column stats (VERDICT r14 #3/#5): each data file's min/max,
  * kept in its parquet footer, prune BOTH the DML discovery scan and —
  * via the optimizer's [[graft.plans.StatsPruneRule]] — filtered reads,
  * so a point predicate on a multi-file table plans over candidate files
  * only. Pins: candidate sets, the planned scan's file list, pruning
  * after a fresh load() (stats read back from the footers), and that
  * pruning never changes results.
  */
class FileStatsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  /** A table with 10 one-file batches of 100 rows each, k ranges
    * disjoint per file: file i covers k in [i*100, i*100+99].
    */
  private def mkTable(name: String): MutableTable = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_fstats_$name")
    val t = MutableTable.create(spark, dir.resolve(name).toString, schema, primaryKey = Some("k"))
    (0 until 10).foreach { i =>
      val batch = spark.range(i * 100L, i * 100L + 100)
        .select(col("id").as("k"), concat(lit(s"f${i}_"), col("id")).as("s"))
      t.insert(batch)
    }
    assert(t.fileCount == 10, s"expected one file per insert batch, got ${t.fileCount}")
    t
  }

  private def scanFiles(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation =>
        r.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSeq
    }.flatten

  test("point DELETE/UPDATE discovery prunes to the single candidate file") {
    val t = mkTable("dml")
    // discovery-level pin: the stats admit exactly one file for k=250
    assert(t.candidateFiles(t.currentVersion, col("k") === 250L).size == 1)
    assert(t.candidateFiles(t.currentVersion, expr("k = 250")).size == 1,
      "the DML router's unresolved expr(...) tree must prune too")
    assert(t.candidateFiles(t.currentVersion, expr("k BETWEEN 195 AND 310")).size == 3)
    assert(t.candidateFiles(t.currentVersion, expr("k = -5")).isEmpty)

    // behavior pin: a point DELETE records its row in the one candidate
    // file's delete vector — all ten files carry over by reference, no
    // file is written, and only the candidate gets a vector
    val filesBefore = currentFiles(t)
    assert(t.delete(expr("k = 250")) == 1L)
    val filesAfter = currentFiles(t)
    assert(filesAfter == filesBefore,
      s"all ten files must carry over untouched: ${filesBefore.size} -> ${filesAfter.size}")
    assert(deletedFiles(t) == t.candidateFiles(t.currentVersion - 1, expr("k = 250")).toSet)
    assert(t.df.count() == 999)

    // same for UPDATE, plus one appended file with FRESH stats: the old
    // row's file keeps its bounds (it only shrank), so k = 777 now has
    // two candidates, and the new value reads back
    val v0 = t.currentVersion
    assert(t.update(expr("k = 777"), Map("s" -> lit("updated"))) == 1L)
    assert(filesAfter.subsetOf(currentFiles(t)))
    assert((currentFiles(t) -- filesAfter).size == 1, "one appended file")
    assert(deletedFiles(t).size == 2)
    assert(t.df.filter(col("k") === 777).select("s").collect().map(_.getString(0)).toSeq == Seq("updated"))
    assert(t.candidateFiles(t.currentVersion, expr("k = 777")).size == 2)

    // a DELETE matching nothing is decided WITHOUT any scan job and
    // commits nothing
    assert(t.delete(expr("k = 100000")) == 0L)
    assert(t.currentVersion == v0 + 1) // only the update advanced it
  }

  test("optimizer rule prunes filtered SELECTs over the registered view") {
    val catalog = MutableCatalog(spark)
    val t = catalog.create("fs_sel", schema, primaryKey = Some("k"))
    (0 until 10).foreach { i =>
      val batch = spark.range(i * 100L, i * 100L + 100)
        .select(col("id").as("k"), concat(lit(s"f${i}_"), col("id")).as("s"))
      t.insert(batch)
    }
    catalog.syncViews(spark)
    try {
      val point = spark.sql("SELECT s FROM fs_sel WHERE k = 250")
      assert(scanFiles(point).size == 1,
        s"point read must plan over ONE candidate file: ${scanFiles(point).size}")
      assert(point.collect().map(_.getString(0)).toSeq == Seq("f2_250"))

      // 150..449 overlaps files 1,2,3,4 (ranges [100,199]..[400,499])
      val range = spark.sql("SELECT count(*) AS n FROM fs_sel WHERE k BETWEEN 150 AND 449")
      assert(scanFiles(range).size == 4, s"got ${scanFiles(range).size}")
      assert(range.head().getLong(0) == 300L)

      // string bounds prune too (UTF-8 byte order)
      val str = spark.sql("SELECT k FROM fs_sel WHERE s = 'f7_701'")
      assert(scanFiles(str).size == 1)
      assert(str.head().getLong(0) == 701L)

      // PREFIX predicates prune on [p, upperBound(p)) byte bounds: file 7
      // holds exactly the strings 'f7_700'..'f7_799'
      val pre = spark.sql("SELECT count(*) AS n FROM fs_sel WHERE s LIKE 'f7_%'")
      assert(scanFiles(pre).size == 1, s"prefix scan got ${scanFiles(pre).size} files")
      assert(pre.head().getLong(0) == 100L)

      // a predicate the stats cannot decide keeps every file — and an
      // unfiltered scan is untouched by the rule
      assert(scanFiles(spark.sql("SELECT * FROM fs_sel WHERE s LIKE '%_42'")).size == 10)
      assert(scanFiles(spark.table("fs_sel")).size == 10)

      // impossible predicate: zero files, zero rows, no error
      val none = spark.sql("SELECT * FROM fs_sel WHERE k = 99999")
      assert(scanFiles(none).isEmpty)
      assert(none.count() == 0)
    } finally catalog.drop("fs_sel")
  }

  test("IN-lists and NOT-shapes prune on manifest stats (VERDICT r15 #6)") {
    val catalog = MutableCatalog(spark)
    val t = catalog.create("fs_inlist", schema, primaryKey = Some("k"))
    (0 until 10).foreach { i =>
      val batch = spark.range(i * 100L, i * 100L + 100)
        .select(col("id").as("k"), concat(lit(s"f${i}_"), col("id")).as("s"))
      t.insert(batch)
    }
    catalog.syncViews(spark)
    try {
      // small IN-list survives as In(lits): 3 keys in 2 distinct files
      val small = spark.sql("SELECT k FROM fs_inlist WHERE k IN (5, 50, 350)")
      assert(scanFiles(small).size == 2, s"got ${scanFiles(small).size}")
      assert(small.count() == 3)
      // 15 values: the optimizer converts to InSet (threshold 10) — the
      // batch-lookup shape; all 15 keys live in files 0 and 9
      val keys = ((0 until 10) ++ Seq(900, 910, 920, 930, 940)).mkString(", ")
      val big = spark.sql(s"SELECT k FROM fs_inlist WHERE k IN ($keys)")
      assert(scanFiles(big).size == 2, s"InSet scan got ${scanFiles(big).size} files")
      assert(big.count() == 15)
      // an IN-list matching nothing plans over zero files
      assert(scanFiles(spark.sql(
        "SELECT * FROM fs_inlist WHERE k IN (5000, 6000)")).isEmpty)

      // DML router path (raw In over candidateFiles)
      assert(t.candidateFiles(t.currentVersion, expr("k IN (5, 350)")).size == 2)
      assert(t.candidateFiles(t.currentVersion, expr("k IN (5000)")).isEmpty)

      // NOT-shapes: each file's s-prefix is distinct, so NOT LIKE 'f3%'
      // proves file 3 all-matching and prunes it — 9 of 10 remain.
      // (A '_' in the pattern is a single-char WILDCARD: not a pure
      // prefix, so 'f3_%' must conservatively keep all files.)
      val notLike = spark.sql("SELECT count(*) AS n FROM fs_inlist WHERE s NOT LIKE 'f3%'")
      assert(scanFiles(notLike).size == 9, s"got ${scanFiles(notLike).size}")
      assert(notLike.head().getLong(0) == 900L)
      assert(scanFiles(spark.sql(
        "SELECT * FROM fs_inlist WHERE s NOT LIKE 'f3_%'")).size == 10,
        "a wildcard-bearing pattern is not a pure prefix: no pruning")
      // k != v prunes nothing here (no single-point file) but stays correct
      val ne = spark.sql("SELECT count(*) AS n FROM fs_inlist WHERE k != 250")
      assert(ne.head().getLong(0) == 999L)
    } finally catalog.drop("fs_inlist")
  }

  test("NOT IN with an uncomparable literal never prunes a single-point file (review r16)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_notin_inf")
    val dblSchema = StructType(Seq(
      StructField("k", LongType), StructField("score", DoubleType)))
    val t = MutableTable.create(spark, dir.resolve("inf").toString, dblSchema)
    t.insert(spark.createDataFrame(Seq(Row(1L, 7.0)).asJava, dblSchema)) // single-point score file
    // Infinity's comparand is None (NaN/Inf bounds are untrustworthy):
    // point()'s conservative TRUE must not be read as proof of
    // membership — 7.0 NOT IN (5.0, inf) is TRUE, the file must stay
    val cond = expr("score NOT IN (5.0, double('Infinity'))")
    assert(t.candidateFiles(t.currentVersion, cond).size == 1,
      "conservative arm inverted into an unsound prune")
    assert(t.delete(cond) == 1L, "the row matches and must delete")
    // proven membership still prunes: a single-point 5.0 file vs NOT IN (5.0)
    t.insert(spark.createDataFrame(Seq(Row(2L, 5.0)).asJava, dblSchema))
    assert(t.candidateFiles(t.currentVersion, expr("score NOT IN (5.0)")).isEmpty)
  }

  // two fixed seeds = two independent data layouts × predicate draws
  // (r17: the admits rewrite widened the reasoned shapes, so the guard
  // widened too)
  Seq(20260815L, 20260816L).foreach { seed =>
  test(s"pruning soundness property: candidates cover every matching row's file, for randomized predicates (seed $seed)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_prop")
    val t = MutableTable.create(spark, dir.resolve("prop").toString, schema)
    val rnd = new scala.util.Random(seed)
    // 6 files with overlapping random ranges, some single-point, one with nulls
    (0 until 6).foreach { b =>
      val rows = (0 until 5).map { _ =>
        val k: java.lang.Long = if (b == 5 && rnd.nextBoolean()) null else Long.box(rnd.nextInt(40).toLong)
        val s = if (b == 4) "pin" else "s" + rnd.nextInt(8)
        Row(k, s)
      }
      t.insert(spark.createDataFrame(rows.asJava, schema))
    }
    val v = t.currentVersion
    val full = t.df.withColumn("__f", input_file_name())
    def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val preds: Seq[String] = {
      val ops = Seq("=", "!=", "<", "<=", ">", ">=")
      val simple = (0 until 12).map(_ => s"k ${ops(rnd.nextInt(ops.size))} ${rnd.nextInt(45)}")
      val strs = (0 until 6).map(_ => s"s ${ops(rnd.nextInt(2))} 's${rnd.nextInt(8)}'")
      val ins = (0 until 4).map(_ => s"k IN (${Seq.fill(3)(rnd.nextInt(45)).mkString(", ")})")
      val notins = (0 until 4).map(_ => s"s NOT IN ('s${rnd.nextInt(8)}', 'pin')")
      val likes = Seq("s LIKE 's%'", "s NOT LIKE 'pin%'", "s LIKE 'p%'", "s NOT LIKE 's%'")
      val nulls = Seq("k IS NULL", "k IS NOT NULL")
      val combos = (0 until 6).map { _ =>
        val a = simple(rnd.nextInt(simple.size)); val b = strs(rnd.nextInt(strs.size))
        if (rnd.nextBoolean()) s"($a) AND ($b)" else s"($a) OR ($b)"
      }
      // r17 mayFalse arms: negation pushed over conjunctions,
      // disjunctions, ranges, BETWEEN, null tests, and <=>
      val negCombos = (0 until 8).map { _ =>
        val a = simple(rnd.nextInt(simple.size)); val b = simple(rnd.nextInt(simple.size))
        if (rnd.nextBoolean()) s"NOT (($a) AND ($b))" else s"NOT (($a) OR ($b))"
      }
      val negRanges = (0 until 6).map(_ =>
        s"NOT (k ${Seq("<", "<=", ">", ">=")(rnd.nextInt(4))} ${rnd.nextInt(45)})")
      val betweens = Seq(
        s"k BETWEEN ${rnd.nextInt(20)} AND ${20 + rnd.nextInt(25)}",
        s"k NOT BETWEEN ${rnd.nextInt(20)} AND ${20 + rnd.nextInt(25)}")
      val nullSafe = Seq("k <=> 7", "NOT (k <=> 7)", "k <=> NULL", "NOT (k <=> NULL)",
        "NOT (k IS NULL)", "NOT (k IS NOT NULL)", "NOT (NOT (k = 7))")
      simple ++ strs ++ ins ++ notins ++ likes ++ nulls ++ combos ++
        negCombos ++ negRanges ++ betweens ++ nullSafe
    }
    preds.foreach { p =>
      val needed = full.filter(expr(p)).select(col("__f")).distinct()
        .collect().map(r => basename(r.getString(0))).toSet
      // consumer path 1: DML discovery (candidateFiles -> mayMatch)
      val cands = t.candidateFiles(v, expr(p)).toSet
      assert(needed.subsetOf(cands),
        s"UNSOUND prune for [$p]: needed ${needed.size} files, candidates miss ${(needed -- cands).mkString(",")}")
      // consumer path 2: the optimizer rule (StatsPruneRule over the
      // registered scan) — the pruned plan must return the same rows
      val viaRule = t.df.filter(expr(p)).count()
      val unpruned = full.filter(expr(p)).count()
      assert(viaRule == unpruned, s"StatsPruneRule changed results for [$p]: $viaRule vs $unpruned")
    }
  }
  }

  test("NOT-shape pruning on single-point and all-null files") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_not")
    val t = MutableTable.create(spark, dir.resolve("not").toString, schema)
    t.insert(spark.createDataFrame(
      Seq(Row(7L, "only"), Row(7L, "only")).asJava, schema)) // single-point file (k=7, s='only')
    t.insert(spark.createDataFrame(
      Seq(Row(1L, "alpha"), Row(2L, "beta")).asJava, schema))
    t.insert(spark.createDataFrame(
      Seq(Row(9L, null), Row(10L, null)).asJava, schema)) // all-null s
    // NOT(col = v): the single-point file k=7 proves all rows match k=7
    assert(t.candidateFiles(t.currentVersion, expr("k != 7")).size == 2)
    // NOT IN: single-point s='only' file pruned; all-null s file pruned
    // (NULL NOT IN ... is never TRUE)
    assert(t.candidateFiles(t.currentVersion, expr("s NOT IN ('only', 'zzz')")).size == 1)
    // NOT IN with a NULL literal is never TRUE anywhere
    assert(t.candidateFiles(t.currentVersion, expr("s NOT IN ('x', NULL)")).isEmpty)
    // semantics stay Spark's: the DML result equals a Spark filter
    assert(t.delete(expr("s NOT IN ('only', 'zzz')")) == 2L)
    assert(t.df.count() == 4)
  }

  test("a fresh load() prunes from the data files' footers") {
    val t = mkTable("persist")
    val reloaded = MutableTable.load(spark, t.root.toString)
    assert(reloaded.candidateFiles(reloaded.currentVersion, expr("k = 42")).size == 1)
    assert(reloaded.candidateFiles(reloaded.currentVersion, expr("k < 0")).isEmpty)
  }

  test("null-aware pruning: IS NULL skips all-non-null files, comparisons skip all-null files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_nulls")
    val t = MutableTable.create(spark, dir.resolve("nulls").toString, schema)
    import scala.jdk.CollectionConverters._
    t.insert(spark.createDataFrame(
      Seq(Row(1L, "a"), Row(2L, "b")).asJava, schema)) // no nulls in s
    t.insert(spark.createDataFrame(
      Seq(Row(10L, null), Row(11L, null)).asJava, schema)) // all-null s
    assert(t.candidateFiles(t.currentVersion, expr("s IS NULL")).size == 1)
    assert(t.candidateFiles(t.currentVersion, expr("s = 'a'")).size == 1,
      "an all-null file can never satisfy a comparison")
    assert(t.delete(expr("s IS NULL")) == 2L)
    assert(t.df.count() == 2)
  }

  test("mixed-type predicates keep Spark's coercion semantics (review r15: no string upcast)") {
    import scala.jdk.CollectionConverters._
    // `s = 42` against a STRING column: Spark coerces NUMERICALLY (the
    // row '042' matches); a micro-resolver that up-cast the literal to
    // string would compare text and miss it — the fast paths must
    // produce exactly what a plain Spark filter produces
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_coerce")
    val t = MutableTable.create(spark, dir.resolve("coerce").toString, schema)
    t.insert(spark.createDataFrame(
      Seq(Row(1L, "042"), Row(2L, "42"), Row(3L, "7")).asJava, schema))
    val sparkSemantics = t.df.filter(expr("s = 42")).count()
    assert(sparkSemantics == 2L, "Spark casts the strings numerically: '042' matches")
    assert(t.delete(expr("s = 42")) == sparkSemantics,
      "DML must delete exactly the rows a Spark filter matches")
    assert(t.df.count() == 3 - sparkSemantics)
  }

  test("cross-batch NULL pks do not clash (pre-r15 semantics preserved)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_nullpk")
    val t = MutableTable.create(spark, dir.resolve("nullpk").toString,
      schema, primaryKey = Some("k"))
    t.insert(spark.createDataFrame(Seq(Row(null, "a")).asJava, schema))
    // a second batch with its own single NULL pk was accepted before the
    // write-first restructure (left_semi joins never match NULLs) and
    // must still be
    t.insert(spark.createDataFrame(Seq(Row(null, "b")).asJava, schema))
    assert(t.df.count() == 2)
    // but TWO nulls in ONE batch remain an in-batch duplicate
    val dup = intercept[Exception](t.insert(spark.createDataFrame(
      Seq(Row(null, "c"), Row(null, "d")).asJava, schema)))
    assert(dup.getMessage.contains("duplicate key in batch"), dup.getMessage)
  }

  test("string primary keys: planned in-batch and table clash checks") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_strpk")
    val strSchema = StructType(Seq(
      StructField("s", StringType), StructField("k", LongType)))
    val t = MutableTable.create(spark, dir.resolve("strpk").toString,
      strSchema, primaryKey = Some("s"))
    t.insert(spark.createDataFrame(Seq(Row("alpha", 1L), Row("beta", 2L)).asJava, strSchema))
    // in-batch dup on a BINARY(UTF8) key: a DataFrame insert takes the
    // planned aggregate even when its bounds are disjoint from the live
    // file's (no table file overlaps; the staged side alone groups)
    val dup = intercept[Exception](t.insert(spark.createDataFrame(
      Seq(Row("zeta", 3L), Row("zeta", 4L)).asJava, strSchema)))
    assert(dup.getMessage.contains("duplicate key in batch: s=zeta"), dup.getMessage)
    // clash against the table (overlapping bounds: the live file joins
    // the aggregate)
    val clash = intercept[Exception](t.insert(spark.createDataFrame(
      Seq(Row("beta", 9L)).asJava, strSchema)))
    assert(clash.getMessage.contains("violates primary key: s=beta"), clash.getMessage)
    assert(t.df.count() == 2, "failed inserts must leave nothing behind")
  }

  test("double primary keys: 0.0 and -0.0 clash in-batch on the planned path (ADVICE r15)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats_dblpk")
    val dblSchema = StructType(Seq(
      StructField("d", DoubleType), StructField("k", LongType)))
    val t = MutableTable.create(spark, dir.resolve("dblpk").toString,
      dblSchema, primaryKey = Some("d"))
    // empty table -> a DataFrame insert's planned aggregate over the
    // staged rows alone; Spark's grouping semantics
    // (NormalizeFloatingNumbers) treat 0.0 and -0.0 as the same key
    val dup = intercept[Exception](t.insert(spark.createDataFrame(
      Seq(Row(0.0d, 1L), Row(-0.0d, 2L)).asJava, dblSchema)))
    assert(dup.getMessage.contains("duplicate key in batch"), dup.getMessage)
    assert(t.df.count() == 0, "failed insert must leave nothing behind")
  }

  test("a post-restart write keeps carried-over files' footer stats") {
    // review r15: a write after a restart must not lose the stats of
    // the files it carries over
    val t = mkTable("restartstats")
    // fresh instance = restart: in-memory stats start empty
    val reloaded = MutableTable.load(spark, t.root.toString)
    import org.apache.spark.sql.functions._
    reloaded.insert(spark.range(5000L, 5100L)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("s")))
    // a SECOND fresh instance reads only the CURRENT manifest — the old
    // files' bounds must still come back, or pruning silently dies
    // after one write
    val again = MutableTable.load(spark, t.root.toString)
    assert(again.candidateFiles(again.currentVersion, expr("k = 250")).size == 1,
      "old files' stats must survive a post-restart insert's manifest")
  }

  test("prefix pruning: DML LIKE path, upper-bound byte math, and the edges") {
    val t = mkTable("prefix")
    // the DML path sees the raw Like (the optimizer's StartsWith rewrite
    // happens later): candidates for a prefix delete prune to one file
    assert(t.candidateFiles(t.currentVersion, expr("s LIKE 'f3_%'")).size == 1)
    assert(t.candidateFiles(t.currentVersion, expr("s LIKE 'zzz%'")).isEmpty)
    // leading/inner wildcards never prune
    assert(t.candidateFiles(t.currentVersion, expr("s LIKE '%_42'")).size == 10)
    assert(t.candidateFiles(t.currentVersion, expr("s LIKE 'f_3%'")).size == 10)
    assert(t.delete(expr("s LIKE 'f3_%'")) == 100L)
    assert(t.df.count() == 900)
    // byte-level upper bound: plain increment, 0xFF rollover, all-0xFF
    def ub(bytes: Int*): Option[Seq[Int]] =
      FileStats.prefixUpperBound(bytes.map(_.toByte).toArray).map(_.map(_ & 0xFF).toSeq)
    assert(ub('a', 'b') == Some(Seq('a'.toInt, 'c'.toInt)))
    assert(ub('a', 0xFF) == Some(Seq('b'.toInt)), "0xFF tail rolls into the previous byte")
    assert(ub(0xFF, 0xFF) == None, "all-0xFF has no finite bound")
    assert(ub() == None, "empty prefix matches everything")
  }

  test("footer stats decode per column") {
    val t = mkTable("codec")
    val name = currentFiles(t).head
    val st = t.statsFor(name)
    assert(st.contains("k") && st.contains("s"))
    assert(st("k").kind == 'L' && st("s").kind == 'S')
    assert(st("k").rows == 100 && st("k").nulls == 0)
    val lo = st("k").min.get.toLong; val hi = st("k").max.get.toLong
    assert(hi - lo == 99 && lo % 100 == 0, s"bounds $lo..$hi")
  }

  private def currentFiles(t: MutableTable): Set[String] =
    t.candidateFiles(t.currentVersion, lit(true)).toSet

  /** Files the current manifest's "deletes" object names. */
  private def deletedFiles(t: MutableTable): Set[String] = {
    val m = new String(java.nio.file.Files.readAllBytes(t.root.resolve(s"manifest-${t.currentVersion}.json")))
    val at = m.indexOf("\"deletes\"")
    val body = m.substring(m.indexOf('{', at) + 1, m.indexOf('}', at)).trim
    if (body.isEmpty) Set.empty
    else body.split(",").map(_.split(":")(0).trim.stripPrefix("\"").stripSuffix("\"")).toSet
  }
}
