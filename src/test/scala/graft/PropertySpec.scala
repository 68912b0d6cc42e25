package graft

import org.scalacheck.Gen

/** Property-based tests (SURVEY §5: "we add ScalaCheck for type
  * round-trips & batch alignment") over the pure layers — ticket codec,
  * parameter escaping, statement splitting, the type bridge — and a
  * model test of the micro-lake's driver-served reads against random
  * DML, transaction and maintenance sequences (fixed seeds).
  */
class PropertySpec extends SparkTestBase {

  /** Minimal forAll: sample the generator N times (scalatestplus bridge
    * is not in the offline cache; raw sampling keeps the properties).
    */
  private def forAll[A](gen: Gen[A], n: Int = 200)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.sample.foreach(check)
    }

  private def forAll2(ga: Gen[Int], gb: Gen[Int])(check: (Int, Int) => Unit): Unit =
    (0 until 200).foreach { _ =>
      for (a <- ga.sample; b <- gb.sample) check(a, b)
    }

  test("ticket codec round-trips arbitrary tickets") {
    val gen = for {
      version <- Gen.chooseNum(0, 1 << 20)
      kind <- Gen.chooseNum(0, 3)
      handle <- Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
      sql <- Gen.option(Gen.asciiPrintableStr)
      rows <- Gen.option(Gen.oneOf(true, false))
    } yield TicketCodec.Ticket(version, kind, handle, sql, rows)
    forAll(gen) { t =>
      assert(TicketCodec.decode(TicketCodec.encode(t)) == t)
    }
  }

  test("SqlParams.literal escaping survives any string content") {
    forAll(Gen.asciiPrintableStr) { s =>
      val lit = SqlParams.literal(s)
      assert(lit.startsWith("'") && lit.endsWith("'"))
      // un-escaping (reverse order of escaping) recovers the original
      assert(lit.substring(1, lit.length - 1)
        .replace("''", "'").replace("\\\\", "\\") == s)
    }
  }

  test("splitStatements never loses non-empty content and rejoins cleanly") {
    val stmt = Gen.nonEmptyListOf(Gen.oneOf(
      "SELECT 1", "INSERT INTO t VALUES (';')", "CREATE TABLE x (a INT)",
      "SELECT * FROM t WHERE s = 'a;b'", "-- note\nSELECT 2"))
    forAll(stmt) { parts =>
      val script = parts.mkString("; ")
      val split = SqlShim.splitStatements(script)
      assert(split.length == parts.length, s"script: $script")
    }
  }

  test("type bridge round-trips every Spark type it can name") {
    import org.apache.spark.sql.types._
    val base = Gen.oneOf[DataType](LongType, IntegerType, ShortType, ByteType, StringType,
      BooleanType, DoubleType, FloatType, DateType, TimestampNTZType, TimestampType,
      BinaryType, DecimalType(10, 2), DecimalType(38, 0))
    val gen = Gen.oneOf(base, base.map(ArrayType(_)), base.map(t => ArrayType(ArrayType(t))))
    forAll(gen) { dt =>
      assert(TypeBridge.toSpark(TypeBridge.toDuckName(dt)) == dt)
    }
  }

  test("decimal parsing honors precision caps for arbitrary (p, s)") {
    forAll2(Gen.chooseNum(1, 76), Gen.chooseNum(0, 38)) { (p, s0) =>
      val s = math.min(s0, p)
      val dt = TypeBridge.toSpark(s"DECIMAL($p,$s)").asInstanceOf[org.apache.spark.sql.types.DecimalType]
      assert(dt.precision <= 38 && dt.scale <= dt.precision)
    }
  }

  test("parseInsert round-trips arbitrary identifiers and column lists") {
    val bare = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(12))
    val weird = Gen.oneOf("we ird", "a.b", "x`y", "q\"t", "1st", "select")
    val ident = Gen.oneOf(bare, weird)
    val gen = for {
      parts <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, ident))
      cols <- Gen.option(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, bare)))
      kw <- Gen.oneOf("VALUES (?, ?)", "SELECT 1, 2", "values(?,?)")
    } yield (parts, cols, kw)
    forAll(gen) { case (parts, cols, kw) =>
      // quote every part with backticks — parseInsert must unquote back
      val table = parts.map(p => "`" + p.replace("`", "``") + "`").mkString(".")
      val colSql = cols.map(_.mkString("(", ", ", ") ")).getOrElse("")
      val sql = s"INSERT INTO $table $colSql$kw"
      val parsed = SqlShim.parseInsert(sql)
      assert(parsed.isDefined, s"failed to parse: $sql")
      assert(parsed.get._1 == parts, s"table parts mangled for: $sql")
      assert(parsed.get._2 == cols, s"column list mangled for: $sql")
    }
  }

  test("insertSourceIsPureParams accepts only placeholder-only VALUES") {
    // any expression fragment mixed into VALUES must disqualify the
    // appender fast path (values would be silently dropped otherwise)
    val exprFrag = Gen.oneOf("1", "upper(?)", "'x'", "? + 1", "now()")
    forAll(exprFrag) { frag =>
      assert(!SqlShim.insertSourceIsPureParams(s"INSERT INTO t VALUES (?, $frag)"))
    }
    val pureShape = Gen.chooseNum(1, 5).flatMap(w =>
      Gen.chooseNum(1, 4).map(r => (w, r)))
    forAll(pureShape) { case (w, r) =>
      val tuple = Seq.fill(w)("?").mkString("(", ", ", ")")
      val sql = s"INSERT INTO t VALUES ${Seq.fill(r)(tuple).mkString(", ")}"
      assert(SqlShim.insertSourceIsPureParams(sql), sql)
    }
  }

  /** Seeded random DML, transaction and maintenance sequences against a
    * two-column micro-lake table `prop_lake` (k bigint pk, v string),
    * six seeds of 14 steps; errors (duplicate keys, commit conflicts)
    * are part of the model. `prepare` runs once per seed, after the
    * first insert; `check(prepared, session, table, where, probe)` runs
    * after every step, with a random (key, lo, hi) probe.
    */
  private def lakeModel[A](prepare: Session => A)(
      check: (A, Session, sources.MutableTable, String, (Long, Long, Long)) => Unit): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    final case class Step(what: String, run: (Session, sources.MutableTable, Seq[Long]) => Unit)
    def stmt(sql: String) = Step(sql, (s, _, _) => s.sql(sql))
    val key = Gen.chooseNum(0L, 24L)
    val step: Gen[Step] = Gen.frequency(
      5 -> key.map(k => stmt(s"INSERT INTO prop_lake VALUES ($k, 'i$k')")),
      3 -> (for (k <- key; w <- Gen.chooseNum(0L, 4L))
        yield stmt(s"UPDATE prop_lake SET v = 'u$k' WHERE k BETWEEN $k AND ${k + w}")),
      3 -> key.map(k => stmt(s"DELETE FROM prop_lake WHERE k = $k")),
      2 -> Gen.const(stmt("BEGIN")),
      2 -> Gen.const(stmt("COMMIT")),
      1 -> Gen.const(stmt("ROLLBACK")),
      1 -> Gen.const(Step("checkpoint", (_, t, _) => t.checkpoint())),
      1 -> Gen.const(Step("vacuum", (_, t, _) => t.vacuum())),
      1 -> Gen.chooseNum(0, 20).map(back => Step(s"restore -$back", (_, t, published) =>
        t.restore(published(math.max(0, published.size - 1 - back))))))
    (1L to 6L).foreach { seed =>
      val steps = Gen.listOfN(14, step).pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      val probes = Gen.listOfN(steps.size, for (k <- key; lo <- key; w <- Gen.chooseNum(0L, 8L))
        yield (k, lo, lo + w)).pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(-seed))
      val catalog = sources.MutableCatalog(spark)
      val sess = new Session(s"prop-lake-$seed", spark.newSession(), Some(catalog))
      val t = catalog.create("prop_lake", StructType(Seq(StructField("k", LongType),
        StructField("v", StringType))), primaryKey = Some("k"))
      sess.sql("INSERT INTO prop_lake VALUES (1, 'a'), (5, 'b'), (9, 'c'), (20, 'd')")
      val prepared = prepare(sess)
      val published = scala.collection.mutable.ArrayBuffer(t.currentVersion)
      steps.zip(probes).zipWithIndex.foreach { case ((st, probe), i) =>
        try st.run(sess, t, published.toSeq)
        catch { case scala.util.control.NonFatal(_) => () }
        published += t.currentVersion
        check(prepared, sess, t, s"seed $seed, step $i (${st.what})", probe)
      }
      if (sess.inTransaction) sess.rollback()
      catalog.drop("prop_lake")
    }
  }

  test("micro-lake model: prepared key and range reads equal the planned read after every step") {
    import org.apache.spark.sql.graft.PointReadExec
    lakeModel(sess => (sess.createPrepared("SELECT * FROM prop_lake WHERE k = ?"),
        sess.createPrepared("SELECT k, v FROM prop_lake WHERE k BETWEEN ? AND ? ORDER BY k"))) {
      case ((read, scan), sess, _, where, (k, lo, hi)) =>
        Seq((read, Seq[Any](k)), (scan, Seq[Any](lo, hi))).foreach { case (p, params) =>
          val df = sess.executePrepared(p.handle, params)
          val at = s"$where, ${p.sql} with $params"
          assert(df.queryExecution.executedPlan.isInstanceOf[PointReadExec], s"$at: declined")
          val fast = df.collect().toSeq
          val planned = sess.sql(SqlParams.bind(p.sql, params)).collect().toSeq
          assert(fast == planned, s"$at: driver $fast, planned $planned")
        }
    }
  }

  /** Versions of every manifest on disk in the micro-lake table's root. */
  private def retainedVersions(t: sources.MutableTable): List[Long] = {
    import scala.jdk.CollectionConverters._
    val listed = java.nio.file.Files.list(t.root)
    try listed.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("manifest-") && n.endsWith(".json"))
        .map(_.stripPrefix("manifest-").stripSuffix(".json").toLong).toList
    finally listed.close()
  }

  test("micro-lake model: every retained snapshot's frame equals the listing read of its manifest") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    var vectorsSeen = 0
    lakeModel(_ => ()) { case (_, _, t, where, _) =>
      val versions = retainedVersions(t)
      assert(versions.nonEmpty, where)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("k"), col("v"), input_file_name().as("f")).collect().toSet
      val current = t.currentVersion
      versions.foreach { v =>
        // the oracle reads the manifest off disk itself: its "files"
        // array is the first bracket pair, and its "deletes" object maps
        // a file name to the base64 RoaringBitmap of deleted positions
        val txt = new String(java.nio.file.Files.readAllBytes(t.root.resolve(s"manifest-$v.json")))
        val body = txt.substring(txt.indexOf('[') + 1, txt.indexOf(']')).trim
        val files = if (body.isEmpty) Seq.empty[String]
          else body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
        val del = txt.indexOf("\"deletes\"")
        assert(del > 0, s"$where: version $v has no deletes object")
        val delBody = txt.substring(txt.indexOf('{', del) + 1, txt.indexOf('}', del)).trim
        val deleted: Map[String, org.roaringbitmap.RoaringBitmap] =
          if (delBody.isEmpty) Map.empty
          else delBody.split(",").map { e =>
            val Array(f, b64) = e.split(":").map(_.trim.stripPrefix("\"").stripSuffix("\""))
            val b = new org.roaringbitmap.RoaringBitmap()
            b.deserialize(java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b64)))
            f -> b
          }.toMap
        assert(deleted.keySet.subsetOf(files.toSet), s"$where: version $v deletes from unlisted files")
        vectorsSeen += deleted.size
        val frame = t.asOf(v)
        // the listing read keeps a row unless its file's vector holds
        // its position (the parquet source's row_index)
        val listing =
          if (files.isEmpty) Set.empty
          else spark.read.schema(t.schema)
            .parquet(files.map(f => t.root.resolve("data").resolve(f).toString): _*)
            .select(col("k"), col("v"), input_file_name().as("f"),
              col("_metadata.file_name"), col("_metadata.row_index"))
            .collect()
            .filterNot(r => deleted.get(r.getString(3)).exists(_.contains(r.getLong(4).toInt)))
            .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2))).toSet
        assert(rows(frame) == listing, s"$where: version $v")
        assert(frame.queryExecution.analyzed.sameResult(t.asOf(v).queryExecution.analyzed),
          s"$where: two frames of version $v")
      }
      assert(versions.contains(current), where)
      assert(rows(t.df) == rows(t.asOf(current)), s"$where: df vs asOf($current)")
    }
    assert(vectorsSeen > 0, "the model never read a manifest with a delete vector")
  }

  test("micro-lake model: the driver read of every retained version equals its planned read") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    lakeModel(_ => ()) { case (_, _, t, where, (_, lo, hi)) =>
      val k = AttributeReference("k", LongType)()
      retainedVersions(t).foreach { v =>
        Seq[(org.apache.spark.sql.catalyst.expressions.Expression, org.apache.spark.sql.Column)](
          Literal.TrueLiteral -> org.apache.spark.sql.functions.lit(true),
          And(GreaterThanOrEqual(k, Literal(lo)), LessThanOrEqual(k, Literal(hi))) ->
            col("k").between(lo, hi)).foreach { case (cond, planned) =>
          val driver = t.readMatching(v, cond)
            .fold(r => fail(s"$where: version $v declined: $r"), identity)
            .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString)).sorted
          val expected = t.asOf(v).filter(planned).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
          assert(driver == expected, s"$where: version $v, $cond")
        }
      }
    }
  }
}
