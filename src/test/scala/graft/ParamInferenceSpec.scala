package graft

import org.apache.spark.sql.types._

class ParamInferenceSpec extends SparkTestBase {

  private def withTable[T](f: => T): T = {
    spark.sql("DROP TABLE IF EXISTS pi_users")
    spark.sql("CREATE TABLE pi_users (id BIGINT, name STRING, balance DOUBLE, joined DATE) USING parquet")
    try f finally spark.sql("DROP TABLE pi_users")
  }

  private def infer(sql: String): StructType =
    ParamInference.inferParameterSchema(spark, spark.sessionState.sqlParser.parsePlan(sql))

  test("WHERE equality placeholders resolve to column types (parser.rs:103-133)") {
    withTable {
      val s = infer(
        "SELECT * FROM pi_users WHERE id = ? AND name = ?")
      assert(s.fields.map(f => (f.name, f.dataType)).toSeq ==
        Seq(("id", LongType), ("name", StringType)))
    }
  }

  test("IN and reversed comparisons associate too (parser.rs:323-404)") {
    withTable {
      val s = infer(
        "SELECT * FROM pi_users WHERE ? < balance AND id IN (?, ?)")
      assert(s.fields.map(_.dataType).toSeq == Seq(DoubleType, LongType, LongType))
    }
  }

  test("INSERT all-placeholder VALUES maps to table columns in order (parser.rs:168-221)") {
    withTable {
      val s = infer(
        "INSERT INTO pi_users VALUES (?, ?, ?, ?)")
      assert(s.fields.map(f => (f.name, f.dataType)).toSeq ==
        Seq(("id", LongType), ("name", StringType), ("balance", DoubleType), ("joined", DateType)))
    }
  }

  test("multi-row INSERT placeholders repeat the column cycle") {
    withTable {
      val s = infer(
        "INSERT INTO pi_users (id, name) VALUES (?, ?), (?, ?)")
      assert(s.fields.map(_.name).toSeq == Seq("id", "name", "id", "name"))
      assert(s.fields.map(_.dataType).toSeq == Seq(LongType, StringType, LongType, StringType))
    }
  }

  test("unassociated placeholders fall back to Utf8 $n (prepared.rs:123-135)") {
    val s = infer("SELECT ? AS a, 1 + ? AS b")
    assert(s.fields.forall(_.dataType == StringType))
    assert(s.fields.map(_.name).toSeq == Seq("$1", "$2"))
  }

  test("placeholder count is quote-aware (connection.rs:104-106)") {
    // the count comes from the scanner that binds, so the two agree
    assert(SqlParams.count("SELECT '?' , ? -- ?\n, ?") == 2)
    assert(SqlParams.count("SELECT 1") == 0)
    // a backslash-escaped quote does not close the literal
    assert(SqlParams.count("SELECT k FROM t WHERE s = 'it\\'s' AND k = ?") == 1)
    assert(SqlParams.count("SELECT \"a\\\"?\" AS q, ?") == 1)
    // block comments and backticked identifiers hide their '?'
    assert(SqlParams.count("SELECT /* ? */ k FROM t WHERE k = ?") == 1)
    assert(SqlParams.count("SELECT `a?b` FROM t WHERE k = ?") == 1)
  }

  test("a prepared query with an escaped quote binds its one placeholder") {
    val sess = new Session("pi-esc", spark)
    sess.spark.createDataFrame(Seq((1L, "it's"), (2L, "its"))).toDF("k", "s")
      .createOrReplaceTempView("pi_esc")
    val p = sess.createPrepared("SELECT k FROM pi_esc WHERE s = 'it\\'s' AND k = ?")
    assert(p.paramCount == 1 && p.paramSchema.fields.map(_.dataType).toSeq == Seq(LongType))
    assert(sess.executePrepared(p.handle, Seq(1L)).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(sess.executePrepared(p.handle, Seq(2L)).collect().isEmpty)
  }

  test("a query with '?' only inside a literal gets its schema at prepare") {
    val sess = new Session("pi-lit", spark)
    val p = sess.createPrepared("SELECT 'why?' AS q")
    assert(p.paramCount == 0)
    assert(p.schema.map(_.fieldNames.toSeq).contains(Seq("q")))
    assert(sess.executePrepared(p.handle, Seq.empty).collect().map(_.getString(0)).toSeq == Seq("why?"))
  }

  test("prepared statements execute through native positional binding") {
    withTable {
      spark.sql("INSERT INTO pi_users VALUES (1, 'ann', 10.5, DATE'2024-01-01'), (2, 'bob', 20.0, DATE'2024-06-01')")
      val sess = new Session("pi", spark)
      val p = sess.createPrepared("SELECT name FROM pi_users WHERE id = ? OR balance > ?")
      assert(p.paramSchema.fields.map(_.dataType).toSeq == Seq(LongType, DoubleType))
      sess.bindParams(p.handle, Seq(1L, 15.0))
      val names = sess.executePrepared(p.handle).collect().map(_.getString(0)).sorted.toSeq
      assert(names == Seq("ann", "bob"))
    }
  }
}
