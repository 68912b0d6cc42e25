package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class BatchAlignSpec extends SparkTestBase {

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private val target = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("align reorders columns by name (batch.rs:180-259)") {
    val in = df(StructType(Seq(
      StructField("name", StringType), StructField("id", LongType),
      StructField("score", DoubleType))), Row("a", 1L, 0.5))
    val out = BatchAlign.alignToSchema(in, target)
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.head == Row(1L, "a", 0.5))
  }

  test("align casts mismatched types") {
    val in = df(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("score", StringType))), Row(7, "x", "2.25"))
    val out = BatchAlign.alignToSchema(in, target)
    assert(out.schema == StructType(target.map(_.copy(nullable = true))) || out.schema.map(_.dataType) == target.map(_.dataType))
    assert(out.head == Row(7L, "x", 2.25))
  }

  test("align NULL-fills missing columns and drops extras") {
    val in = df(StructType(Seq(
      StructField("id", LongType), StructField("extra", StringType))), Row(3L, "junk"))
    val out = BatchAlign.alignToSchema(in, target)
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.head == Row(3L, null, null))
  }

  test("align is case-insensitive on names") {
    val in = df(StructType(Seq(
      StructField("ID", LongType), StructField("Name", StringType),
      StructField("SCORE", DoubleType))), Row(9L, "c", 1.0))
    assert(BatchAlign.alignToSchema(in, target).head == Row(9L, "c", 1.0))
  }

  test("explicit column list NULL-fills unlisted columns (partial_insert.test)") {
    val in = df(StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType))), Row(5L, "keep", 9.9))
    val out = BatchAlign.alignToSchema(in, target, Some(Seq("id", "name")))
    assert(out.head == Row(5L, "keep", null))
  }

  test("positional field-name detection (batch.rs:117-139)") {
    def s(names: String*) = StructType(names.map(StructField(_, LongType)))
    assert(BatchAlign.hasPositionalFieldNames(s("1", "2", "3")))
    assert(BatchAlign.hasPositionalFieldNames(s("$1", "$2")))
    assert(!BatchAlign.hasPositionalFieldNames(s("1", "3")))
    assert(!BatchAlign.hasPositionalFieldNames(s("a", "b")))
    assert(!BatchAlign.hasPositionalFieldNames(StructType(Nil)))
  }

  test("positional reshape transposes N*M cols x 1 row to M cols x N rows (batch.rs:52-115)") {
    val in = df(StructType(Seq(
      StructField("1", LongType), StructField("2", StringType),
      StructField("3", LongType), StructField("4", StringType))),
      Row(1L, "a", 2L, "b"))
    val out = BatchAlign.reshapePositional(spark, in, width = 2)
    assert(out.columns.toSeq == Seq("1", "2"))
    assert(out.collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))
  }

  test("positional reshape is a no-op for non-positional or single-tuple batches") {
    val named = df(StructType(Seq(StructField("a", LongType))), Row(1L))
    assert(BatchAlign.reshapePositional(spark, named, 1).collect().toSeq == Seq(Row(1L)))
    val single = df(StructType(Seq(StructField("1", LongType), StructField("2", LongType))), Row(1L, 2L))
    // width == column count -> already one tuple per row
    assert(BatchAlign.reshapePositional(spark, single, 2).collect().toSeq == Seq(Row(1L, 2L)))
  }

}
