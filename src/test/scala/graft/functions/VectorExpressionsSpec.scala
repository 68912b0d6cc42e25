package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

class VectorExpressionsSpec extends SparkTestBase {

  private def vecs = graft.Engine.table(spark, sfDir, "embeddings")
    .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    .limit(50)

  test("vecDot matches the interpreted aggregate/zip_with fold bit-for-bit") {
    val hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val rows = vecs.select(
        VectorFunctions.vecDot(col("v"), col("v")).as("native"),
        hofDot(col("v"), col("v")).as("interpreted"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "fold order must be identical"))
  }

  test("null arrays yield null") {
    val row = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS v")
      .select(VectorFunctions.vecDot(col("v"), col("v")).as("d"))
      .head
    assert(row.isNullAt(0))
  }

  test("expressions run inside whole-stage codegen (no interpreted fallback)") {
    val plan = vecs.select(VectorFunctions.vecDot(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert("""\*\(\d+\) Project \[vec_dot""".r.findFirstIn(plan).isDefined, plan)
  }
}
