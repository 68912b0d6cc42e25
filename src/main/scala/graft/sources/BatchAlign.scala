package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-path batch shaping — the Spark re-expression of the reference's
  * appender alignment (swanlake-core/src/engine/batch.rs).
  *
  * `alignToSchema` mirrors `align_batch_to_table_schema` (batch.rs:180-259):
  * incoming columns are matched to the target table schema BY NAME
  * (case-insensitive), reordered, CAST where the type differs, NULL-filled
  * where missing, and extra columns are dropped. An optional explicit
  * column list restricts which target columns may be fed by the batch
  * (INSERT INTO t (a, b) — partial_insert.test), the rest NULL-fill.
  *
  * `reshapePositional` mirrors `reshape_batch_for_multi_row_insert`
  * (batch.rs:12-115): ADBC/Go drivers ship a multi-row `VALUES
  * (?,?),(?,?)` parameter batch as ONE row of N·M columns named
  * positionally ("1","2",… or "$1","$2",…); it is transposed back to M
  * columns × N rows before alignment.
  *
  * Scale note: alignment is a pure projection (select + cast) — it fuses
  * into whole-stage codegen ahead of the write, adding no shuffle and no
  * extra pass over the data.
  */
object BatchAlign {

  /** Align `df` to `target`: reorder by (case-insensitive) name, cast
    * mismatched types, NULL-fill missing columns, ignore extras.
    * `explicitCols`, when given, lists the only target columns the batch
    * feeds (others NULL-fill even if present in `df`).
    */
  def alignToSchema(df: DataFrame, target: StructType,
      explicitCols: Option[Seq[String]] = None): DataFrame = {
    val byLower = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val allowed = explicitCols.map(_.map(_.toLowerCase).toSet)
    val cols: Seq[Column] = target.fields.toSeq.map { tf =>
      val feed = allowed.forall(_.contains(tf.name.toLowerCase))
      byLower.get(tf.name.toLowerCase) match {
        case Some(sf) if feed =>
          val c = col(s"`${sf.name}`")
          (if (sf.dataType == tf.dataType) c else c.cast(tf.dataType)).as(tf.name)
        case _ => lit(null).cast(tf.dataType).as(tf.name)
      }
    }
    df.select(cols: _*)
  }

  /** Positional-name detection (batch.rs:117-139): every column named
    * "1","2",… or "$1","$2",… in order.
    */
  def hasPositionalFieldNames(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.zipWithIndex.forall { case (f, i) =>
      f.name == (i + 1).toString || f.name == s"$$${i + 1}"
    }

  /** Transpose a 1-row batch of N·M positionally-named columns into M
    * columns × N rows (batch.rs:52-115). `width` = M, the column count of
    * the INSERT's VALUES tuple. Types are taken from the first tuple.
    * No-op when the batch is not positional or not a multiple of width.
    */
  def reshapePositional(spark: SparkSession, df: DataFrame, width: Int): DataFrame = {
    val schema = df.schema
    if (!hasPositionalFieldNames(schema) || width <= 0 ||
        schema.length % width != 0 || schema.length == width)
      return df
    // ONE probe job for the is-single-row check AND the row itself
    // (r19 review: count() + head() ran two jobs per DoPut batch)
    val probe = df.take(2)
    if (probe.length != 1) return df
    val nRows = schema.length / width
    val row = probe(0)
    val outFields = (0 until width).map(j => StructField((j + 1).toString, schema(j).dataType, nullable = true))
    // type check: repeated tuples must agree with the first tuple's types
    for (r <- 1 until nRows; j <- 0 until width)
      require(schema(r * width + j).dataType == outFields(j).dataType,
        s"tuple $r column $j type ${schema(r * width + j).dataType} != ${outFields(j).dataType}")
    val rows = (0 until nRows).map { r =>
      Row.fromSeq((0 until width).map(j => row.get(r * width + j)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(outFields))
  }

  /** DoPut prepared-INSERT ingest — the reference's appender fast path
    * (prepared.rs:429-515 + batch.rs:117-259): reshape a Go-driver
    * one-row positional batch back into rows, bind positional parameter
    * columns onto the fed column names BY POSITION (batch.rs:131-141 —
    * extended to arbitrary placeholder labels that match none of the
    * fed columns, since DoPut parameter batches are positional by
    * contract), align to the table schema, append. Returns the number
    * of rows appended — the DoPut result's affected-row count.
    */
  def appendParamBatch(spark: SparkSession, table: String, batch: DataFrame,
      explicitCols: Option[Seq[String]] = None): Long = {
    // cache so the plan executes ONCE: the write materializes the
    // blocks and the count reads them back (r19 review: count + write
    // re-executed the aligned plan twice per DoPut batch)
    val aligned = shapeParamBatch(spark, batch, spark.table(table).schema, explicitCols)
      .persist()
    try {
      aligned.write.mode("append").insertInto(table)
      aligned.count()
    } finally { aligned.unpersist(); () }
  }

  /** The shaping half of the appender path, target-storage-agnostic:
    * reshape + positional rename + align, returning the table-shaped
    * batch for whichever writer owns the table (saved table via
    * [[appendParamBatch]], micro-lake via `MutableCatalog.insertBatch`).
    */
  def shapeParamBatch(spark: SparkSession, batch: DataFrame, target: StructType,
      explicitCols: Option[Seq[String]] = None): DataFrame = {
    val fed = explicitCols.getOrElse(target.fields.map(_.name).toSeq)
    val width = fed.length
    val reshaped = reshapePositional(spark, batch, width)
    val batchNames = reshaped.schema.fields.map(_.name.toLowerCase).toSet
    val named =
      if (reshaped.schema.length == width &&
          (hasPositionalFieldNames(reshaped.schema) ||
           !fed.exists(c => batchNames(c.toLowerCase))))
        reshaped.toDF(fed: _*)
      else reshaped
    alignToSchema(named, target, explicitCols)
  }
}
