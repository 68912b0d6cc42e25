package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** The answer of a prepared key read served on the driver
  * (graft.Session.pointReadFast): rows already matched, ordered and
  * projected over the micro-lake's row cache. It is planned as its own
  * leaf so that the executed plan names the path it took (`PointRead`);
  * the rows never leave the driver.
  */
final case class PointReadRelation(output: Seq[Attribute], rows: Seq[InternalRow])
    extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(rows.size) * output.map(_.dataType.defaultSize).sum.max(1))
}

/** Physical form of [[PointReadRelation]]: collect and take answer the
  * held rows directly, so a collect starts no Spark job. (The Arrow wire
  * does not plan the relation at all: it streams its rows.)
  */
final case class PointReadExec(output: Seq[Attribute], rows: Seq[InternalRow])
    extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(rows, 1)
  override def executeCollect(): Array[InternalRow] = rows.toArray
  override def executeTake(n: Int): Array[InternalRow] = rows.take(n).toArray
  override def executeTail(n: Int): Array[InternalRow] = rows.takeRight(n).toArray
}

/** Planner strategy for [[PointReadRelation]], injected by
  * graft.plans.GraftExtensions.
  */
object PointReadStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PointReadRelation(output, rows) => PointReadExec(output, rows) :: Nil
    case _ => Nil
  }
}

object PointRead {

  /** A DataFrame answering `matched` (rows of `schema`): sorted by the
    * column at `keyOrd` when `sortDesc` is set — Spark's ORDER BY
    * semantics: the interpreted ordering of the internal values (UTF-8
    * bytes for strings, NaN largest and -0.0 = 0.0 for doubles), ASC
    * NULLS FIRST, and its reverse for DESC NULLS LAST — then projected
    * to `outCols`. Output columns are nullable, as the planned scan's
    * are.
    */
  def answer(spark: SparkSession, schema: StructType, matched: Seq[InternalRow],
      keyOrd: Int, sortDesc: Option[Boolean], outCols: Seq[String]): DataFrame = {
    val sorted = sortDesc match {
      case None => matched
      case Some(desc) =>
        val dt = schema(keyOrd).dataType
        val valueOrd = TypeUtils.getInterpretedOrdering(dt)
        val asc: Ordering[InternalRow] = (x: InternalRow, y: InternalRow) => {
          val xn = x.isNullAt(keyOrd); val yn = y.isNullAt(keyOrd)
          if (xn && yn) 0 else if (xn) -1 else if (yn) 1
          else valueOrd.compare(x.get(keyOrd, dt), y.get(keyOrd, dt))
        }
        matched.sorted(if (desc) asc.reverse else asc)
    }
    val fields = outCols.map(c => schema(schema.fieldIndex(c)))
    val proj = InterpretedUnsafeProjection.createProjection(fields.map { f =>
      BoundReference(schema.fieldIndex(f.name), f.dataType, nullable = true)
    })
    val rows = sorted.map(r => proj(r).copy(): InternalRow)
    val output = fields.map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], PointReadRelation(output, rows))
  }
}
