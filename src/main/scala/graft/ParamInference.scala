package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{PosParameter, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Positional-parameter schema inference — the reimplementation of the
  * reference's `parameter_columns` / `infer_parameter_schema` walk
  * (swanlake-core/src/sql/parser.rs:103-221,323-404; applied at
  * service/handlers/prepared.rs:159-242): map each `?` placeholder to
  * the column it is compared against (WHERE/IN) or the INSERT column it
  * feeds, then look the types up in the target table's schema so Flight
  * clients get a typed parameter schema instead of all-VARCHAR.
  *
  * The walk runs over Catalyst's PARSED (unresolved) plan — the same
  * AST-level inference the reference performs with sqlparser — so it
  * needs no table resolution to locate placeholders, only to type them.
  * Placeholders with no column association fall back to Utf8 `$n`
  * fields, exactly as the reference does (prepared.rs:123-135).
  */
object ParamInference {

  def inferParameterSchema(spark: SparkSession, plan: LogicalPlan): StructType = {
    // position-in-text → column name (when associated)
    val assoc = mutable.SortedMap.empty[Int, Option[String]]

    def exprWalk(e: Expression): Unit = e match {
      case cmp: BinaryComparison =>
        (cmp.left, cmp.right) match {
          case (a: UnresolvedAttribute, p: PosParameter) => assoc(p.pos) = Some(a.nameParts.last)
          case (p: PosParameter, a: UnresolvedAttribute) => assoc(p.pos) = Some(a.nameParts.last)
          case _ => cmp.children.foreach(exprWalk)
        }
      case In(a: UnresolvedAttribute, list) =>
        list.foreach {
          case p: PosParameter => assoc(p.pos) = Some(a.nameParts.last)
          case other => exprWalk(other)
        }
      case p: PosParameter => assoc.getOrElseUpdate(p.pos, None)
      case other => other.children.foreach(exprWalk)
    }

    def tableColumns(p: LogicalPlan): Seq[StructField] =
      p.collect { case r: UnresolvedRelation =>
        scala.util.Try(spark.table(r.multipartIdentifier.mkString(".")).schema.fields.toSeq)
          .getOrElse(Seq.empty)
      }.flatten

    plan match {
      case ins: InsertIntoStatement =>
        // INSERT … VALUES with placeholders: map position i within each
        // VALUES tuple to the i-th target column (repeating for
        // multi-row inserts — parser.rs:168-221)
        val target = scala.util.Try(
          spark.table(ins.table.asInstanceOf[UnresolvedRelation].multipartIdentifier.mkString("."))
            .schema.fields.toSeq).getOrElse(Seq.empty)
        val cols =
          if (ins.userSpecifiedCols.nonEmpty)
            ins.userSpecifiedCols.flatMap(c => target.find(_.name.equalsIgnoreCase(c)))
          else target
        val positions = mutable.ArrayBuffer.empty[Int]
        ins.query.foreach(n => n.expressions.foreach(_.foreach {
          case p: PosParameter => positions += p.pos
          case _ =>
        }))
        val sorted = positions.sorted
        return StructType(sorted.zipWithIndex.map { case (_, i) =>
          cols.lift(i % math.max(cols.size, 1)) match {
            case Some(f) => StructField(f.name, f.dataType, nullable = true)
            case None    => StructField(s"$$${i + 1}", StringType, nullable = true)
          }
        }.toSeq)
      case _ =>
        plan.foreach(n => n.expressions.foreach(exprWalk))
        val columns = tableColumns(plan)
        StructType(assoc.values.zipWithIndex.map {
          case (Some(colName), i) =>
            columns.find(_.name.equalsIgnoreCase(colName)) match {
              case Some(f) => StructField(f.name, f.dataType, nullable = true)
              case None    => StructField(s"$$${i + 1}", StringType, nullable = true)
            }
          case (None, i) => StructField(s"$$${i + 1}", StringType, nullable = true)
        }.toSeq)
    }
  }

  /** `n` untyped Utf8 `$n` parameters, for text Spark cannot parse. */
  def untyped(n: Int): StructType =
    StructType((1 to n).map(i => StructField(s"$$$i", StringType, nullable = true)))
}
