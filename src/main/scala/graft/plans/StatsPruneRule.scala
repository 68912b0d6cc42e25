package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.ManifestFileIndex

/** Catalyst rule: stats-based FILE pruning for reads over micro-lake
  * tables (VERDICT r14 #5 — the read-side twin of the DML discovery
  * pruning). A managed table's view is a parquet relation over a
  * [[graft.sources.ManifestFileIndex]] of its snapshot's files; parquet
  * row-group stats only blunt the cost of a point predicate AFTER every
  * file's footer has been opened. This rule consults each file's column
  * bounds ([[graft.sources.FileStats]], read once from the footer and
  * kept by the owning table) BEFORE the scan, through the index itself,
  * so `SELECT … WHERE pk = ?` against a many-file table plans over only
  * the candidate files — the DuckLake-catalog pruning the reference's
  * engine gets for free, and the behavior an Iceberg/Delta scan would
  * give on a real cluster.
  *
  * Soundness: a file is dropped only when [[graft.sources.FileStats.mayMatch]]
  * proves its bounds admit no matching row; files without stats always
  * stay. Idempotent (a pruned relation re-prunes to itself), so it is
  * safe inside the optimizer's fixed-point batch.
  */
case class StatsPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) =>
      rel.relation match {
        case hfs: HadoopFsRelation => hfs.location match {
          case m: ManifestFileIndex =>
            // pruning is an optimization: a hiccup leaves the plan
            // untouched, never fails the query from inside the optimizer
            val p = try m.pruned(cond) catch { case scala.util.control.NonFatal(_) => m }
            if (p eq m) f
            else Filter(cond, rel.copy(relation = hfs.copy(location = p)(hfs.sparkSession)))
          case _ => f
        }
        case _ => f
      }
  }
}

/** Session extensions, injected via `spark.sql.extensions` in
  * [[graft.Engine.newSession]] — conf-based registration applies to
  * every `newSession()` clone, so per-client gateway sessions prune too,
  * and plan the driver-served key-read answer as its own `PointRead`
  * leaf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(StatsPruneRule.apply)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.PointReadStrategy)
  }
}
