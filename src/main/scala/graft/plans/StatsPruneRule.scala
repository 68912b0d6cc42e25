package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.{FileStats, StatsRegistry}

/** Catalyst rule: manifest-stats FILE pruning for reads over micro-lake
  * tables (VERDICT r14 #5 — the read-side twin of the DML discovery
  * pruning). A managed table's view is a parquet relation over its
  * snapshot's file list; parquet row-group stats only blunt the cost of
  * a point predicate AFTER every file's footer has been opened. This
  * rule consults the manifest-level column bounds ([[graft.sources
  * .FileStats]]) BEFORE the scan, so `SELECT … WHERE pk = ?` against a
  * many-file table plans over only the candidate files — the
  * DuckLake-catalog pruning the reference's engine gets for free, and
  * the behavior an Iceberg/Delta scan would give on a real cluster.
  *
  * Soundness: a file is dropped only when [[FileStats.mayMatch]] proves
  * its bounds admit no matching row; files without stats always stay.
  * Idempotent (a pruned relation re-prunes to itself), so it is safe
  * inside the optimizer's fixed-point batch.
  */
case class StatsPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (StatsRegistry.isEmpty) return plan // no micro-lake tables in-process
    plan.transform {
      case f @ Filter(cond, rel: LogicalRelation) =>
        rel.relation match {
          case hfs: HadoopFsRelation if hfs.partitionSchema.isEmpty =>
            val files = hfs.location.inputFiles
            if (files.isEmpty) f
            else StatsRegistry.lookup(parentDir(files(0))) match {
              case Some(t) if files.forall(p => parentDir(p) == t.dataDirKey) =>
                // pruning is an optimization — a table caught mid-create
                // (registered before `_version` lands) or any other
                // hiccup must leave the plan untouched, never fail the
                // query from inside the optimizer
                try {
                  t.ensureStatsLoaded()
                  val keep = files.filter(p => FileStats.mayMatch(t.statsFor(baseName(p)), cond))
                  if (keep.length == files.length) f
                  else {
                    // the table's own index: statuses come from its
                    // cache, no listing of the kept files
                    val pruned = t.fileIndex(keep.toSeq.map(baseName))
                    Filter(cond, rel.copy(relation = hfs.copy(location = pruned)(hfs.sparkSession)))
                  }
                } catch { case _: Exception => f }
              case _ => f
            }
          case _ => f
        }
    }
  }

  /** file:///a/b/c.parquet → /a/b (URI-parsed so the scheme/authority
    * slashes drop out, matching [[graft.sources.MutableTable.dataDirKey]]).
    */
  private def parentDir(p: String): String = {
    val path = new Path(p).toUri.getPath
    val cut = path.lastIndexOf('/')
    if (cut <= 0) path else path.substring(0, cut)
  }

  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
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
