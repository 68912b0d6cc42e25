package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prepared-statement plan reuse (A21 / engine prepared path).
  *
  * A DuckDB prepared statement parses and binds once, then re-executes the
  * SAME plan per execution. Spark's nearest safe equivalent: keep the
  * ANALYZED logical plan and spin a fresh QueryExecution per execution —
  * parsing + analysis (catalog/schema resolution) are amortized, while
  * optimization, physical planning, and EVERY stage re-run from scratch
  * (re-collecting one Dataset instance would silently reuse its
  * materialized shuffle outputs — result caching, not plan reuse).
  *
  * Lives in org.apache.spark.sql.* because Dataset.ofRows is private[sql].
  */
object PlanReuse {

  /** Fresh executable DataFrame over `df`'s analyzed plan. */
  def reanalyzed(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    Dataset.ofRows(cs, df.asInstanceOf[ClassicDataFrame].queryExecution.analyzed)
  }

  /** Optimized logical plan of a DataFrame (forces optimization NOW). */
  def optimizedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[ClassicDataFrame].queryExecution.optimizedPlan

  /** Executable DataFrame over an already-optimized logical plan — the
    * prepared point-read path re-executes a cached plan with a re-bound
    * literal, skipping parse/analysis/optimization entirely.
    */
  def execute(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Forces physical planning (optimizer + strategies + preparations)
    * WITHOUT executing — the lab hook for splitting a prepared
    * re-execution into plan-time vs run-time.
    */
  def forcePlanned(df: DataFrame): Unit = {
    df.asInstanceOf[ClassicDataFrame].queryExecution.executedPlan
    ()
  }
}
