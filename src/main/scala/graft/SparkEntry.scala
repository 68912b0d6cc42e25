package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Tpch.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Tpch.queries ++
      operators.Relational.queries ++
      operators.Advanced.queries ++
      operators.AsOf.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.TextAnalysis.queries ++
      operators.CorpusPipeline.queries ++
      operators.Skew.queries ++
      operators.Multimodal.queries ++
      operators.Analytics.queries ++
      operators.Sketches.queries ++
      operators.Warehouse.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Tpch.oracles ++
      operators.Relational.oracles ++
      operators.Advanced.oracles ++
      operators.AsOf.oracles ++
      operators.Dedup.oracles ++
      operators.Similarity.oracles ++
      operators.TextAnalysis.oracles ++
      operators.CorpusPipeline.oracles ++
      operators.Skew.oracles ++
      operators.Multimodal.oracles ++
      operators.Analytics.oracles ++
      operators.Sketches.oracles ++
      operators.Warehouse.oracles
}
