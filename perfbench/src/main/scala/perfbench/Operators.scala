package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators._

/** The operators layer: the operator registry's LLM-data-pipeline batch
  * path, in-process, timed per module on a fixed sample (the first
  * entry of each module in name order; a pass over all entries takes
  * minutes). Shuffle-heavy dedup, similarity and text operators do the
  * work; gateway, session and micro-lake are bypassed.
  */
object Operators {
  type Builder = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Builder])] = Seq(
    "Tpch" -> Tpch.queries, "Relational" -> Relational.queries, "Advanced" -> Advanced.queries,
    "AsOf" -> AsOf.queries, "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "TextAnalysis" -> TextAnalysis.queries, "CorpusPipeline" -> CorpusPipeline.queries,
    "Skew" -> Skew.queries, "Multimodal" -> Multimodal.queries, "Analytics" -> Analytics.queries,
    "Sketches" -> Sketches.queries, "Warehouse" -> Warehouse.queries)

  /** (module, entry) pairs of the fixed sample. */
  lazy val sample: Seq[(String, String)] = modules.map { case (m, qs) => m -> qs.keys.min }

  /** `operators.<Module>.total_s`: a first pass over the sample (four
    * at a time) records each entry's answer, then one serial pass is
    * timed and checked against it.
    */
  def layer(ctx: Ctx): Seq[Metric] = {
    require(modules.map(_._1) == Layers.modules, "module list drifted from the per-layer metrics")
    require(modules.flatMap(_._2.keys).toSet == SparkEntry.queries.keySet,
      "the registry has entries outside the listed modules")
    def runOne(i: Int): (Fingerprint, Double) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(sample(i)._2)(ctx.spark, ctx.dataDir).collect().toSeq
      (Fingerprint.of(rows), (System.nanoTime() - t0) / 1e9)
    }
    val first = Workload.parallel(sample.indices, 4)(i => runOne(i)._1)
    val times = sample.indices.map { i =>
      val (fp, s) = runOne(i)
      ctx.tally.record(fp == first(i))
      s
    }
    Layers.modules.map { m =>
      Metric(s"operators.$m.total_s", sample.indices.filter(sample(_)._1 == m).map(times).sum, "s")
    }
  }
}
