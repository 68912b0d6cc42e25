package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Similarity search over the embedding column (SURVEY §7.5).
  *
  * - Brute-force cosine top-k: the correctness baseline. Query set x corpus
  *   join; at scale the query side is broadcast and the corpus side stays
  *   partitioned, so the scan is embarrassingly parallel.
  * - LSH-bucketed ANN (random hyperplanes): the scale path. Each vector is
  *   hashed to a small signature; the candidate join is bucket-local. The
  *   hyperplanes are pseudo-random but deterministic (hash-seeded), so the
  *   operator needs no driver-side randomness or broadcast model state.
  * - Label centroids: the distributed vector-aggregate pattern
  *   (posexplode -> per-dimension mean), the building block for IVFced
  *   coarse quantizers.
  *
  * Dot products use `zip_with` + `aggregate` over DoubleType — sequential
  * left-fold, bit-identical to DuckDB's list_dot_product ordering.
  */
object Similarity {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Engine.table(s, dir, n)

  private def vecD(name: String): Column =
    transform(col(name), _.cast(DoubleType))

  /** Sequential-fold dot product — a native codegen'd Catalyst expression
    * (graft.functions.DotProduct); same left-fold order as the previous
    * aggregate(zip_with(...)) formulation and as DuckDB's
    * list_dot_product, but ~50× faster on all-pairs scans because the
    * loop participates in whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecDot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  // === brute-force cosine top-k ===========================================
  def cosineTopK(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings").select(col("vec_id"), vecD("embedding").as("v")))
    val q = e.filter(col("vec_id") < nQueries).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = broadcast(q).join(e.select(col("vec_id").as("n_id"), col("v").as("nv")))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"),
        graft.operators.Exact.dround(col("cos"), 6).as("cos_sim"),
        col("rnk").cast(IntegerType).as("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  def cosineTopKSql(k: Int = 5, nQueries: Int = 10): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |p AS (
       |  SELECT q_id, e.vec_id AS n_id,
       |    list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
       |  FROM q, e WHERE e.vec_id <> q_id),
       |r AS (SELECT q_id, n_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |      FROM p)
       |SELECT q_id, n_id, ${Exact.sqlDround("cos", 6)} AS cos_sim,
       |       CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  // === hard-negative mining (contrastive-training pairs) ===================
  /** neg2: per-anchor HARD negatives — the most-similar vectors carrying
    * a DIFFERENT label (neg1 samples negatives deterministically at
    * random; contrastive training wants the ones the model is most
    * likely to confuse, Robinson et al. 2021). Exact oracle tier, same
    * contract as sim1: anchors are the subset-bounded broadcast side, so
    * the join is one map-side pass over the corpus; the at-scale path is
    * the sim3 LSH buckets with this label filter applied inside each
    * bucket. Ties break on n_id for cross-engine determinism; cosine
    * rounded through the shared Exact.dround discipline.
    */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 3, nAnchors: Int = 10): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), vecD("embedding").as("v")))
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"), col("v").as("av"))
    val pairs = broadcast(q)
      .join(e.select(col("vec_id").as("n_id"), col("label").as("n_label"), col("v").as("nv")))
      .filter(col("n_label") =!= col("a_label"))
      .withColumn("cos", cosine(col("av"), col("nv")))
    val w = Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("a_id"), col("a_label"), col("n_id"), col("n_label"),
        graft.operators.Exact.dround(col("cos"), 6).as("cos_sim"),
        col("rnk").cast(IntegerType).as("rnk"))
      .orderBy(col("a_id"), col("rnk"))
  }

  def hardNegativesSql(k: Int = 3, nAnchors: Int = 10): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS a_id, label AS a_label, v AS av FROM e WHERE vec_id < $nAnchors),
       |p AS (
       |  SELECT a_id, a_label, e.vec_id AS n_id, e.label AS n_label,
       |    list_dot_product(av, v) / sqrt(list_dot_product(av, av) * list_dot_product(v, v)) AS cos
       |  FROM q, e WHERE e.label <> a_label),
       |r AS (SELECT a_id, a_label, n_id, n_label, cos,
       |        row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, n_id) AS rnk
       |      FROM p)
       |SELECT a_id, a_label, n_id, n_label, ${Exact.sqlDround("cos", 6)} AS cos_sim,
       |       CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= $k ORDER BY a_id, rnk""".stripMargin

  // === per-label centroids (distributed vector aggregate) ==================
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val exploded = Par.fanOut(t(s, dir, "embeddings").select(col("label"), col("embedding")))
      .select(col("label"), posexplode(vecD("embedding")).as(Seq("pos", "x")))
    val dims = exploded.groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("c"))
    dims.groupBy(col("label"))
      .agg(Exact.dround(sqrt(sum(col("c") * col("c"))), 4).as("centroid_norm"),
        count(lit(1)).as("n_dims"))
      .orderBy(col("label"))
  }

  val labelCentroidsSql: String =
    s"""WITH dims AS (
       |  SELECT label, i AS pos, AVG(v[i]) AS c
       |  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings) e,
       |       (SELECT UNNEST(generate_series(1, 64)) AS i) idx
       |  WHERE i <= len(v)
       |  GROUP BY label, i)
       |SELECT label, ${Exact.sqlDround("sqrt(SUM(c*c))", 4)} AS centroid_norm,
       |       COUNT(*) AS n_dims
       |FROM dims GROUP BY label ORDER BY label""".stripMargin

  // === LSH-bucketed ANN (scale path) =======================================
  // Multi-table random-hyperplane LSH: T independent tables of P sign bits
  // each. A candidate pair must agree on all P bits of SOME table — with
  // random vectors that prunes ~(1 - 2^-P) of pairs per table, while a
  // genuinely similar pair (angle θ) collides in a table with probability
  // (1 - θ/π)^P, amplified across T tables. T*P stays a constant per-row
  // explode factor, so the candidate join scales linearly with the corpus.
  val lshTables = 8
  val lshPlanes = 6

  val maxDim = 64
  val maxPlanes = 256

  /** Deterministic pseudo-random hyperplane components in [-1, 1): the
    * MINSTD Lehmer sequence x_{k+1} = 48271 * x_k mod (2^31 - 1), walked
    * over the flat (plane, dim) index. ITERATED, not a closed form in
    * the index — an affine-in-index variant has consecutive components
    * perfectly correlated and measurably destroys LSH recall. Exact
    * integer arithmetic (every intermediate < 2^46) followed by the same
    * two IEEE double ops on both engines, so a SQL oracle regenerates
    * the IDENTICAL planes with a 4-line recursive CTE
    * (see sqlPlanesCte / Dedup.embeddingNearDupSql).
    */
  val lcgSeed = 424242L
  private lazy val allPlanes: Array[Array[Double]] = {
    val out = Array.ofDim[Double](maxPlanes, maxDim)
    var x = lcgSeed
    for (p <- 0 until maxPlanes; d <- 0 until maxDim) {
      x = (48271L * x) % 2147483647L
      out(p)(d) = x.toDouble / 2147483647.0 * 2.0 - 1.0
    }
    out
  }

  /** Recursive-CTE SQL regenerating `allPlanes` bit-for-bit as
    * (p, plane-list) rows for the first `nPlanes` planes of `planesPer`
    * dims each. Compose as: WITH RECURSIVE <sqlPlanesCte(n)>, <rest...>
    */
  def sqlPlanesCte(nPlanes: Int): String = {
    val total = nPlanes * maxDim
    s"""lcg(k, x) AS (
       |  SELECT 0, (CAST(48271 AS BIGINT) * $lcgSeed) % 2147483647
       |  UNION ALL
       |  SELECT k + 1, (CAST(48271 AS BIGINT) * x) % 2147483647 FROM lcg WHERE k < ${total - 1}),
       |pl AS (
       |  SELECT (k // $maxDim) AS p,
       |         list(CAST(x AS DOUBLE) / 2147483647.0 * 2.0 - 1.0 ORDER BY k % $maxDim) AS plane
       |  FROM lcg GROUP BY 1)""".stripMargin
  }

  /** (table, bucket) rows per vector — the multi-table LSH index.
    * `tables * planes` must stay <= maxPlanes.
    *
    * Shape (r21): the planes ride a TABLES-row broadcast relation (one
    * row per LSH table, carrying its `planes` hyperplanes), and the
    * bucket is `planes` small vec_dots per joined row. The old form —
    * posexplode over an array of `tables` signature expressions, each
    * inlining `planes` 64-double literal arrays — generated one
    * ~128-dot mega-expression whose method blows past the JIT compile
    * limit into interpreted bytecode (the pq1 codebook pathology,
    * measured 950-1300 ms for a 64 k-row index at sf0.1; ~0.2 s
    * compiled). Same (vec_id, v, tbl, bucket) rows, same IEEE dot fold,
    * same bit packing — only the expression granularity changes.
    */
  def lshBuckets(e: DataFrame, tables: Int = lshTables, planes: Int = lshPlanes): DataFrame = {
    require(tables * planes <= maxPlanes, s"need ${tables * planes} planes > $maxPlanes")
    // ONE opaque literal: an array of (tbl, its `planes` hyperplanes)
    // structs, exploded per row — the generate emits `tables` rows per
    // vector exactly like the old posexplode, but the per-row
    // expressions stay small (a few element_at + vec_dots), where the
    // old form's 32 signature expressions each inlined their planes as
    // 64-double literal arrays into one mega-expression. (A broadcast
    // planes relation measured the same but plans a
    // BroadcastNestedLoopJoin, which dd5's plan-quality gate rightly
    // bans as a cartesian shape.)
    val planesLit = typedLit((0 until tables).map { tb =>
      (tb, (0 until planes).map(p => allPlanes(tb * planes + p).toSeq))
    })
    val bucket = (0 until planes).map { p =>
      when(graft.functions.VectorFunctions.vecDot(
        col("v"), element_at(col("tp").getField("_2"), p + 1)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    e.select(col("vec_id"), col("v"), explode(planesLit).as("tp"))
      .select(col("vec_id"), col("v"),
        col("tp").getField("_1").as("tbl"), bucket.as("bucket"))
  }

  /** ANN top-k: candidates = union over tables of the query's bucket
    * members, then exact cosine on the (deduped) candidate set. Recall vs
    * the brute-force baseline is asserted in SimilaritySpec.
    */
  def annTopK(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings").select(col("vec_id"), vecD("embedding").as("v")))
    // ship only (id, tbl, bucket) through the candidate join — the
    // 64-dim vectors are re-joined AFTER pair dedup. The QUERY side is
    // nQueries x tables rows at any corpus size, so it broadcasts and
    // the corpus-side index never shuffles at all (unlike dd5, whose
    // two corpus-sized sides need the pinned-width exchange).
    val idx = lshBuckets(e).select(col("vec_id"), col("tbl"), col("bucket"))
    val q = idx.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    val cand = broadcast(q)
      .join(idx.select(col("vec_id").as("n_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("v").as("nv")), "n_id")
    val pairs = cand.withColumn("cos", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"),
        Exact.dround(col("cos"), 6).as("cos_sim"),
        col("rnk").cast(IntegerType).as("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** DuckDB oracle for annTopK: regenerates the LCG hyperplanes
    * bit-for-bit (sqlPlanesCte — the same pattern dd5's oracle proves
    * end-to-end at Dedup.embeddingNearDupSql), rebuilds every table's
    * sign-bit bucket with list_dot_product (identical left-fold order to
    * the codegen'd vec_dot), and reruns candidate-join + exact-cosine
    * rank in SQL.
    */
  def annTopKSql(k: Int = 5, nQueries: Int = 10): String = {
    val nPl = lshTables * lshPlanes
    s"""WITH RECURSIVE ${sqlPlanesCte(nPl)},
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (
       |  SELECT e.vec_id, (pl.p // $lshPlanes) AS tbl,
       |    CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |             THEN (1 << (pl.p % $lshPlanes)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, pl GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
       |  FROM sig q JOIN sig n ON q.tbl = n.tbl AND q.bucket = n.bucket
       |  WHERE q.vec_id < $nQueries AND q.vec_id <> n.vec_id),
       |p AS (
       |  SELECT q_id, n_id,
       |    list_dot_product(a.v, b.v)
       |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM cand JOIN e a ON a.vec_id = q_id JOIN e b ON b.vec_id = n_id),
       |r AS (SELECT q_id, n_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |      FROM p)
       |SELECT q_id, n_id, ${Exact.sqlDround("cos", 6)} AS cos_sim,
       |       CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  // === IVF-partitioned ANN (coarse quantizer) ==============================
  // The inverted-file index: K coarse centroids partition the corpus into
  // cells; a query probes only its nProbe nearest cells. At 100 TB the
  // cell assignment is the partitioning key — each probe touches
  // nProbe/K of the data, and cells are scanned in parallel. Centroids
  // here are deterministic seeds (the first K vectors) refined by one
  // Lloyd iteration — swap in k-means++ offline training for production
  // without touching the query path.
  val ivfCells = 16
  val ivfProbes = 4

  @volatile private var centroidCache: Map[String, Array[Array[Double]]] = Map.empty

  /** K cell centroids: seed with the first K vectors, refine with one
    * mean-of-assigned iteration (computed once per dataset, cached).
    *
    * The refinement mean is the Exact micros-sum divided by the count —
    * order-INDEPENDENT (integer partial sums), so the centroids come out
    * bit-identical regardless of partitioning AND are regenerable by the
    * DuckDB oracle (a float avg's value depends on partition merge order,
    * which would make every downstream cell assignment unverifiable).
    */
  private def centroids(s: SparkSession, dir: String): Array[Array[Double]] = {
    centroidCache.get(dir) match {
      case Some(c) => c
      case None =>
        val e = t(s, dir, "embeddings").select(col("vec_id"), vecD("embedding").as("v"))
        val seedRows = e.filter(col("vec_id") < ivfCells).orderBy(col("vec_id")).collect()
        // the cell key is POSITIONAL (lit(i) in cellOf) while the SQL
        // oracle keys cells on the seed's vec_id — identical ONLY when
        // the seed ids are exactly 0..K-1. A gapped or short corpus
        // must fail LOUDLY here, not silently desync the two engines
        // (the pq1 codebook carries vec_id for exactly this reason;
        // keying cells by id the same way is the lift if a gapped
        // corpus ever needs IVF)
        require(seedRows.map(_.getLong(0)).sameElements(0L until ivfCells.toLong),
          s"IVF requires contiguous seed vec_ids 0..${ivfCells - 1} " +
            s"(got ${seedRows.map(_.getLong(0)).mkString(",")})")
        val seeds = seedRows.map(_.getSeq[Double](1).toArray)
        val assigned = e.withColumn("cell", cellOf(col("v"), seeds))
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg((Exact.toUnits(Exact.msum(col("x"))) / count(lit(1)).cast(DoubleType)).as("c"))
          .collect()
        val refined = Array.tabulate(ivfCells, maxDim)((c, _) => 0.0)
        assigned.foreach(r => refined(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("c"))
        // cells that captured no vectors keep their seed — detected by
        // PRESENCE in the aggregate (a value test misread a legitimate
        // all-zero refined mean, e.g. v and -v in one cell, as empty
        // while the oracle's COALESCE kept the computed 0.0)
        val present = assigned.map(_.getAs[Int]("cell")).toSet
        for (c <- 0 until ivfCells if !present(c) && c < seeds.length)
          refined(c) = seeds(c)
        synchronized { centroidCache += dir -> refined }
        refined
    }
  }

  /** Index of the max-cosine centroid for a vector: argmax via
    * array_max over (score, idx) structs (struct ordering compares by
    * leading field, so the max carries the best cell's index).
    */
  private def cellOf(v: Column, cents: Array[Array[Double]]): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(cosine(v, array(c.map(lit(_)): _*)).as("s"), lit(i).as("i"))
    }: _*)
    array_max(scored).getField("i").cast("int")
  }

  /** IVF ANN top-k: probe the query's `ivfProbes` best cells, exact
    * cosine within them. Recall vs brute force asserted in
    * SimilaritySpec.
    */
  def ivfTopK(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val cents = centroids(s, dir)
    val e = t(s, dir, "embeddings").select(col("vec_id"), vecD("embedding").as("v"))
      .withColumn("cell", cellOf(col("v"), cents))
    val probeArray = {
      // top nProbe cells by score: sort (score, idx) structs descending
      val scored = array(cents.zipWithIndex.map { case (c, i) =>
        struct(cosine(col("qv"), array(c.map(lit(_)): _*)).as("s"), lit(i).as("i"))
      }: _*)
      slice(reverse(array_sort(scored)), 1, ivfProbes)
    }
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("probe", explode(probeArray))
      .select(col("q_id"), col("qv"), col("probe.i").as("cell"))
    val pairs = q.join(e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"),
        Exact.dround(col("cos"), 6).as("cos_sim"),
        col("rnk").cast(IntegerType).as("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** DuckDB oracle for ivfTopK: replays the whole pipeline in SQL —
    * seed assignment (argmax cosine, larger index wins ties, mirroring
    * array_max's struct ordering), one Lloyd iteration with the exact
    * micros mean, empty-cell seed fallback, probe selection, and the
    * final in-cell exact-cosine rank. Every decision compares
    * bit-identical doubles on both engines (LCG-free: the only inputs
    * are the vectors themselves and exact integer sums).
    */
  /** The CTE chain deriving the one-Lloyd-iteration IVF assignment
    * (`a2`, rn=1 = each vector's cell) — shared verbatim by the sim4
    * and ivf2 oracles so the index the two operators describe can never
    * drift apart.
    */
  private def ivfAssignSqlCtes: String = {
    val cos = (a: String, b: String) =>
      s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (SELECT vec_id AS s_id, v AS sv FROM e WHERE vec_id < $ivfCells),
       |idx AS (SELECT UNNEST(generate_series(1, $maxDim)) AS i),
       |a1 AS (
       |  SELECT e.vec_id, s.s_id AS cell, e.v,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cos("e.v", "s.sv")} DESC, s.s_id DESC) AS rn
       |  FROM e, seeds s),
       |asn AS (SELECT vec_id, cell, v FROM a1 WHERE rn = 1),
       |ref0 AS (
       |  SELECT cell, i AS pos,
       |    (${Exact.sqlToUnits(Exact.sqlMsum("v[i]"))} / CAST(COUNT(*) AS DOUBLE)) AS c
       |  FROM asn, idx GROUP BY 1, 2),
       |cents AS (
       |  SELECT s.s_id AS cell, list(COALESCE(ref0.c, s.sv[idx.i]) ORDER BY idx.i) AS cv
       |  FROM seeds s CROSS JOIN idx
       |  LEFT JOIN ref0 ON ref0.cell = s.s_id AND ref0.pos = idx.i
       |  GROUP BY 1),
       |a2 AS (
       |  SELECT e.vec_id, c.cell, e.v,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cos("e.v", "c.cv")} DESC, c.cell DESC) AS rn
       |  FROM e, cents c)""".stripMargin
  }

  def ivfTopKSql(k: Int = 5, nQueries: Int = 10): String = {
    val cos = (a: String, b: String) =>
      s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"
    s"""WITH $ivfAssignSqlCtes,
       |corpus AS (SELECT vec_id AS n_id, cell, v AS nv FROM a2 WHERE rn = 1),
       |probes AS (
       |  SELECT q.vec_id AS q_id, c.cell, q.v AS qv,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cos("q.v", "c.cv")} DESC, c.cell DESC) AS rn
       |  FROM e q, cents c WHERE q.vec_id < $nQueries),
       |p AS (
       |  SELECT q.q_id, n.n_id, ${cos("q.qv", "n.nv")} AS cos
       |  FROM probes q JOIN corpus n ON n.cell = q.cell AND n.n_id <> q.q_id
       |  WHERE q.rn <= $ivfProbes),
       |r AS (SELECT q_id, n_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |      FROM p)
       |SELECT q_id, n_id, ${Exact.sqlDround("cos", 6)} AS cos_sim,
       |       CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  // === sim10: dimension-truncation (Matryoshka) audit ======================
  /** Retrieval fidelity of TRUNCATED embeddings: exact cosine top-k on
    * the first `dims` of `maxDim` dimensions versus the full-dimension
    * top-k — recall@k and total rank displacement per query. This is
    * the audit behind Matryoshka-style dimension reduction: serving at
    * a prefix of the embedding is only safe where recall holds, and
    * this ledger is the gate. Both rankings are the sim1 broadcast
    * query-side shape; the comparison join touches only the 2*k ranked
    * rows per query.
    */
  def truncationAudit(s: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 10, dims: Int = 16): DataFrame = {
    def topk(project: Column => Column): DataFrame = {
      val e = Par.fanOut(t(s, dir, "embeddings")
        .select(col("vec_id"), project(vecD("embedding")).as("v")))
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val pairs = broadcast(q).join(e.select(col("vec_id").as("n_id"), col("v").as("nv")))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", cosine(col("qv"), col("nv")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select(col("q_id"), col("n_id"), col("rnk"))
    }
    // the full-width side IS sim1 — one definition, so the ranking the
    // audit compares against can never drift from cosineTopK (whose SQL
    // twin this operator's oracle embeds); only the truncated ranking
    // is bespoke
    val full = cosineTopK(s, dir, k, nQueries)
      .select(col("q_id"), col("n_id"), col("rnk"))
    val trunc = topk(v => slice(v, 1, dims))
      .select(col("q_id"), col("n_id"), col("rnk").as("rnk_t"))
    val inter = full.join(trunc, Seq("q_id", "n_id"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_common"),
        sum(abs(col("rnk") - col("rnk_t"))).as("displacement"))
    full.select(col("q_id")).distinct()
      .join(inter, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast(DoubleType) / k).as("recall_at_k"),
        coalesce(col("displacement"), lit(0L)).cast(LongType).as("rank_displacement"))
      .orderedSmall(col("q_id"))
  }

  def truncationAuditSql(k: Int = 10, nQueries: Int = 10, dims: Int = 16): String = {
    val cos = (a: String, b: String) =>
      s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"
    s"""WITH fullp AS (
       |  SELECT q_id, n_id, rnk FROM (${cosineTopKSql(k, nQueries)}) f0),
       |te AS (SELECT vec_id, (embedding::DOUBLE[])[1:$dims] AS v FROM embeddings),
       |tp AS (
       |  SELECT q.vec_id AS q_id, t.vec_id AS n_id, ${cos("q.v", "t.v")} AS cos
       |  FROM te q, te t WHERE q.vec_id < $nQueries AND t.vec_id <> q.vec_id),
       |tr AS (SELECT q_id, n_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk_t
       |       FROM tp),
       |trk AS (SELECT q_id, n_id, rnk_t FROM tr WHERE rnk_t <= $k),
       |inter AS (
       |  SELECT f.q_id, COUNT(*) AS n_common,
       |    SUM(ABS(f.rnk - t.rnk_t)) AS displacement
       |  FROM fullp f JOIN trk t USING (q_id, n_id) GROUP BY 1),
       |qs AS (SELECT DISTINCT q_id FROM fullp)
       |SELECT q_id,
       |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
       |  CAST(COALESCE(n_common, 0) AS DOUBLE) / $k AS recall_at_k,
       |  CAST(COALESCE(displacement, 0) AS BIGINT) AS rank_displacement
       |FROM qs LEFT JOIN inter USING (q_id) ORDER BY q_id""".stripMargin
  }

  // === ivf2: IVF posting-list balance audit ================================
  /** Posting-list balance of the sim4 IVF index: vectors per cell after
    * the one-Lloyd-iteration assignment, each cell's corpus share, and
    * the max/avg imbalance ratio — the quantity that decides whether
    * nprobe can stay small (balanced lists) or the index needs
    * re-seeding (one hot cell absorbs the corpus and probe latency
    * degenerates toward brute force). Empty cells are emitted too: an
    * empty posting list is itself a signal (dead centroid).
    *
    * Shape at 100 TB: the assignment is sim4's map-only centroid argmax
    * (centroids are the driver-bounded k x d literal tier); the audit
    * is one combinable count aggregate, and the share/imbalance windows
    * run over the <= ivfCells-row cell table.
    */
  def ivfPostingBalance(s: SparkSession, dir: String): DataFrame = {
    val cents = centroids(s, dir)
    val counts = t(s, dir, "embeddings")
      .select(vecD("embedding").as("v"))
      .withColumn("cell", cellOf(col("v"), cents))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val allCells = s.range(0, ivfCells).select(col("id").cast(IntegerType).as("cell"))
    val wAll = Window.partitionBy()
    allCells.join(counts, Seq("cell"), "left")
      .withColumn("n_vectors", coalesce(col("n_vectors"), lit(0L)))
      .withColumn("total", sum(col("n_vectors")).over(wAll))
      .withColumn("mx", max(col("n_vectors")).over(wAll))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast(DoubleType) / col("total").cast(DoubleType)).as("share"),
        ((col("mx") * ivfCells).cast(DoubleType) / col("total").cast(DoubleType))
          .as("imbalance"))
      .orderedSmall(col("cell"))
  }

  def ivfPostingBalanceSql: String =
    s"""WITH $ivfAssignSqlCtes,
       |corpus AS (SELECT vec_id, cell FROM a2 WHERE rn = 1),
       |counts AS (SELECT cell, COUNT(*) AS n_vectors FROM corpus GROUP BY 1),
       |cells AS (SELECT UNNEST(generate_series(0, ${ivfCells - 1})) AS cell),
       |j AS (
       |  SELECT c.cell, COALESCE(n.n_vectors, 0) AS n_vectors
       |  FROM cells c LEFT JOIN counts n USING (cell)),
       |w AS (
       |  SELECT cell, n_vectors,
       |    SUM(n_vectors) OVER () AS total, MAX(n_vectors) OVER () AS mx
       |  FROM j)
       |SELECT CAST(cell AS INTEGER) AS cell, CAST(n_vectors AS BIGINT) AS n_vectors,
       |  CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |  CAST(mx * $ivfCells AS DOUBLE) / CAST(total AS DOUBLE) AS imbalance
       |FROM w ORDER BY cell""".stripMargin

  // === pq1: product quantization ===========================================
  val pqSubspaces = 8
  val pqSubDim: Int = maxDim / pqSubspaces // 8 dims per subspace
  val pqCodes = 16 // 4-bit codes; 8 subspaces pack into a 32-bit word

  @volatile private var pqCodebookCache: Map[String, Array[(Long, Array[Long])]] = Map.empty

  /** The PQ codebook: the corpus vectors with vec_id < `pqCodes`,
    * element-wise in exact integer micros — the deterministic
    * seed-codebook tier (the k-means refinement that production PQ
    * trainers add is sim4's Lloyd machinery; the codebook CONTRACT —
    * argmin sub-distance per subspace, integer distance arithmetic —
    * is identical either way). Each entry carries its vec_id, which IS
    * the code k — matching the oracle's `vec_id AS k` exactly even if
    * ids 0..15 are not contiguous (a positional index would silently
    * diverge on a gapped or <16-vector corpus). Bounded driver state:
    * <= pqCodes x maxDim longs.
    *
    * Cache contract: keyed by dir and never invalidated — the same
    * path-immutability assumption as `manifestMemo` and the Engine
    * table-schema cache (testdata dirs are write-once; a re-ingested
    * path must use a fresh path or a fresh JVM).
    */
  private def pqCodebook(s: SparkSession, dir: String): Array[(Long, Array[Long])] =
    pqCodebookCache.get(dir) match {
      case Some(cb) => cb
      case None =>
        val cb = t(s, dir, "embeddings")
          .filter(col("vec_id") < pqCodes)
          .select(col("vec_id"), vecD("embedding").as("v"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray.map(Exact.microsOf)))
        synchronized { pqCodebookCache += dir -> cb }
        cb
    }

  /** pq1: product-quantization encoding + reconstruction-error audit.
    * Each 64-dim vector splits into 8 subspaces of 8 dims; per subspace
    * the code is the argmin squared-L2 codebook entry, computed in
    * EXACT integer micros (diff <= 2e6 per element, squared 4e12,
    * summed over 8 dims 3.2e13 — long-safe), so code assignment is
    * bit-identical on any engine. Output: the packed 32-bit code word
    * (4 bits per subspace) and the total squared reconstruction error —
    * the quantity a pipeline gates on before shipping the compressed
    * index. Map-only over the corpus: fuses into the scan at any scale;
    * the codebook is a broadcast-literal like sim4's centroids.
    */
  def pqEncode(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(s, dir)
    // The codebook as a 16-row BROADCAST table rather than a
    // 16-codes x 8-subspaces literal mega-expression: the first form
    // generated ~1024 struct constructions per row, blowing past the
    // codegen method limit into interpreted evaluation (~4 s serial);
    // this shape keeps every expression small (64 diff-squares per
    // corpus x code pair) and fully codegen'd, and the per-subspace
    // argmin becomes 8 min(struct(d, k)) aggregates over the
    // 16x-fan-out — the identical (min d, then min k) order, so the
    // output and oracle are untouched.
    import scala.jdk.CollectionConverters._
    val cbDf = s.createDataFrame(
      cb.map { case (k, vm) =>
        org.apache.spark.sql.Row(k, vm.toSeq)
      }.toSeq.asJava,
      StructType(Seq(
        StructField("k", LongType),
        StructField("cvm", ArrayType(LongType))))
    )
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(vecD("embedding"), x => Exact.micros(x)).as("vm"))
    val dists = (0 until pqSubspaces).map { sIdx =>
      (0 until pqSubDim).map { j =>
        val i = sIdx * pqSubDim + j + 1
        val diff = element_at(col("vm"), i) - element_at(col("cvm"), i)
        diff * diff
      }.reduce(_ + _).as(s"d$sIdx")
    }
    val pairs = e.crossJoin(broadcast(cbDf))
      .select(col("vec_id") +: col("k") +: dists: _*)
    val best = pairs.groupBy(col("vec_id"))
      .agg(
        min(struct(col("d0"), col("k"))).as("b0"),
        (1 until pqSubspaces).map(sIdx =>
          min(struct(col(s"d$sIdx"), col("k"))).as(s"b$sIdx")): _*)
    val packed = (0 until pqSubspaces)
      .map(sIdx => col(s"b$sIdx.k") * (1L << (4 * sIdx))).reduce(_ + _)
    val err = (0 until pqSubspaces).map(sIdx => col(s"b$sIdx.d$sIdx")).reduce(_ + _)
    best.select(col("vec_id"), packed.as("pq_code"), err.as("recon_err"))
      .orderBy(col("vec_id"))
  }

  def pqEncodeSql: String = {
    val weights = (0 until pqSubspaces).map(sIdx => 1L << (4 * sIdx))
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> ${Exact.sqlMicros("x")}) AS vm
       |  FROM e),
       |cb AS (SELECT vec_id AS k, vm AS cvm FROM m WHERE vec_id < $pqCodes),
       |sub AS (SELECT UNNEST(generate_series(0, ${pqSubspaces - 1})) AS s),
       |dist AS (
       |  SELECT m.vec_id, sub.s, cb.k,
       |    list_sum(list_transform(generate_series(1, $pqSubDim),
       |      j -> (m.vm[sub.s*$pqSubDim+j] - cb.cvm[sub.s*$pqSubDim+j])
       |         * (m.vm[sub.s*$pqSubDim+j] - cb.cvm[sub.s*$pqSubDim+j]))) AS d
       |  FROM m, sub, cb),
       |best AS (
       |  SELECT vec_id, s, k, d,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
       |  FROM dist),
       |enc AS (SELECT vec_id, s, k, d FROM best WHERE rn = 1)
       |SELECT vec_id,
       |  CAST(SUM(k * ($weights)[s+1]) AS BIGINT) AS pq_code,
       |  CAST(SUM(d) AS BIGINT) AS recon_err
       |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // === emb2: embedding isotropy audit ======================================
  /** Representation-collapse check over the embedding column: the ratio
    * of the mean vector's squared norm to the mean squared vector norm
    * (≈0 for an isotropic cloud, →1 when embeddings collapse toward a
    * shared direction — the anisotropy audit run before trusting cosine
    * retrieval). ONE exploded scan: per-dimension exact micros sums S_d
    * and Σ v² accumulate as map-combinable aggregates into a
    * 64-row table; every emitted double is a single division of exact
    * 128-bit integers, so both engines round identically. At 100 TB
    * the shuffle carries 64 rows of partial sums per partition —
    * nothing else moves.
    */
  def isotropyAudit(s: SparkSession, dir: String): DataFrame = {
    val exploded = t(s, dir, "embeddings")
      .select(posexplode(transform(vecD("embedding"), x => Exact.micros(x))).as(Seq("d", "m")))
    val perDim = exploded.groupBy(col("d"))
      .agg(sum(col("m").cast(Exact.D380)).as("sd"),
        sum(col("m").cast(Exact.D380) * col("m").cast(Exact.D380)).as("sq"),
        count(lit(1)).as("n"))
    perDim.agg(
      max(col("n")).as("n_vectors"),
      count(lit(1)).as("dim"),
      sum(col("sd") * col("sd")).as("sum_sd2"),
      sum(col("sq")).as("total_sq"))
      .select(
        col("n_vectors"), col("dim").cast(IntegerType).as("dim"),
        (col("total_sq").cast(DoubleType) / col("n_vectors").cast(DoubleType) / 1.0e12)
          .as("mean_norm2"),
        (col("sum_sd2").cast(DoubleType) /
          (col("n_vectors").cast(DoubleType) * col("n_vectors").cast(DoubleType)) / 1.0e12)
          .as("center_norm2"),
        (col("sum_sd2").cast(DoubleType) /
          (col("n_vectors").cast(DoubleType) * col("total_sq").cast(DoubleType)))
          .as("isotropy"))
  }

  val isotropyAuditSql: String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding::DOUBLE[], x -> ${Exact.sqlMicros("x")}) AS vm
       |  FROM embeddings),
       |byd AS (
       |  SELECT g.d, e.vm[g.d] AS m
       |  FROM e, (SELECT UNNEST(generate_series(1, $maxDim)) AS d) g),
       |per AS (
       |  SELECT d, SUM(m) AS sd, SUM(m * m) AS sq, COUNT(*) AS n
       |  FROM byd GROUP BY 1),
       |tot AS (
       |  SELECT MAX(n) AS n_vectors, COUNT(*) AS dim,
       |    SUM(sd * sd) AS sum_sd2, SUM(sq) AS total_sq
       |  FROM per)
       |SELECT CAST(n_vectors AS BIGINT) AS n_vectors, CAST(dim AS INTEGER) AS dim,
       |  CAST(CAST(total_sq AS VARCHAR) AS DOUBLE) / CAST(n_vectors AS DOUBLE) / 1.0e12
       |    AS mean_norm2,
       |  CAST(CAST(sum_sd2 AS VARCHAR) AS DOUBLE)
       |    / (CAST(n_vectors AS DOUBLE) * CAST(n_vectors AS DOUBLE)) / 1.0e12
       |    AS center_norm2,
       |  CAST(CAST(sum_sd2 AS VARCHAR) AS DOUBLE)
       |    / (CAST(n_vectors AS DOUBLE) * CAST(CAST(total_sq AS VARCHAR) AS DOUBLE))
       |    AS isotropy
       |FROM tot""".stripMargin

  // === int8 scalar quantization ===========================================
  /** sim5: per-vector min/max int8 quantization — the standard vector
    * compression step before an ANN index ships to serving (4x smaller
    * than float32). Codes use FLOOR (not round — floor is bit-portable
    * across engines; round's half-way rule is not), the max value
    * clamps to 255, and the operator reports the code checksum plus the
    * dequantization error so a pipeline can gate on reconstruction
    * quality. Map-only: fuses into the scan at any scale.
    */
  def embeddingQuantization(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), vecD("embedding").as("v"))
      .withColumn("vmin", array_min(col("v")))
      .withColumn("vmax", array_max(col("v")))
      .withColumn("rng", col("vmax") - col("vmin"))
    val codes = transform(col("v"), x =>
      when(col("rng") === 0, lit(0))
        .otherwise(least(floor((x - col("vmin")) * lit(255.0) / col("rng")), lit(255.0))
          .cast(IntegerType)))
    base.withColumn("q", codes)
      .select(col("vec_id"), col("vmin"), col("vmax"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast(LongType)).as("code_sum"),
        Exact.dround(
          aggregate(
            zip_with(col("v"), col("q"), (x, qq) =>
              abs(x - (col("vmin") + qq.cast(DoubleType) * col("rng") / lit(255.0)))),
            lit(0.0), (acc, e) => acc + e) / size(col("v")).cast(DoubleType),
          6).as("mean_abs_err"))
      .orderBy(col("vec_id"))
  }

  val embeddingQuantizationSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax,
       |        list_max(v) - list_min(v) AS rng FROM e),
       |c AS (SELECT vec_id, v, vmin, vmax, rng,
       |        list_transform(v, x -> CASE WHEN rng = 0 THEN 0
       |          ELSE CAST(LEAST(FLOOR((x - vmin) * 255.0 / rng), 255.0) AS INTEGER) END) AS q
       |      FROM m)
       |SELECT vec_id, vmin, vmax,
       |  CAST(list_sum(q) AS BIGINT) AS code_sum,
       |  ${Exact.sqlDround(
        "list_sum(list_transform(generate_series(1, len(v)), " +
          "i -> abs(v[i] - (vmin + q[i] * rng / 255.0)))) / len(v)", 6)} AS mean_abs_err
       |FROM c ORDER BY vec_id""".stripMargin

  // === mutual-kNN graph ====================================================
  /** sim6: the mutual k-nearest-neighbor graph over a vector subset —
    * edges (a, b) where each is in the other's exact top-k by cosine,
    * the symmetric graph density-based clustering and dedup-cluster
    * seeding start from. Exact all-pairs is the correctness tier and is
    * bounded here to the first 200 vectors (40k pairs); the 100 TB path
    * swaps the candidate generator for sim3's LSH buckets and keeps the
    * same rank + mutual-intersection tail. Edges are emitted once with
    * a < b; ranking uses raw cosines (vectors come bit-identical off
    * parquet on both engines — the sim1 argument) with n_id tiebreak.
    */
  def mutualKnn(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .filter(col("vec_id") < subset)
      .select(col("vec_id"), vecD("embedding").as("v")))
    val pairs = e.select(col("vec_id").as("a"), col("v").as("va"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    val topk = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("a"), col("b"), col("cos"))
    val mutual = topk.as("x")
      .join(topk.select(col("a").as("b2"), col("b").as("a2")).as("y"),
        col("a") === col("a2") && col("b") === col("b2"))
      .filter(col("a") < col("b"))
    mutual.select(col("a"), col("b"), Exact.dround(col("cos"), 6).as("cos_sim"))
      .orderBy(col("a"), col("b"))
  }

  def mutualKnnSql(k: Int = 5, subset: Int = 200): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id < $subset),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    list_dot_product(a.v, b.v)
       |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |tk AS (SELECT a, b, cos FROM (
       |         SELECT a, b, cos,
       |           ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
       |         FROM p) WHERE rnk <= $k)
       |SELECT x.a, x.b, ${Exact.sqlDround("x.cos", 6)} AS cos_sim
       |FROM tk x JOIN tk y ON x.a = y.b AND x.b = y.a
       |WHERE x.a < x.b ORDER BY x.a, x.b""".stripMargin

  // === PageRank over the kNN graph =========================================
  /** pr1: two damped PageRank iterations over the directed exact-kNN
    * graph of the sim6 vector subset — the centrality score a curation
    * pass uses to pick representative documents per semantic
    * neighborhood (and the seed ordering for dd7-style cluster
    * canonicalization). Every node has exactly k out-edges by
    * construction, so there is no dangling mass and out-degree is the
    * constant k. Engine parity: ranks start uniform at 1/N; each
    * iteration's incoming contributions are rounded once to integer
    * NANOS and summed as integers (the msum argument at 1e9 precision —
    * rank mass per node is < 1, so the sum stays far below 2^63), and
    * the damping update is the identical IEEE sequence on both engines.
    * Exact all-pairs kNN is the bounded correctness tier (sim6); the
    * 100 TB path swaps in sim3's LSH candidates and keeps the
    * iteration, which is the standard join + map-side-combinable
    * aggregate per round over (src, dst) pairs — never the vectors.
    */
  def pageRank(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200,
      damping: Double = 0.85): DataFrame = {
    val oneMinusD = 1.0 - damping
    val e = Par.fanOut(t(s, dir, "embeddings")
      .filter(col("vec_id") < subset)
      .select(col("vec_id"), vecD("embedding").as("v")))
    val pairs = e.select(col("vec_id").as("a"), col("v").as("va"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    val edges = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("a").as("src"), col("b").as("dst"))
    val nodes = e.select(col("vec_id"))
    val nn = nodes.agg(count(lit(1)).as("nn"))
    val nd = col("nn").cast(DoubleType)
    def nanos(c: Column): Column = floor(c * 1000000000L + 0.5).cast(LongType)
    def damp(sumNanos: Column): Column =
      lit(oneMinusD) / nd + lit(damping) * (sumNanos.cast(DoubleType) / lit(1000000000.0))
    // iteration 1: uniform start, every edge carries (1/N)/k
    val r1 = edges.crossJoin(broadcast(nn))
      .select(col("dst"), nanos((lit(1.0) / nd) / lit(k.toDouble)).as("t"))
      .groupBy(col("dst")).agg(sum(col("t")).as("s1"))
    val p1 = nodes.crossJoin(broadcast(nn))
      .join(r1, col("vec_id") === col("dst"), "left")
      .select(col("vec_id"), damp(coalesce(col("s1"), lit(0L))).as("pr1"))
    // iteration 2: redistribute the iteration-1 ranks
    val r2 = edges.join(p1, col("src") === p1("vec_id"))
      .select(col("dst"), nanos(col("pr1") / lit(k.toDouble)).as("t"))
      .groupBy(col("dst")).agg(sum(col("t")).as("s2"), count(lit(1)).as("n_in"))
    nodes.crossJoin(broadcast(nn))
      .join(r2, col("vec_id") === col("dst"), "left")
      .select(col("vec_id"),
        Exact.dround(damp(coalesce(col("s2"), lit(0L))), 9).as("pagerank"),
        coalesce(col("n_in"), lit(0L)).cast(LongType).as("n_in"))
      .orderBy(col("vec_id"))
  }

  def pageRankSql(k: Int = 5, subset: Int = 200, damping: Double = 0.85): String = {
    val oneMinusD = 1.0 - damping
    val kd = k.toDouble
    def damp(s: String) =
      // string-routed literals: bare doubles with >15 significant digits
      // (e.g. 1.0 - 0.95) get typed DECIMAL by DuckDB and convert a ulp
      // off the JVM double — CAST('…' AS DOUBLE) is its one
      // correctly-rounded route (the imb2/dq3 rule)
      s"CAST('$oneMinusD' AS DOUBLE)/CAST(nn AS DOUBLE) + " +
        s"CAST('$damping' AS DOUBLE)*(CAST($s AS DOUBLE)/1000000000.0)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id < $subset),
       |n AS (SELECT COUNT(*) AS nn FROM e),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    list_dot_product(a.v, b.v)
       |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |tk AS (SELECT a AS src, b AS dst FROM (
       |         SELECT a, b,
       |           ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
       |         FROM p) WHERE rnk <= $k),
       |r1 AS (SELECT dst,
       |         SUM(CAST(FLOOR(((1.0/CAST(nn AS DOUBLE))/$kd)*1000000000+0.5) AS BIGINT)) AS s1
       |       FROM tk CROSS JOIN n GROUP BY dst),
       |p1 AS (SELECT e.vec_id, ${damp("COALESCE(s1, 0)")} AS pr1
       |       FROM e CROSS JOIN n LEFT JOIN r1 ON e.vec_id = r1.dst),
       |r2 AS (SELECT dst,
       |         SUM(CAST(FLOOR((pr1/$kd)*1000000000+0.5) AS BIGINT)) AS s2,
       |         COUNT(*) AS n_in
       |       FROM tk JOIN p1 ON tk.src = p1.vec_id GROUP BY dst)
       |SELECT e.vec_id,
       |  ${Exact.sqlDround(damp("COALESCE(s2, 0)"), 9)} AS pagerank,
       |  CAST(COALESCE(n_in, 0) AS BIGINT) AS n_in
       |FROM e CROSS JOIN n LEFT JOIN r2 ON e.vec_id = r2.dst
       |ORDER BY vec_id""".stripMargin
  }

  // === per-label outliers (curation sweep) =================================
  /** out1: the k vectors least similar to their own label's centroid —
    * the mislabel/outlier sweep a curation pass runs before training on
    * labeled embeddings. Centroids are the sim2 distributed vector
    * aggregate re-assembled into arrays (label-bounded, broadcast
    * back); similarity is the codegen'd dot product. Ranking uses the
    * 4-decimal-rounded cosine: centroid components are means of
    * doubles, so their last ulp is summation-order-dependent across
    * engines — the rounding absorbs it (the sim2 argument), and vec_id
    * breaks ties totally. Shape at 100 TB: one (label, pos) shuffle for
    * the centroids, a broadcast join back, and a top-k window over
    * (label, cos) pairs — vectors never shuffle.
    */
  def embeddingOutliers(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), vecD("embedding").as("v")))
    val dims = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
    val cents = dims.groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, p -> p.c)").as("cv"))
    val w = Window.partitionBy(col("label")).orderBy(col("cos_r"), col("vec_id"))
    e.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"),
        Exact.dround(dot(col("v"), col("cv"))
          / sqrt(dot(col("v"), col("v")) * dot(col("cv"), col("cv"))), 4).as("cos_r"))
      .withColumn("outlier_rank", row_number().over(w).cast(LongType))
      .filter(col("outlier_rank") <= k)
      .select(col("label"), col("outlier_rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("label"), col("outlier_rank"))
  }

  def embeddingOutliersSql(k: Int = 5): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT label, i AS pos, AVG(v[i]) AS c
       |  FROM e, (SELECT UNNEST(generate_series(1, $maxDim)) AS i) idx
       |  WHERE i <= len(v)
       |  GROUP BY label, i),
       |cents AS (SELECT label, list(c ORDER BY pos) AS cv FROM dims GROUP BY label),
       |sc AS (
       |  SELECT e.label, vec_id,
       |    ${Exact.sqlDround(
        "list_dot_product(v, cv) / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv))",
        4)} AS cos_r
       |  FROM e JOIN cents ON e.label = cents.label),
       |r AS (SELECT label, vec_id, cos_r,
       |        ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_r, vec_id)
       |          AS outlier_rank
       |      FROM sc)
       |SELECT label, CAST(outlier_rank AS BIGINT) AS outlier_rank, vec_id, cos_r
       |FROM r WHERE outlier_rank <= $k ORDER BY label, outlier_rank""".stripMargin

  // === covariance / second-moment matrix (PCA prep) ========================
  /** cov1: the embedding corpus's exact moment matrix — for every
    * dimension pair i <= j, the count and the exact sums of x_i, x_j
    * and x_i·x_j — everything PCA, whitening, or a Mahalanobis metric
    * needs, produced distributed (the eigensolve itself is a driver-side
    * d x d problem — operators.Pca). Sums use the Exact micros scheme
    * over doubles widened from the stored floats, so the matrix is
    * bit-portable. Shape at 100 TB: the upper-triangle (i, j) pairs are
    * generated INSIDE each row (nested transform over the dimension
    * range — no dimension explode, no vec_id self-join, so nothing
    * shuffles per vector), and partial aggregation collapses each
    * partition to at most d(d+1)/2 groups before the operator's single
    * exchange — the shuffle ships one bounded matrix per partition
    * regardless of n; compute is the unavoidable n·d² of any covariance
    * pass and parallelizes per partition. Plan shape pinned in
    * PlanQualitySpec.
    */
  def embeddingCovariance(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), _.cast(DoubleType))
    val pairs = flatten(transform(sequence(lit(0), size(col("v")) - 1), i =>
      transform(sequence(i, size(col("v")) - 1), j =>
        struct(i.as("i"), j.as("j"),
          element_at(col("v"), i + 1).as("x"),
          element_at(col("v"), j + 1).as("y")))))
    Par.fanOut(t(s, dir, "embeddings").select(col("embedding")))
      // zero-length vectors contribute no pairs (sequence(0, -1) would
      // otherwise run descending and hit element_at index 0); the
      // oracle's `WHERE i <= len(embedding)` drops the same rows
      .filter(size(col("embedding")) > 0)
      .select(v.as("v"))
      .select(explode(pairs).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("i"), col("j"))
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        Exact.dsum(col("x") * col("y")).as("sum_xy"),
        Exact.dsum(col("x")).as("sum_x"),
        Exact.dsum(col("y")).as("sum_y"))
      // d*(d+1)/2 rows — dimension-bounded, so the output sort skips the
      // range exchange (the pin's "fan-out + aggregate" two-shuffle shape
      // was silently three until countShuffles learned to see inside AQE
      // query stages: this orderBy was a rangepartitioning stage)
      .orderedSmall(col("i"), col("j"))
  }

  val embeddingCovarianceSql: String =
    s"""WITH idx AS (SELECT UNNEST(generate_series(1, $maxDim)) AS i),
       |ex AS (
       |  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN idx WHERE i <= len(embedding))
       |SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Exact.sqlDsum("a.x * b.x")} AS sum_xy,
       |  ${Exact.sqlDsum("a.x")} AS sum_x,
       |  ${Exact.sqlDsum("b.x")} AS sum_y
       |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  // === k-means: one Lloyd assignment step ==================================
  /** km1: the assignment step of Lloyd's k-means over the embedding
    * corpus — every vector assigned to its nearest of k deterministic
    * seed centroids (the k lowest vec_ids; cosine metric), reported as
    * per-cluster membership counts with mean and minimum assignment
    * similarity. This is the building block of distributed k-means
    * (iterating = re-running with updated centroids, the sim4/IVF
    * training loop) and of cluster-balanced corpus sampling. Engine
    * parity: each cosine is rounded once to 6 decimals (absorbing
    * summation-order ulp), ties break toward the lower seed id, and
    * the per-cluster mean divides an exact micros sum by the count in
    * one IEEE division. Shape at 100 TB: k seed vectors broadcast; the
    * assignment argmin is a row_number window over k rows per vec_id
    * (one shuffle of (vec_id, cluster, cos) triples — vectors
    * themselves never shuffle); the final aggregate's key space is k.
    */
  def kmeansAssign(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings").select(col("vec_id"), vecD("embedding").as("v")))
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("v").as("cv"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_r").desc, col("cluster"))
    e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cluster"),
        Exact.dround(cosine(col("v"), col("cv")), 6).as("cos_r"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        Exact.msum(col("cos_r")).as("sc"),
        min(col("cos_r")).as("min_cos"))
      .select(col("cluster"), col("n_members").cast(LongType).as("n_members"),
        (Exact.toUnits(col("sc")) / col("n_members").cast(DoubleType)).as("avg_cos"),
        col("min_cos"))
      .orderBy(col("cluster"))
  }

  def kmeansAssignSql(k: Int = 8): String = {
    val cos = "list_dot_product(v, cv) / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $k),
       |p AS (
       |  SELECT e.vec_id, cluster, ${Exact.sqlDround(cos, 6)} AS cos_r
       |  FROM e CROSS JOIN s),
       |r AS (SELECT vec_id, cluster, cos_r,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cluster) AS rnk
       |      FROM p)
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  ${Exact.sqlToUnits(Exact.sqlMsum("cos_r"))} / CAST(COUNT(*) AS DOUBLE) AS avg_cos,
       |  MIN(cos_r) AS min_cos
       |FROM r WHERE rnk = 1 GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  // === k-means: the centroid update step ==================================
  /** The in-row argmax assignment shared by km2 and sd1: every vector
    * tagged with its nearest of the k lowest-vec_id seed centroids
    * (cosine, rounded to 6 decimals, ties toward the lower seed — the
    * SAME decision rule as km1's window formulation, restated so the
    * vector can travel WITH its verdict). The k seeds collapse to one
    * collected row and broadcast; each vector scores all k inside one
    * projection (array transform + array_sort over (−cos, cluster)
    * structs) and keeps its argmax — map-only, no per-vector window
    * shuffle, so downstream operators that need the vector values
    * (centroid means, within-cluster joins) ship each vector exactly
    * once, keyed however THEY need it.
    */
  private[operators] def assignedVectors(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings").select(col("vec_id"), vecD("embedding").as("v")))
    val seedRow = e.filter(col("vec_id") < k)
      .agg(collect_list(struct(col("vec_id").cast(LongType).as("cluster"), col("v").as("cv"))).as("seeds"))
    val scored = transform(col("seeds"), sd =>
      struct((-Exact.dround(cosine(col("v"), sd.getField("cv")), 6)).as("neg_cos"),
        sd.getField("cluster").as("cluster")))
    e.crossJoin(broadcast(seedRow))
      .withColumn("best", element_at(array_sort(scored), 1))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        (-col("best.neg_cos")).as("cos_r"), col("v"))
  }

  /** km2: the centroid UPDATE step of Lloyd's k-means — the other half
    * of the iteration km1 starts. Every vector joins its assigned
    * cluster (in-row argmax over the broadcast seeds — vectors never
    * shuffle k-fold), the per-cluster per-dimension mean is the new
    * centroid, and each coordinate reports its shift from the seed it
    * replaces (the convergence signal a k-means driver loop watches).
    * Engine parity: each mean is an exact units+micros sum divided by
    * the member count in one IEEE division; the shift subtracts the
    * exactly-representable seed coordinate and rounds once to 6
    * decimals. Shape at 100 TB: the assignment is map-only; the only
    * exchange is the (cluster, pos) aggregate, partially aggregated to
    * at most k·d groups per partition (k=8, d=64 → 512 rows TOTAL at
    * any scale factor); the seed-coordinate join broadcasts k·d rows.
    */
  def kmeansUpdate(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val assigned = assignedVectors(s, dir, k)
    val dims = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).cast(LongType).as("n_members"), Exact.davg(col("x")).as("centroid"))
    val seedDims = t(s, dir, "embeddings").filter(col("vec_id") < k)
      .select(col("vec_id").cast(LongType).as("cluster"),
        posexplode(vecD("embedding")).as(Seq("pos", "sx")))
    dims.join(broadcast(seedDims), Seq("cluster", "pos"))
      .select(col("cluster"), col("pos"), col("n_members"), col("centroid"),
        Exact.dround(col("centroid") - col("sx"), 6).as("shift"))
      .orderedSmall(col("cluster"), col("pos")) // k·d rows at any scale
  }

  def kmeansUpdateSql(k: Int = 8): String = {
    val cos = "list_dot_product(v, cv) / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $k),
       |p AS (
       |  SELECT e.vec_id, cluster, ${Exact.sqlDround(cos, 6)} AS cos_r
       |  FROM e CROSS JOIN s),
       |r AS (SELECT vec_id, cluster, cos_r,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cluster) AS rnk
       |      FROM p),
       |a AS (SELECT vec_id, cluster FROM r WHERE rnk = 1),
       |idx AS (SELECT UNNEST(generate_series(1, $maxDim)) AS i),
       |ex AS (
       |  SELECT a.cluster, i - 1 AS pos, e.v[i] AS x
       |  FROM a JOIN e USING (vec_id) CROSS JOIN idx WHERE i <= len(e.v)),
       |d AS (
       |  SELECT cluster, pos, CAST(COUNT(*) AS BIGINT) AS n_members,
       |         ${Exact.sqlDavg("x")} AS centroid
       |  FROM ex GROUP BY 1, 2),
       |sd AS (
       |  SELECT cluster, i - 1 AS pos, cv[i] AS sx
       |  FROM s CROSS JOIN idx WHERE i <= len(cv))
       |SELECT cluster, CAST(pos AS INTEGER) AS pos, n_members, centroid,
       |       ${Exact.sqlDround("centroid - sx", 6)} AS shift
       |FROM d JOIN sd USING (cluster, pos)
       |ORDER BY cluster, pos""".stripMargin
  }

  // === SemDeDup: semantic dedup inside k-means clusters ===================
  /** sd1: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication that only compares embeddings INSIDE a k-means
    * cluster: cluster first, then within each cluster drop every
    * vector that has a lower-id cluster-mate above the cosine
    * threshold. The cluster step is what makes semantic dedup
    * tractable at 100 TB — the quadratic term is bounded by the
    * largest cluster, not the corpus, and clusters shrink as k grows.
    * Every vector reports its verdict: its cluster, how many kept-side
    * (lower-id) neighbors sat above the threshold, and whether it
    * survives. Shape: the in-row argmax assignment is map-only; each
    * vector then ships ONCE keyed by cluster into the pinned
    * within-cluster join (the exchange AQE would otherwise collapse —
    * the dd5 lesson), and the verdict join is a left join on vec_id.
    */
  def semDedup(s: SparkSession, dir: String, k: Int = 8, threshold: Double = 0.3): DataFrame = {
    val np = Par.shuffleWidth(t(s, dir, "embeddings"))
    val assigned = assignedVectors(s, dir, k)
      .select(col("vec_id"), col("cluster"), col("v"),
        dot(col("v"), col("v")).as("nrm"))
      .repartition(np, col("cluster")) // pinned: within-cluster join fans out
    val close = assigned.select(col("cluster"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .join(assigned.select(col("cluster"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("cluster"))
      .filter(col("id_b") < col("id_a"))
      .filter(Exact.dround(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), 6) >= threshold)
      .groupBy(col("id_a")).agg(count(lit(1)).cast(LongType).as("n_close"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(close.withColumnRenamed("id_a", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        (coalesce(col("n_close"), lit(0L)) === 0L).as("keep"))
      .orderBy(col("vec_id"))
  }

  def semDedupSql(k: Int = 8, threshold: Double = 0.3): String = {
    val cos = "list_dot_product(v, cv) / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv))"
    val pcos = "list_dot_product(va, vb) / sqrt(list_dot_product(va, va) * list_dot_product(vb, vb))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $k),
       |p AS (
       |  SELECT e.vec_id, cluster, ${Exact.sqlDround(cos, 6)} AS cos_r
       |  FROM e CROSS JOIN s),
       |r AS (SELECT vec_id, cluster, cos_r,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cluster) AS rnk
       |      FROM p),
       |a AS (SELECT vec_id, cluster FROM r WHERE rnk = 1),
       |av AS (SELECT a.vec_id, a.cluster, e.v FROM a JOIN e USING (vec_id)),
       |cl AS (
       |  SELECT x.vec_id AS id_a, CAST(COUNT(*) AS BIGINT) AS n_close
       |  FROM (SELECT vec_id, cluster, v AS va FROM av) x
       |  JOIN (SELECT vec_id, cluster, v AS vb FROM av) y
       |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
       |  WHERE ${Exact.sqlDround(pcos, 6)} >= CAST('$threshold' AS DOUBLE)
       |  GROUP BY 1)
       |SELECT av.vec_id, cluster,
       |       COALESCE(n_close, 0) AS n_close,
       |       COALESCE(n_close, 0) = 0 AS keep
       |FROM av LEFT JOIN cl ON av.vec_id = cl.id_a
       |ORDER BY av.vec_id""".stripMargin
  }

  // === label propagation over the kNN graph ===============================
  /** lp1: one label-propagation step over the directed exact-kNN graph
    * of the sim6 vector subset — every vector re-labeled by the
    * majority label among its k nearest neighbors (the semi-supervised
    * label-cleaning / mislabel-detection pass; a vector whose
    * propagated label disagrees with its stored one is a labeling-error
    * candidate, the out1 sweep's graph-native sibling). Engine parity:
    * votes are integer counts, vote ties break toward the smaller
    * label id, and neighbor-rank ties toward the smaller vec_id — one
    * deterministic relabeling on both engines. Exact all-pairs kNN is
    * the bounded correctness tier (the sim6 argument); the 100 TB path
    * swaps in sim3's LSH candidate edges and keeps the propagation,
    * which is a (node, label) count aggregate + top-1 window over
    * id/label pairs — the vectors themselves never iterate.
    */
  def labelPropagation(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .filter(col("vec_id") < subset)
      // only LABELED vectors vote or receive in this audit tier: a NULL
      // label in the vote tie-break (ORDER BY n_votes DESC, lb) sorts
      // NULLS FIRST on Spark but LAST on DuckDB — a silent parity break
      // the moment an unlabeled vector lands in the subset
      .filter(col("label").isNotNull)
      .select(col("vec_id"), vecD("embedding").as("v"), col("label")))
    val pairs = e.select(col("vec_id").as("a"), col("v").as("va"), col("label").as("la"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb"), col("label").as("lb")))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
    val wKnn = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    val knn = pairs.withColumn("rnk", row_number().over(wKnn))
      .filter(col("rnk") <= k)
      .select(col("a"), col("la"), col("lb"))
    val votes = knn.groupBy(col("a"), col("la"), col("lb"))
      .agg(count(lit(1)).as("n_votes"))
    val wTop = Window.partitionBy(col("a")).orderBy(col("n_votes").desc, col("lb"))
    votes.withColumn("r", row_number().over(wTop))
      .filter(col("r") === 1)
      .select(col("a").as("vec_id"),
        col("la").cast(IntegerType).as("label"),
        col("lb").cast(IntegerType).as("new_label"),
        col("n_votes").cast(LongType).as("n_votes"))
      .orderBy(col("vec_id"))
  }

  def labelPropagationSql(k: Int = 5, subset: Int = 200): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
       |           WHERE vec_id < $subset AND label IS NOT NULL),
       |p AS (
       |  SELECT a.vec_id AS a, a.label AS la, b.vec_id AS b, b.label AS lb,
       |    list_dot_product(a.v, b.v)
       |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |tk AS (SELECT a, la, lb FROM (
       |         SELECT a, la, lb,
       |           ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
       |         FROM p) WHERE rnk <= $k),
       |votes AS (SELECT a, la, lb, COUNT(*) AS n_votes FROM tk GROUP BY 1, 2, 3),
       |r AS (SELECT a, la, lb, n_votes,
       |        ROW_NUMBER() OVER (PARTITION BY a ORDER BY n_votes DESC, lb) AS r
       |      FROM votes)
       |SELECT a AS vec_id, CAST(la AS INTEGER) AS label,
       |  CAST(lb AS INTEGER) AS new_label, CAST(n_votes AS BIGINT) AS n_votes
       |FROM r WHERE r = 1 ORDER BY vec_id""".stripMargin

  // === label balance: class shares and entropy contributions ==============
  /** imb1: the label-balance card — per-class counts, shares and
    * entropy contributions over the embedding corpus (the imbalance
    * diagnostic a fine-tuning mix is checked against before training;
    * the summed surprisal column IS the label entropy, and its ratio
    * to ln(k) the balance score). Shape at 100 TB: one
    * map-side-combinable count whose key space is the label domain;
    * the result is domain-bounded and sorts in one task. Engine
    * parity: shares are one IEEE division of exact integers; each
    * surprisal is rounded once to 6 decimals (absorbing last-ulp libm
    * ln differences — the txt11 argument).
    */
  def labelBalance(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "embeddings")
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("nt"))
    val share = col("n").cast(DoubleType) / col("nt").cast(DoubleType)
    counts.crossJoin(broadcast(total))
      .select(col("label"), col("n").cast(LongType).as("n_vectors"),
        share.as("share"),
        Exact.dround(-share * log(share), 6).as("surprisal"))
      // explicit NULLS LAST: an unlabeled group is a legitimate balance
      // row, but Spark's asc default is NULLS FIRST vs DuckDB's LAST
      .orderedSmall(col("label").asc_nulls_last)
  }

  val labelBalanceSql: String = {
    val share = "CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)"
    s"""WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
       |t AS (SELECT SUM(n) AS nt FROM c)
       |SELECT label, CAST(n AS BIGINT) AS n_vectors, $share AS share,
       |  ${Exact.sqlDround(s"-($share) * ln($share)", 6)} AS surprisal
       |FROM c CROSS JOIN t ORDER BY label ASC NULLS LAST""".stripMargin
  }

  // === imb2: effective-number class weights ================================
  /** imb2: class-balanced loss weights from the effective number of
    * samples (Cui et al. 2019) — the imbalance correction that
    * replaced naive inverse-frequency in production classifiers:
    * E_i = (1 − β^{n_i})/(1 − β) with β = 0.999, w_i ∝ 1/E_i
    * normalized so the weights sum to the class count. The one libm
    * pow() per class is micros-rounded immediately (the txt11/mix3
    * argument), so the inverse/normalize chain runs over identical
    * operands on both engines. Shape at 100 TB: one label-keyed count
    * aggregate; everything after is windows over |labels| rows.
    */
  def effectiveNumberWeights(s: SparkSession, dir: String,
      beta: Double = 0.999): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val counts = t(s, dir, "embeddings")
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      // β^n in micros: exact integer from one rounded pow
      .withColumn("beta_n_micro",
        floor(pow(lit(beta), col("n").cast(DoubleType)) * 1000000L + 0.5).cast(LongType))
    val eff = (lit(1000000L) - col("beta_n_micro")).cast(DoubleType) /
      lit((1.0 - beta) * 1000000.0)
    // 1/E_i in exact NANOS so the normalizing sum is an integer sum —
    // an unordered double sum would be addition-order-dependent across
    // engines (E_i spans [1, 1000], so nanos keep ≥6 significant digits)
    val scored = counts
      .withColumn("eff_n", eff)
      .withColumn("inv_nano", floor(lit(1.0e9) / col("eff_n") + 0.5).cast(LongType))
      .withColumn("inv_sum", sum(col("inv_nano")).over(wAll))
      .withColumn("n_classes", count(lit(1)).over(wAll))
    scored.select(col("label"), col("n").cast(LongType).as("n_vectors"),
        Exact.dround(col("eff_n"), 6).as("effective_n"),
        Exact.dround(col("inv_nano").cast(DoubleType) / col("inv_sum").cast(DoubleType)
          * col("n_classes").cast(DoubleType), 9).as("weight"))
      .orderedSmall(col("label"))
  }

  def effectiveNumberWeightsSql(beta: Double = 0.999): String = {
    // (1-0.999)*1e6 prints 17 significant digits; as a bare literal
    // DuckDB types it DECIMAL(17,13) and converts 1 ulp off the JVM
    // double — string->double is its one correctly-rounded route (the
    // dq3/sqlToUnits argument; review r17 caught the bare form)
    val denom = s"CAST('${(1.0 - beta) * 1000000.0}' AS DOUBLE)"
    s"""WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
       |b AS (
       |  SELECT label, n,
       |    CAST(FLOOR(POWER(CAST('$beta' AS DOUBLE), CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
       |      AS beta_n_micro
       |  FROM c),
       |e AS (
       |  SELECT label, n,
       |    CAST(1000000 - beta_n_micro AS DOUBLE) / $denom AS eff_n
       |  FROM b),
       |s AS (
       |  SELECT label, n, eff_n,
       |    CAST(FLOOR(1.0e9 / eff_n + 0.5) AS BIGINT) AS inv_nano,
       |    SUM(CAST(FLOOR(1.0e9 / eff_n + 0.5) AS BIGINT)) OVER () AS inv_sum,
       |    COUNT(*) OVER () AS n_classes
       |  FROM e)
       |SELECT label, CAST(n AS BIGINT) AS n_vectors,
       |  ${Exact.sqlDround("eff_n", 6)} AS effective_n,
       |  ${Exact.sqlDround(
            "(CAST(inv_nano AS DOUBLE) / CAST(inv_sum AS DOUBLE) * CAST(n_classes AS DOUBLE))", 9)}
       |    AS weight
       |FROM s ORDER BY label""".stripMargin
  }

  // === embedding drift between corpus halves ==============================
  /** sim7: per-label centroid drift between the early and late halves
    * of the embedding corpus (split at the median vec_id) — the
    * checkpoint-to-checkpoint drift monitor an embedding pipeline runs
    * when the encoder or the upstream corpus changes: a label whose
    * two half-centroids diverge (cosine < ~0.99) moved in embedding
    * space. Shape at 100 TB: per-(label, half, dim) means are one
    * posexplode + map-side-combinable aggregate bounded by
    * labels × 2 × d; the half boundary is a broadcast one-row median;
    * the cosine runs over the joined (label, dim) pairs — domain-
    * bounded, one task. Engine parity: means are exact-sum divisions,
    * the dot/norm accumulations are micros-rounded exact sums, and the
    * final cosine is rounded once to 6 decimals.
    */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .select(col("vec_id"), vecD("embedding").as("v"), col("label")))
    val mid = t(s, dir, "embeddings")
      .agg(((min(col("vec_id")) + max(col("vec_id"))) / 2).cast(LongType).as("mid"))
    // both half-centroids from ONE conditional aggregation pass — an
    // early/late self-join on a shared `dims` re-ran the posexplode
    // aggregate per side (8 scans in the round-11 plan audit)
    val dims = e.crossJoin(broadcast(mid))
      .select(col("label"), (col("vec_id") <= col("mid")).as("early"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(count(when(col("early"), 1)).as("n_early"),
        count(when(!col("early"), 1)).as("n_late"),
        Exact.davg(when(col("early"), col("x"))).as("ca"),
        Exact.davg(when(!col("early"), col("x"))).as("cb"))
    dims
      .groupBy(col("label"))
      .agg(max(col("n_early")).cast(LongType).as("n_early"),
        max(col("n_late")).cast(LongType).as("n_late"),
        Exact.dsum(col("ca") * col("cb")).as("dot"),
        Exact.dsum(col("ca") * col("ca")).as("na"),
        Exact.dsum(col("cb") * col("cb")).as("nb"))
      // a label with every vector in one half has no drift to measure —
      // drop it, matching the oracle's early-JOIN-late semantics (null
      // centroids would otherwise emit a null-cos row the oracle lacks)
      .filter(col("n_early") > 0 && col("n_late") > 0)
      .select(col("label"), col("n_early"), col("n_late"),
        Exact.dround(col("dot") / sqrt(col("na") * col("nb")), 6).as("cos_drift"))
      .orderedSmall(col("label"))
  }

  val centroidDriftSql: String =
    s"""WITH m AS (
       |  SELECT CAST((MIN(vec_id) + MAX(vec_id)) // 2 AS BIGINT) AS mid FROM embeddings),
       |ex AS (
       |  SELECT label, vec_id <= mid AS early, i - 1 AS pos,
       |         CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN m
       |  CROSS JOIN (SELECT UNNEST(generate_series(1, $maxDim)) AS i)
       |  WHERE i <= len(embedding)),
       |d AS (
       |  SELECT label, early, pos, COUNT(*) AS n, ${Exact.sqlDavg("x")} AS c
       |  FROM ex GROUP BY 1, 2, 3),
       |j AS (
       |  SELECT a.label, a.pos, a.n AS n_early, b.n AS n_late,
       |         a.c AS ca, b.c AS cb
       |  FROM d a JOIN d b ON a.label = b.label AND a.pos = b.pos
       |  WHERE a.early AND NOT b.early)
       |SELECT label, CAST(MAX(n_early) AS BIGINT) AS n_early,
       |  CAST(MAX(n_late) AS BIGINT) AS n_late,
       |  ${Exact.sqlDround(
      s"${Exact.sqlDsum("ca * cb")} / sqrt(${Exact.sqlDsum("ca * ca")} * ${Exact.sqlDsum("cb * cb")})", 6)}
       |    AS cos_drift
       |FROM j GROUP BY label ORDER BY label""".stripMargin

  // === hubness: kNN in-degree ==============================================
  /** hub1: the in-degree ranking of the directed exact-kNN graph over
    * the sim6 subset — embedding-space hubness, the known pathology of
    * high-dimensional ANN corpora (hub vectors appear in everyone's
    * neighbor list, distorting retrieval and dedup; the fix is
    * centering or QB-norm, and THIS table is how the problem is
    * detected). Top-20 by in-degree, ties toward the smaller vec_id.
    * Shape at 100 TB: the kNN edge list (LSH-bucketed on the scale
    * path — the sim6 argument) shuffles (dst) ids only; the count is
    * map-side combinable and the top-k is TakeOrdered.
    */
  def knnHubness(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200,
      topK: Int = 20): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .filter(col("vec_id") < subset)
      .select(col("vec_id"), vecD("embedding").as("v")))
    val pairs = e.select(col("vec_id").as("a"), col("v").as("va"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("b").as("vec_id"))
      .agg(count(lit(1)).cast(LongType).as("in_degree"))
      .orderBy(col("in_degree").desc, col("vec_id"))
      .limit(topK)
  }

  def knnHubnessSql(k: Int = 5, subset: Int = 200, topK: Int = 20): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id < $subset),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    list_dot_product(a.v, b.v)
       |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |tk AS (SELECT a, b FROM (
       |         SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
       |         FROM p) WHERE rnk <= $k)
       |SELECT b AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
       |FROM tk GROUP BY b ORDER BY in_degree DESC, vec_id LIMIT $topK""".stripMargin

  // === cluster purity against the stored labels ===========================
  /** cl1: k-means cluster purity — every vector assigned to its
    * nearest seed centroid (the km1/km2 rule), each cluster graded by
    * its majority STORED label: purity = majority count / cluster
    * size. The unsupervised-vs-labels agreement scorecard (low purity
    * = the embedding geometry disagrees with the taxonomy — a mislabel
    * or encoder-quality signal; also the acceptance test for the sim4
    * IVF partitioning). Shape at 100 TB: assignment is the km2 in-row
    * argmax over broadcast seeds (map-only); the (cluster, label)
    * count and the majority window run over a k × |labels| bounded
    * table. Purity is one IEEE division of exact integers.
    */
  def clusterPurity(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    // purity is defined over LABELED members: a NULL label in the
    // majority tie-break (ORDER BY n DESC, label) sorts NULLS FIRST on
    // Spark but LAST on DuckDB — the oracle filters identically
    val labels = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
      .filter(col("label").isNotNull)
    // cluster sizes ride along as a window sum — a separate sizes
    // aggregate joined back re-ran the whole assignment pass (the
    // round-11 plan-audit lesson)
    val cl = assignedVectors(s, dir, k).select(col("vec_id"), col("cluster"))
      .join(labels, Seq("vec_id"))
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_members", sum(col("n")).over(Window.partitionBy(col("cluster"))))
    val wTop = Window.partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))
    cl.withColumn("r", row_number().over(wTop))
      .filter(col("r") === 1)
      .select(col("cluster"), col("n_members").cast(LongType).as("n_members"),
        col("label").cast(IntegerType).as("majority_label"),
        col("n").cast(LongType).as("n_majority"),
        (col("n").cast(DoubleType) / col("n_members").cast(DoubleType)).as("purity"))
      .orderedSmall(col("cluster"))
  }

  def clusterPuritySql(k: Int = 8): String = {
    val cos = "list_dot_product(v, cv) / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |s AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < $k),
       |p AS (
       |  SELECT e.vec_id, e.label, cluster, ${Exact.sqlDround(cos, 6)} AS cos_r
       |  FROM e CROSS JOIN s),
       |r AS (SELECT vec_id, label, cluster,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cluster) AS rnk
       |      FROM p),
       |cl AS (SELECT cluster, label, COUNT(*) AS n
       |       FROM r WHERE rnk = 1 AND label IS NOT NULL GROUP BY 1, 2),
       |sz AS (SELECT cluster, SUM(n) AS n_members FROM cl GROUP BY cluster),
       |top AS (SELECT cluster, label, n,
       |          ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS r
       |        FROM cl)
       |SELECT top.cluster, CAST(n_members AS BIGINT) AS n_members,
       |  CAST(label AS INTEGER) AS majority_label, CAST(n AS BIGINT) AS n_majority,
       |  CAST(n AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity
       |FROM top JOIN sz ON top.cluster = sz.cluster
       |WHERE r = 1 ORDER BY top.cluster""".stripMargin
  }

  // === rp1: signed random projection (Johnson–Lindenstrauss) ==============
  val rpDims = 8
  val rpInDims = 64

  /** The ±1 projection matrix entry for (output dim j, input dim i) —
    * derived from md5("rp#j#i") exactly as `TextAnalysis.md5Frac` /
    * `sqlMd5Frac` derive their uniforms, so the DuckDB oracle recomputes
    * the IDENTICAL matrix from SQL md5 and the two engines agree bit
    * for bit. Computed at plan-build time (it is a constant), not per
    * row.
    */
  private[operators] def rpSign(j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp#$j#$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 8), 16) < 2147483648L) 1 else -1
  }

  /** Signed random projection 64 -> 8 dims (the JL / sparse-projection
    * dimensionality reducer that preps embeddings for cheap ANN
    * prefiltering): p_j = sum_i s_ji * v_i with s in {-1, +1}.
    *
    * Exactness: components round to integer micros once, each output
    * coordinate is a 64-term LONG sum (order-independent by algebra,
    * no IEEE anywhere), and converts to double with ONE division — the
    * Exact.msum discipline applied to vector arithmetic.
    *
    * Shape at 100 TB: map-only — no shuffle, no explode, no state; the
    * micros array projects once per row and the 8 coordinates are
    * codegen'd long chains over it. Distance ratios survive with
    * distortion ~1/sqrt(8); SimilaritySpec pins the ratio envelope.
    */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .filter(size(col("embedding")) === rpInDims)
      .select(col("vec_id"), vecD("embedding").as("v"))
      .withColumn("mv", transform(col("v"), x => Exact.micros(x)))
    val projCols = (0 until rpDims).map { j =>
      val terms = (0 until rpInDims).map { i =>
        val e = element_at(col("mv"), i + 1)
        if (rpSign(j, i) > 0) e else -e
      }
      Exact.toUnits(terms.reduce(_ + _)).as(s"p$j")
    }
    base.select((col("vec_id") +: projCols): _*).orderBy(col("vec_id"))
  }

  def randomProjectionSql: String = {
    // the SHARED micros rule (Exact.sqlMicros) — an inline restatement
    // could silently desync from the Spark side's Exact.micros
    val micros = Exact.sqlMicros("CAST(x AS DOUBLE)")
    val projs = (0 until rpDims).map { j =>
      val sum = (0 until rpInDims).map { i =>
        val sgn = if (rpSign(j, i) > 0) "+" else "-"
        s"$sgn mv[${i + 1}]"
      }.mkString(" ")
      s"CAST(($sum) AS DOUBLE)/1000000.0 AS p$j"
    }.mkString(",\n  ")
    s"""WITH m AS (
       |  SELECT vec_id, list_transform(embedding, x -> $micros) AS mv
       |  FROM embeddings WHERE len(embedding) = $rpInDims)
       |SELECT vec_id,
       |  $projs
       |FROM m ORDER BY vec_id""".stripMargin
  }

  // === tri1: triangle counting on the mutual-kNN graph =====================
  /** Per-node triangle counts over the sim6 mutual-kNN edge set — the
    * local-clustering signal that separates dense semantic communities
    * from hub-and-spoke noise (the standard companion to hub1's
    * in-degree hubness).
    *
    * The count uses the canonical a<b<c edge-join: wedges from
    * (a,b)x(b,c), closed by an (a,c) edge probe. Mutual-kNN degree is
    * bounded by k, so the wedge fan-out per edge is <= k — at 100 TB
    * the join is edge-partitioned with bounded per-key work, never the
    * quadratic neighborhood product.
    */
  def knnTriangles(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200): DataFrame = {
    val edges = mutualKnn(s, dir, k, subset).select(col("a"), col("b"))
    val wedges = edges.select(col("a"), col("b").as("m"))
      .join(edges.select(col("a").as("m"), col("b").as("c")), "m")
    val tris = wedges.join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("m").as("b"), col("c"))
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderedSmall(col("vec_id")) // bounded by the sim6 subset
  }

  def knnTrianglesSql(k: Int = 5, subset: Int = 200): String =
    s"""WITH edges AS (
       |  SELECT a, b FROM (${mutualKnnSql(k, subset)})),
       |tris AS (
       |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.a = e1.b
       |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
       |nodes AS (
       |  SELECT UNNEST([a, b, c]) AS vec_id FROM tris)
       |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
       |FROM nodes GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // === tri2: local clustering coefficient ==================================
  /** Watts–Strogatz local clustering coefficient per node over the sim6
    * mutual-kNN edges: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — tri1's
    * triangle count normalized by the node's wedge capacity, the signal
    * that separates dense semantic communities (cc → 1) from
    * hub-and-spoke noise (cc → 0) node by node where tri1 only counts.
    * T and deg are exact integers; cc is ONE IEEE division (9-dp
    * rounded); degree-1 nodes have no wedge capacity → NULL.
    * Shape at 100 TB: one cached subset-bounded edge list (sp1's
    * residency argument — kilobytes, CacheManager-deduped) feeds both
    * the degree aggregate and tri1's canonical a<b<c wedge join; mutual
    * degree ≤ k bounds the wedge fan-out per edge.
    */
  def clusteringCoefficient(s: SparkSession, dir: String, k: Int = 5,
      subset: Int = 200): DataFrame = {
    import Par.BoundedOrder
    val edges = mutualKnn(s, dir, k, subset).select(col("a"), col("b")).cache()
    val deg = edges.select(col("a").as("vec_id"))
      .unionByName(edges.select(col("b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    val wedges = edges.select(col("a"), col("b").as("m"))
      .join(edges.select(col("a").as("m"), col("b").as("c")), "m")
    val tris = wedges.join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("m"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tris, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            (coalesce(col("n_triangles"), lit(0L)) * 2).cast(DoubleType)
              / (col("degree") * (col("degree") - 1)).cast(DoubleType), 9))
          .as("clustering_coeff"))
      .orderedSmall(col("vec_id")) // bounded by the sim6 subset
  }

  def clusteringCoefficientSql(k: Int = 5, subset: Int = 200): String =
    s"""WITH edges AS (
       |  SELECT a, b FROM (${mutualKnnSql(k, subset)})),
       |deg AS (
       |  SELECT vec_id, COUNT(*) AS degree
       |  FROM (SELECT a AS vec_id FROM edges UNION ALL SELECT b FROM edges) u
       |  GROUP BY 1),
       |tris AS (
       |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.a = e1.b
       |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tcnt AS (
       |  SELECT vec_id, COUNT(*) AS n_triangles
       |  FROM (SELECT UNNEST([a, b, c]) AS vec_id FROM tris) n GROUP BY 1)
       |SELECT d.vec_id, CAST(degree AS BIGINT) AS degree,
       |  CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CASE WHEN degree < 2 THEN NULL ELSE ${Exact.sqlDround(
            "CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE) / CAST(degree * (degree - 1) AS DOUBLE)", 9)}
       |  END AS clustering_coeff
       |FROM deg d LEFT JOIN tcnt t ON t.vec_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin

  // === sp1: bounded BFS hop distances ======================================
  val bfsMaxHops = 3
  val bfsSeeds = 5

  /** Hop distances from a seed set over the mutual-kNN graph, bounded
    * at 3 hops — the semantic-neighborhood expansion a curation pass
    * runs from a trusted seed corpus ("everything within k hops of the
    * gold set"). The iterative shape is the distributed BFS frontier:
    * each round is one join + one min-aggregate, both keyed on the
    * node — the standard O(hops) shuffle sequence (cc1's pointer
    * jumping is the O(log n) variant when hops are unbounded). The
    * oracle recomputes the same fixpoint with a depth-bounded
    * recursive CTE.
    */
  def knnHops(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200): DataFrame = {
    val und = mutualKnn(s, dir, k, subset).select(col("a"), col("b"))
    // cache the edge list (mirrors Dedup.connectedComponents): each BFS
    // round references it, and each round's frontier references the
    // previous round TWICE (union + join) — without the cache the
    // similarity-join subplan re-executes O(2^hops) times inside one
    // physical plan. Residency bound (this is lazy, so no unpersist
    // hook exists like the eager Dedup mirror has): the edge list is
    // <= k * subset rows of two longs — kilobytes — and CacheManager
    // dedups identical plans, so a session holds at most ONE entry per
    // (dir, k, subset), released at session stop.
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    var dist = t(s, dir, "embeddings")
      .filter(col("vec_id") < bfsSeeds)
      .select(col("vec_id"), lit(0L).as("hop"))
    for (_ <- 1 to bfsMaxHops) {
      val nxt = dist.join(edges, dist("vec_id") === edges("src"))
        .select(col("dst").as("vec_id"), (col("hop") + 1L).as("hop"))
      dist = dist.unionByName(nxt)
        .groupBy(col("vec_id")).agg(min(col("hop")).as("hop"))
    }
    dist.orderedSmall(col("vec_id")) // bounded by the sim6 subset
  }

  def knnHopsSql(k: Int = 5, subset: Int = 200): String =
    s"""WITH knn AS (${mutualKnnSql(k, subset)}),
       |edges AS (
       |  SELECT a AS src, b AS dst FROM knn
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM knn),
       |bfs AS (
       |  WITH RECURSIVE r(v, d) AS (
       |    SELECT vec_id, 0 FROM embeddings WHERE vec_id < $bfsSeeds
       |    UNION ALL
       |    SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.v
       |    WHERE r.d < $bfsMaxHops)
       |  SELECT * FROM r)
       |SELECT v AS vec_id, CAST(MIN(d) AS BIGINT) AS hop
       |FROM bfs GROUP BY v ORDER BY vec_id""".stripMargin

  // === kcore1: k-core decomposition over the mutual-kNN graph ==============
  val kcoreK = 3
  val kcoreRounds = 8

  /** Peel an undirected edge list (columns `a` < `b`) down to its
    * k-core: repeatedly drop nodes whose degree among the survivors is
    * below `k`. Peeling is monotone, so running a FIXED number of
    * rounds is safe (extra rounds are no-ops once converged) and keeps
    * both engines on the identical computation; the spec pins
    * convergence by checking rounds and rounds+1 agree. Output: every
    * node of the input graph with its core membership and its degree
    * inside the final core.
    */
  def kcoreOf(edges: DataFrame, k: Int = kcoreK, rounds: Int = kcoreRounds,
      driverThreshold: Long = 1000000L): DataFrame = {
    val und = edges.select(col("a").as("vec_id"), col("b").as("o"))
      .unionByName(edges.select(col("b").as("vec_id"), col("a").as("o")))
      .cache() // each peel round references it (the sp1 residency argument)
    // Bounded driver tier (the connectedComponents pattern): below the
    // edge threshold the FIXED-round peel runs in the driver — each
    // distributed round was two joins + an aggregate + an eager
    // localCheckpoint job, ~9 jobs of stage overhead for a ≤1000-edge
    // graph on the sim6 subset tier (guide §1.2: remove passes).
    // Identical computation: same fixed `rounds`, same degree-among-
    // survivors rule; the loop below stays the path for huge graphs.
    // und holds DIRECTED rows (both orientations), 2x the undirected
    // edge count the parameter speaks of — halve before comparing
    // (ADVICE r20: the raw comparison silently made the bound 2x tighter
    // than documented)
    val nEdges = und.count()
    if (nEdges / 2 <= driverThreshold) {
      val spark = edges.sparkSession
      val es = und.collect().map(r => (r.getLong(0), r.getLong(1)))
      und.unpersist()
      val allNodes = es.map(_._1).distinct.sorted
      var alive = allNodes.toSet
      for (_ <- 1 to rounds) {
        val deg = scala.collection.mutable.Map.empty[Long, Long]
        es.foreach { case (s0, d0) =>
          if (alive(s0) && alive(d0)) deg(s0) = deg.getOrElse(s0, 0L) + 1L
        }
        alive = deg.collect { case (n, d) if d >= k => n }.toSet
      }
      val coreDeg = scala.collection.mutable.Map.empty[Long, Long]
      es.foreach { case (s0, d0) =>
        if (alive(s0) && alive(d0)) coreDeg(s0) = coreDeg.getOrElse(s0, 0L) + 1L
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      // explicit ordering contract, same as the distributed tail's
      // orderedSmall — allNodes is already ascending, but the ORDER must
      // be stated logically, not rest on a 1-partition RDD's physical
      // row order (ADVICE r20)
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          allNodes.toSeq.map(n =>
            Row(n, coreDeg.contains(n), coreDeg.getOrElse(n, 0L))), 1),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("in_core", BooleanType),
          StructField("core_degree", LongType))))
        .orderedSmall(col("vec_id"))
    }
    val all = und.select(col("vec_id")).distinct()
    var nodes = all.localCheckpoint()
    for (_ <- 1 to rounds) {
      nodes = und
        .join(nodes, "vec_id")
        .join(nodes.select(col("vec_id").as("o")), "o")
        .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("vec_id"))
        // each round references the previous round TWICE (both
        // endpoints), so without lineage TRUNCATION the logical plan
        // doubles per round — 2^rounds copies of the upstream kNN
        // subplan blew the driver heap during ANALYSIS (a cache only
        // dedups execution). localCheckpoint is the standard iterative
        // -algorithm break: the round's (tiny, node-bounded) result is
        // materialized and the next round plans against it alone.
        .localCheckpoint()
    }
    val coreDeg = und
      .join(nodes, "vec_id")
      .join(nodes.select(col("vec_id").as("o")), "o")
      .groupBy(col("vec_id")).agg(count(lit(1)).cast(LongType).as("core_degree"))
    all.join(coreDeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("core_degree").isNotNull.as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
      .orderedSmall(col("vec_id")) // bounded by the sim6 subset
  }

  /** kcore1: the 3-core of the sim6 mutual-kNN graph — the
    * dense-neighborhood skeleton a curation pass samples from (nodes
    * outside the core are semantic stragglers; the core is where
    * near-duplicate clusters and topic hubs live). Scale path: the
    * exact mutual-kNN tier is subset-bounded like sim6/tri1/sp1; at
    * 100 TB the edge list comes from the LSH candidate graph and each
    * peel round is one degree aggregate + semi-join, key-partitioned
    * on the node id.
    */
  def knnKcore(s: SparkSession, dir: String, k: Int = 5, subset: Int = 200): DataFrame =
    kcoreOf(mutualKnn(s, dir, k, subset).select(col("a"), col("b")))

  def knnKcoreSql(k: Int = 5, subset: Int = 200): String = {
    val levels = (1 to kcoreRounds).map { j =>
      val prev = s"n${j - 1}"
      s"""n$j AS MATERIALIZED (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, COUNT(*) AS deg
         |    FROM und e
         |    JOIN $prev x ON e.vec_id = x.vec_id
         |    JOIN $prev y ON e.o = y.vec_id
         |    GROUP BY e.vec_id)
         |  WHERE deg >= $kcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH knn AS MATERIALIZED (SELECT a, b FROM (${mutualKnnSql(k, subset)})),
       |und AS MATERIALIZED (
       |  SELECT a AS vec_id, b AS o FROM knn
       |  UNION ALL
       |  SELECT b AS vec_id, a AS o FROM knn),
       |n0 AS (SELECT DISTINCT vec_id FROM und),
       |$levels,
       |cd AS (
       |  SELECT e.vec_id, CAST(COUNT(*) AS BIGINT) AS core_degree
       |  FROM und e
       |  JOIN n$kcoreRounds x ON e.vec_id = x.vec_id
       |  JOIN n$kcoreRounds y ON e.o = y.vec_id
       |  GROUP BY e.vec_id)
       |SELECT n0.vec_id, (cd.vec_id IS NOT NULL) AS in_core,
       |  COALESCE(cd.core_degree, 0) AS core_degree
       |FROM n0 LEFT JOIN cd ON n0.vec_id = cd.vec_id
       |ORDER BY n0.vec_id""".stripMargin
  }

  // === sim11: greedy max-min diversity selection ===========================
  val diversityK = 8

  /** sim11: k-center greedy selection over the embedding subset — the
    * diverse-subset curation pass (pick the next vector farthest, in
    * cosine distance, from everything already selected). The classic
    * 2-approximation to the k-center objective, and the standard
    * "coverage seeds" selector for dedup canonical picks and eval-set
    * sampling. The seed is the smallest vec_id; each round's pick
    * maximizes the ROUNDED (6 dp — the house ulp-absorber) minimum
    * distance to the selected set, ties to the smallest vec_id, so the
    * whole cascade is deterministic on any engine.
    *
    * Shape: one scan per round over the subset tier; the selected set
    * is k vectors of driver state (the pq1 codebook bound). At 100 TB
    * the same loop runs over IVF/LSH-bucketed candidates with the
    * selected set broadcast — each round stays one aggregate.
    */
  def diverseSelect(s: SparkSession, dir: String, k: Int = diversityK,
      subset: Int = 200): DataFrame = {
    import scala.jdk.CollectionConverters._
    val base = t(s, dir, "embeddings").filter(col("vec_id") < subset)
      .select(col("vec_id"), vecD("embedding").as("v"))
    // a subset with fewer than k vectors EXHAUSTS: emit the rows that
    // exist, like the oracle's empty t_j CTEs — the old collect()(0)
    // threw AIOOBE on the driver instead
    val seedRows = base.orderBy(col("vec_id")).limit(1).collect()
    if (seedRows.isEmpty)
      return s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("sel_rank", IntegerType),
          StructField("vec_id", LongType), StructField("min_dist", DoubleType))))
    val seedRow = seedRows(0)
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (0, seedRow.getLong(0), None))
    // Bounded driver tier: the candidate set is subset-bounded BY
    // DECLARATION (≤ `subset` vectors at any scale factor), so the
    // whole greedy cascade runs in the driver from ONE collect — the
    // old loop paid one crossJoin + aggregate + top-1 collect job per
    // round (k-1 jobs of stage overhead for ≤200 rows; guide §1.2).
    // Arithmetic is replicated bit-for-bit: the same sequential-fold
    // dot (VectorExpressions.DotProduct's left fold), the same
    // cosine = dot/sqrt(dot*dot), the same Exact.dround(·, 6), min via
    // Double.compare (Spark's double total ordering, NaN largest) and
    // the argmax tie broken by (md desc, vec_id asc) exactly as the
    // old orderBy did. At 100 TB the same loop runs over IVF/LSH
    // candidates with the selected set broadcast — unchanged story.
    val all = base.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dotd(x: Array[Double], y: Array[Double]): Double = {
      val n = math.min(x.length, y.length)
      var acc = 0.0; var j = 0
      while (j < n) { acc += x(j) * y(j); j += 1 }
      acc
    }
    // the shared scalar twin of Exact.dround — NOT a local restatement
    // (ADVICE r20: a restated copy could silently desync from the
    // column form and break the Spark-vs-oracle parity contract)
    def dround6(x: Double): Double = Exact.droundOf(x, 6)
    val remaining = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
    all.foreach { case (id, v) => if (id != seedRow.getLong(0)) remaining(id) = v }
    val md = scala.collection.mutable.Map.empty[Long, Double]
    var newest: Array[Double] = all.find(_._1 == seedRow.getLong(0)).get._2
    var exhausted = false
    for (i <- 1 until k if !exhausted) {
      remaining.foreach { case (id, v) =>
        val d = dround6(1.0 - dotd(v, newest) / math.sqrt(dotd(v, v) * dotd(newest, newest)))
        val cur = md.get(id)
        if (cur.isEmpty || java.lang.Double.compare(d, cur.get) < 0) md(id) = d
      }
      if (remaining.isEmpty) exhausted = true
      else {
        val (topId, topD) = remaining.keysIterator
          .map(id => (id, md(id)))
          .reduceLeft { (a, b) =>
            val c = java.lang.Double.compare(b._2, a._2)
            if (c > 0 || (c == 0 && b._1 < a._1)) b else a
          }
        newest = remaining.remove(topId).get
        picks += ((i, topId, Some(topD)))
      }
    }
    s.createDataFrame(
      picks.map { case (r, id, d) =>
        org.apache.spark.sql.Row(r, id, d.map(java.lang.Double.valueOf).orNull)
      }.asJava,
      StructType(Seq(StructField("sel_rank", IntegerType),
        StructField("vec_id", LongType), StructField("min_dist", DoubleType))))
      .orderBy(col("sel_rank"))
  }

  def diverseSelectSql(k: Int = diversityK, subset: Int = 200): String = {
    val dist = (a: String, b: String) =>
      s"1 - list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"
    val levels = (1 until k).map { j =>
      val prev = s"s${j - 1}"
      s"""c$j AS (
         |  SELECT e.vec_id, MIN(${Exact.sqlDround(dist("e.v", "s.v"), 6)}) AS md
         |  FROM e, $prev s
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY e.vec_id),
         |t$j AS MATERIALIZED (SELECT vec_id, md FROM c$j ORDER BY md DESC, vec_id LIMIT 1),
         |s$j AS MATERIALIZED (
         |  SELECT vec_id, v FROM $prev
         |  UNION ALL
         |  SELECT e.vec_id, e.v FROM e JOIN t$j USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val out = (s"SELECT 0 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist FROM s0" +:
      (1 until k).map(j => s"SELECT $j AS sel_rank, vec_id, md AS min_dist FROM t$j"))
      .mkString("\n  UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < $subset),
       |s0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |$levels
       |SELECT CAST(sel_rank AS INTEGER) AS sel_rank, vec_id, min_dist
       |FROM ($out) ORDER BY sel_rank""".stripMargin
  }

  // === sim9: ANN recall audit ==============================================
  /** Recall@k of the LSH ANN index (sim3) against the exact top-k
    * (sim1), per query — the accuracy dial every ANN deployment reads
    * before trading recall for index cost. One FULL OUTER join of the
    * two result sets feeds one aggregate, so each sub-pipeline executes
    * exactly once (no star-shaped reuse).
    */
  def annRecall(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val ex = cosineTopK(s, dir, k, nQueries)
      .select(col("q_id"), col("n_id")).withColumn("in_ex", lit(1))
    val an = annTopK(s, dir, k, nQueries)
      .select(col("q_id"), col("n_id")).withColumn("in_ann", lit(1))
    ex.join(an, Seq("q_id", "n_id"), "full_outer")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("in_ex"), lit(0))).as("n_exact"),
        sum(coalesce(col("in_ann"), lit(0))).as("n_ann"),
        sum(when(col("in_ex").isNotNull && col("in_ann").isNotNull, 1L).otherwise(0L))
          .as("n_hit"))
      .withColumn("recall", col("n_hit").cast(DoubleType) / lit(k.toDouble))
      .orderedSmall(col("q_id"))
  }

  def annRecallSql(k: Int = 5, nQueries: Int = 10): String =
    s"""WITH ex AS (
       |  SELECT q_id, n_id, 1 AS in_ex FROM (${cosineTopKSql(k, nQueries)})),
       |an AS (
       |  SELECT q_id, n_id, 1 AS in_ann FROM (${annTopKSql(k, nQueries)})),
       |j AS (
       |  SELECT COALESCE(ex.q_id, an.q_id) AS q_id,
       |    ex.in_ex AS in_ex, an.in_ann AS in_ann
       |  FROM ex FULL OUTER JOIN an ON ex.q_id = an.q_id AND ex.n_id = an.n_id)
       |SELECT q_id,
       |  CAST(SUM(COALESCE(in_ex, 0)) AS BIGINT) AS n_exact,
       |  CAST(SUM(COALESCE(in_ann, 0)) AS BIGINT) AS n_ann,
       |  CAST(SUM(CASE WHEN in_ex IS NOT NULL AND in_ann IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN in_ex IS NOT NULL AND in_ann IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $k.0 AS recall
       |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin

  // === cl2: silhouette of the label clustering =============================
  /** cl2: mean silhouette coefficient per label over the sim6 vector
    * subset (Rousseeuw 1987) — the internal clustering-quality score
    * complementing cl1's external purity: s(i) = (b−a)/max(a,b) with
    * a = mean distance to same-label others and b = the closest other
    * label's mean distance. Distances are euclidean via the identity
    * d = √(⟨x,x⟩ − 2⟨x,y⟩ + ⟨y,y⟩) over the SAME sequential-fold dot
    * both engines run (sqrt is IEEE-exact, so d is bit-identical);
    * per-(point, label) means ride Exact.davg (order-independent
    * micros means), and min/max over those rounded means compare
    * exactly. Label singletons have no a(i) — they are EXCLUDED and
    * COUNTED (`n_scored` < `n_vecs`, the no-silent-drop record).
    * Exact all-pairs is the bounded correctness tier (the sim6
    * argument); the 100 TB path samples pairs per label and keeps the
    * same tail.
    */
  def silhouette(s: SparkSession, dir: String, subset: Int = 200): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .filter(col("vec_id") < subset)
      .select(col("vec_id"), col("label"), vecD("embedding").as("v")))
    val pairs = e.select(col("vec_id").as("a"), col("label").as("la"), col("v").as("va"))
      .join(e.select(col("vec_id").as("b"), col("label").as("lb"), col("v").as("vb")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("la"), col("lb"),
        sqrt(dot(col("va"), col("va")) - lit(2.0) * dot(col("va"), col("vb"))
          + dot(col("vb"), col("vb"))).as("d"))
    val perLabel = pairs.groupBy(col("a"), col("la"), col("lb"))
      .agg(Exact.davg(col("d")).as("md"))
    val ab = perLabel.groupBy(col("a"), col("la"))
      .agg(max(when(col("la") === col("lb"), col("md"))).as("a_dist"),
        min(when(col("la") =!= col("lb"), col("md"))).as("b_dist"))
    val sil = when(col("a_dist").isNull || col("b_dist").isNull, lit(null).cast(DoubleType))
      .otherwise(when(greatest(col("a_dist"), col("b_dist")) <= 0.0, lit(0.0))
        .otherwise((col("b_dist") - col("a_dist")) / greatest(col("a_dist"), col("b_dist"))))
    ab.select(col("la").cast(LongType).as("label"), sil.as("sil"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("sil")).as("n_scored"),
        Exact.dround(Exact.davg(col("sil")), 9).as("mean_silhouette"))
      .orderedSmall(col("label"))
  }

  def silhouetteSql(subset: Int = 200): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE vec_id < $subset),
       |p AS (
       |  SELECT a.vec_id AS a, a.label AS la, b.label AS lb,
       |    sqrt(list_dot_product(a.v, a.v) - 2.0 * list_dot_product(a.v, b.v)
       |         + list_dot_product(b.v, b.v)) AS d
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |pl AS (SELECT a, la, lb, ${Exact.sqlDavg("d")} AS md FROM p GROUP BY a, la, lb),
       |ab AS (
       |  SELECT a, la,
       |    MAX(CASE WHEN la = lb THEN md END) AS a_dist,
       |    MIN(CASE WHEN la <> lb THEN md END) AS b_dist
       |  FROM pl GROUP BY a, la),
       |sv AS (
       |  SELECT la, CASE
       |    WHEN a_dist IS NULL OR b_dist IS NULL THEN NULL
       |    WHEN GREATEST(a_dist, b_dist) <= 0.0 THEN 0.0
       |    ELSE (b_dist - a_dist) / GREATEST(a_dist, b_dist) END AS sil
       |  FROM ab)
       |SELECT CAST(la AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(COUNT(sil) AS BIGINT) AS n_scored,
       |  ${Exact.sqlDround(Exact.sqlDavg("sil"), 9)} AS mean_silhouette
       |FROM sv GROUP BY la ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cl2_silhouette" -> ((s: SparkSession, d: String) => silhouette(s, d)),
    "tri1_knn_triangles" -> ((s: SparkSession, d: String) => knnTriangles(s, d)),
    "tri2_clustering_coeff" -> ((s: SparkSession, d: String) => clusteringCoefficient(s, d)),
    "sp1_knn_hops" -> ((s: SparkSession, d: String) => knnHops(s, d)),
    "kcore1_knn_core" -> ((s: SparkSession, d: String) => knnKcore(s, d)),
    "sim11_diverse_select" -> ((s: SparkSession, d: String) => diverseSelect(s, d)),
    "sim9_ann_recall" -> ((s: SparkSession, d: String) => annRecall(s, d)),
    "rp1_random_projection" -> randomProjection _,
    "sim7_centroid_drift" -> centroidDrift _,
    "hub1_knn_hubness" -> ((s: SparkSession, d: String) => knnHubness(s, d)),
    "cl1_cluster_purity" -> ((s: SparkSession, d: String) => clusterPurity(s, d)),
    "imb1_label_balance" -> labelBalance _,
    "imb2_effective_weights" -> ((s: SparkSession, d: String) => effectiveNumberWeights(s, d)),
    "lp1_label_propagation" -> ((s: SparkSession, d: String) => labelPropagation(s, d)),
    "km1_kmeans_assign" -> ((s: SparkSession, d: String) => kmeansAssign(s, d)),
    "km2_kmeans_update" -> ((s: SparkSession, d: String) => kmeansUpdate(s, d)),
    "sd1_semdedup" -> ((s: SparkSession, d: String) => semDedup(s, d)),
    "pr1_pagerank" -> ((s: SparkSession, d: String) => pageRank(s, d)),
    "cov1_embedding_covariance" -> embeddingCovariance _,
    "out1_label_outliers" -> ((s: SparkSession, d: String) => embeddingOutliers(s, d)),
    "sim6_mutual_knn" -> ((s: SparkSession, d: String) => mutualKnn(s, d)),
    "sim5_int8_quantization" -> embeddingQuantization _,
    "sim1_cosine_topk" -> ((s: SparkSession, d: String) => cosineTopK(s, d)),
    "neg2_hard_negatives" -> ((s: SparkSession, d: String) => hardNegatives(s, d)),
    "sim2_label_centroids" -> labelCentroids _,
    "sim3_ann_lsh_topk" -> ((s: SparkSession, d: String) => annTopK(s, d)),
    "sim4_ann_ivf_topk" -> ((s: SparkSession, d: String) => ivfTopK(s, d)),
    "ivf2_posting_balance" -> ivfPostingBalance _,
    "pq1_product_quantization" -> pqEncode _,
    "sim10_truncation_audit" -> ((s: SparkSession, d: String) => truncationAudit(s, d)),
    "emb2_isotropy_audit" -> isotropyAudit _)

  val oracles: Map[String, String] = Map(
    "cl2_silhouette" -> silhouetteSql(),
    "tri1_knn_triangles" -> knnTrianglesSql(),
    "tri2_clustering_coeff" -> clusteringCoefficientSql(),
    "sp1_knn_hops" -> knnHopsSql(),
    "kcore1_knn_core" -> knnKcoreSql(),
    "sim11_diverse_select" -> diverseSelectSql(),
    "sim9_ann_recall" -> annRecallSql(),
    "rp1_random_projection" -> randomProjectionSql,
    "sim7_centroid_drift" -> centroidDriftSql,
    "hub1_knn_hubness" -> knnHubnessSql(),
    "cl1_cluster_purity" -> clusterPuritySql(),
    "imb1_label_balance" -> labelBalanceSql,
    "imb2_effective_weights" -> effectiveNumberWeightsSql(),
    "lp1_label_propagation" -> labelPropagationSql(),
    "km1_kmeans_assign" -> kmeansAssignSql(),
    "km2_kmeans_update" -> kmeansUpdateSql(),
    "sd1_semdedup" -> semDedupSql(),
    "pr1_pagerank" -> pageRankSql(),
    "cov1_embedding_covariance" -> embeddingCovarianceSql,
    "out1_label_outliers" -> embeddingOutliersSql(),
    "sim6_mutual_knn" -> mutualKnnSql(),
    "sim5_int8_quantization" -> embeddingQuantizationSql,
    "sim1_cosine_topk" -> cosineTopKSql(),
    "neg2_hard_negatives" -> hardNegativesSql(),
    "sim2_label_centroids" -> labelCentroidsSql,
    "sim3_ann_lsh_topk" -> annTopKSql(),
    "sim4_ann_ivf_topk" -> ivfTopKSql(),
    "ivf2_posting_balance" -> ivfPostingBalanceSql,
    "pq1_product_quantization" -> pqEncodeSql,
    "sim10_truncation_audit" -> truncationAuditSql(),
    "emb2_isotropy_audit" -> isotropyAuditSql)
}
