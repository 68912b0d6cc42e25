package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline (SURVEY §7.5):
  * exact (hash group-by), n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup: one shuffle on the content hash — the canonical
  *    map-side-combinable group-by;
  *  - n-gram Jaccard: shingle explode -> join on shingle. The shingle join
  *    is the standard inverted-index trick: candidate pairs are generated
  *    only for documents sharing a shingle, never the O(n^2) cross join;
  *  - MinHash+LSH: k=64 hashes, 16 bands x 4 rows. Documents collide in a
  *    band bucket with probability ~ 1-(1-j^4)^16, so the band join
  *    explodes each doc into only 16 rows regardless of corpus size;
  *  - SimHash: 64-bit signature; near-dup candidates via the pigeonhole
  *    band join (4 x 16-bit chunks catches every pair within Hamming
  *    distance 3) instead of an all-pairs scan.
  *
  * MinHash/SimHash signatures use Spark's xxhash64 (no DuckDB equivalent,
  * so those two queries carry no SQL oracle — they are validated against
  * exact Jaccard/Hamming ground truth in DedupSpec instead).
  */
object Dedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Engine.table(s, dir, n)

  private def shuffleWidth(df: DataFrame): Int = Par.shuffleWidth(df)
  private def fanOut(df: DataFrame): DataFrame = Par.fanOut(df)

  // === exact dedup =========================================================
  /** The dd1 whitespace-normalization content hash — ONE definition per
    * engine (Spark Column + SQL text), shared by every consumer of the
    * exact tier (dd1/dd8/dd9/dd12/dd17): a divergent copy would
    * silently change one consumer's duplicate groups. NULL-safe: a NULL
    * text hashes to a SENTINEL group (never NULL — a NULL hash silently
    * drops the document from every hash-keyed JOIN consumer). The sentinel is
    * tab-delimited: normalization collapses every whitespace run to a
    * single space, so no real document's canonical form can contain a
    * tab — NULL-text docs form their own duplicate group, DISTINCT from
    * the empty-string group (dd1 contract: NULL ≢ '').
    */
  def canonicalHash: Column =
    md5(coalesce(regexp_replace(lower(col("text")), "\\s+", " "), lit("\tnull\t")))
  val canonicalHashSql: String =
    """md5(coalesce(regexp_replace(lower(text), '\s+', ' ', 'g'), chr(9) || 'null' || chr(9)))"""

  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .groupBy(canonicalHash.as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
  }

  val exactDedupSql: String =
    s"""SELECT $canonicalHashSql AS content_hash,
       | MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  // === shared shingling ====================================================
  /** Distinct 3-token shingles per document (1-indexed element_at matches
    * DuckDB's 1-indexed list access in the oracle).
    *
    * `dedup=false` skips the distinct shuffle for consumers whose
    * aggregate is duplicate-insensitive (MinHash's `min` — one less
    * full-data shuffle on the 100 TB path).
    */
  def shingles(s: SparkSession, dir: String, n: Int = 3, dedup: Boolean = true,
      wide: Boolean = false): DataFrame =
    shinglesOf(t(s, dir, "documents"), n, dedup, wide)

  /** DataFrame-based shingling — same definition over any documents
    * frame, so [[bandedKeysOf]] shares it with the corpus table.
    *
    * `wide=true` fans the doc scan to MACHINE width instead of shuffle
    * width — for consumers whose downstream per-shingle work is
    * CPU-bound in a single-query context (the 32-md5 MinHash partial
    * aggregate; bs1's fanOutWide precedent). Per-consumer, A/B'd —
    * NOT blanket: the r20 family-wide attempt cost dd18 +20% in its
    * join phases. Identity at scale either way (fanOut* guards).
    */
  def shinglesOf(docs: DataFrame, n: Int = 3, dedup: Boolean = true,
      wide: Boolean = false): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val fanned = if (wide) Par.fanOutWide(docs.select(col("doc_id"), col("text")))
                 else fanOut(docs.select(col("doc_id"), col("text")))
    val exploded = fanned
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k)): _*))
      ).as("shingle"))
    if (dedup) exploded.distinct() else exploded
  }

  // === document-frequency guard for the inverted-index pair family ========
  /** Posting-list df cap (VERDICT r17 #3): the inverted-index self-join
    * (dd2/dd10/dd16/dd18-exact) fans each shingle shared by f documents
    * into f²/2 candidate pairs — at 100 TB a stop-word shingle ("of the
    * and") appearing in millions of documents is a quadratic blowout no
    * exchange-width pin survives, and salting cannot shrink a pair
    * FAN-OUT (it only moves a hot key between reducers). The standard
    * guard: drop postings whose document frequency exceeds the cap
    * BEFORE the self-join — a df-capped shingle carries ~zero Jaccard
    * signal at the 0.05 threshold anyway (sharing only ubiquitous
    * shingles cannot reach 5% overlap of either document's set), and
    * PPJoin's prefix filter rests on the same observation. Both the
    * pair numerators AND the per-doc set sizes are computed over the
    * capped posting universe, so the similarity stays a true Jaccard/
    * containment over the non-ubiquitous shingles on BOTH engines.
    * The cap is NEVER silent: dd19_df_cap_audit reports the capped
    * shingle count, dropped postings, and max df as an oracle-verified
    * registry row (stronger than a log line), and DedupSpec pins that
    * fixture-corpus pair recall at the 0.05 threshold is unchanged.
    *
    * Implementation: a count window over the posting key on the
    * already-key-partitioned postings — the guard adds an in-partition
    * sort but ZERO extra exchanges (PlanQualitySpec pins the filter
    * below the join and the unchanged exchange count).
    */
  val postingDfCap = 256

  /** Filter `postings` (one row per (doc, key)) to keys with document
    * frequency ≤ cap. Postings must already be partitioned by `key` —
    * the window then reuses that exchange.
    */
  def dfCapped(postings: DataFrame, key: String, cap: Int = postingDfCap): DataFrame =
    postings
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("__df") <= cap)
      .drop("__df")

  /** The oracle-side twin: wraps a postings CTE (`doc_id`, `key`) in the
    * same df filter.
    */
  def dfCapSql(src: String, key: String = "shingle", cap: Int = postingDfCap): String =
    s"""SELECT doc_id, $key FROM (
       |  SELECT doc_id, $key, COUNT(*) OVER (PARTITION BY $key) AS df FROM $src)
       |WHERE df <= $cap""".stripMargin

  /** dd19: the df-cap ledger — posting-frequency profile of the shared
    * 3-token shingle postings: total distinct shingles, how many exceed
    * the cap (and would be dropped by the guard), the dropped posting
    * count, and the hottest shingle's df. ONE row; the no-silent-caps
    * record for the dd2/dd10/dd16/dd18 family, oracle-verified.
    */
  def dfCapAudit(s: SparkSession, dir: String): DataFrame = {
    shingles(s, dir)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(
        count(lit(1)).as("n_shingles"),
        // coalesce mirrors the oracle's COALESCE(SUM(...), 0): on an
        // empty/all-short corpus Spark's SUM is NULL while the zero-
        // wrapped oracle reads 0 (review catch; corr4's discipline)
        coalesce(sum(when(col("df") > postingDfCap, 1L).otherwise(0L)), lit(0L))
          .as("n_capped_shingles"),
        coalesce(sum(when(col("df") > postingDfCap, col("df")).otherwise(0L)), lit(0L))
          .as("n_dropped_postings"),
        max(col("df")).as("max_df"))
      .withColumn("df_cap", lit(postingDfCap.toLong))
  }

  val dfCapAuditSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |dfs AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(SUM(CASE WHEN df > $postingDfCap THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS n_capped_shingles,
       |  CAST(COALESCE(SUM(CASE WHEN df > $postingDfCap THEN df ELSE 0 END), 0) AS BIGINT)
       |    AS n_dropped_postings,
       |  CAST(MAX(df) AS BIGINT) AS max_df,
       |  CAST($postingDfCap AS BIGINT) AS df_cap
       |FROM dfs""".stripMargin

  // === n-gram Jaccard near-dup pairs =======================================
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardCapped(s, dir, postingDfCap)

  /** dd2 with an explicit df cap — DedupSpec pins that fixture-corpus
    * recall at the 0.05 threshold is UNCHANGED vs the uncapped join.
    */
  def ngramJaccardCapped(s: SparkSession, dir: String, cap: Int): DataFrame = {
    // join on the 8-byte shingle hash, not the ~30-byte string: same
    // pairs (a 64-bit collision among ~10^5 shingles has p < 1e-9) with
    // a quarter of the shuffle bytes — at 100 TB the inverted-index
    // shuffle IS the cost of this operator
    val sh = dfCapped(
      shingles(s, dir).select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        // pinned width: the inverted-index self-join fans each shared
        // shingle into pairs, which AQE's input-byte coalescing can't see
        .repartition(shuffleWidth(t(s, dir, "documents")), col("shingle")),
      "shingle", cap)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val common = a.join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      // one IEEE division over identical integer operands on both engines
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.05)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  val ngramJaccardSql: String =
    ("""WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |shc AS (""" + dfCapSql("sh") + """),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_common,
      | (CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)) AS jaccard
      |FROM common
      | JOIN counts ca ON ca.doc_id = doc_a
      | JOIN counts cb ON cb.doc_id = doc_b
      |WHERE (CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)) >= 0.05
      |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 100""").stripMargin

  // === dd20: weighted (multiset) token Jaccard pairs =======================
  /** dd20: bag-of-words weighted Jaccard —
    * J_w(A,B) = Σ_t min(c_A(t), c_B(t)) / Σ_t max(c_A(t), c_B(t)) —
    * the near-dup tier that catches token-REORDERED and internally-
    * repeated documents dd2's positional shingles score low (a shuffled
    * paragraph shares almost no 3-shingles but its token bag is
    * identical: J_w = 1). Σmax needs no pair-side max: Σ_t max = |A| +
    * |B| − Σ_t min. Same inverted-index join discipline as dd2, same
    * df-cap guard applied BEFORE the self-join (both the min-sums and
    * the doc totals run over the capped posting universe on BOTH
    * engines), same pinned exchange width.
    */
  def weightedJaccard(s: SparkSession, dir: String, threshold: Double = 0.2): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val tc = dfCapped( // hot-posting guard, see postingDfCap
      fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy(col("doc_id"), xxhash64(col("tok")).as("tok"))
        .agg(count(lit(1)).as("c"))
        .repartition(shuffleWidth(t(s, dir, "documents")), col("tok")),
      "tok")
    val totals = tc.groupBy(col("doc_id")).agg(sum(col("c")).as("n_tok"))
    tc.select(col("doc_id").as("doc_a"), col("tok"), col("c").as("ca"))
      .join(tc.select(col("doc_id").as("doc_b"), col("tok"), col("c").as("cb")), "tok")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("sum_min"))
      .join(totals.select(col("doc_id").as("doc_a"), col("n_tok").as("n_a")), "doc_a")
      .join(totals.select(col("doc_id").as("doc_b"), col("n_tok").as("n_b")), "doc_b")
      // one IEEE division over exact integers on both engines
      .withColumn("w_jaccard", col("sum_min").cast(DoubleType)
        / (col("n_a") + col("n_b") - col("sum_min")).cast(DoubleType))
      .filter(col("w_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("sum_min").cast(LongType).as("sum_min"),
        col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
        col("w_jaccard"))
      .orderBy(col("w_jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  def weightedJaccardSql(threshold: Double = 0.2): String =
    s"""WITH tc0 AS (
       |  SELECT doc_id, tok, COUNT(*) AS c FROM (
       |    SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |    FROM documents WHERE length(trim(text)) > 0)
       |  GROUP BY 1, 2),
       |tc AS (
       |  SELECT doc_id, tok, c FROM (
       |    SELECT doc_id, tok, c, COUNT(*) OVER (PARTITION BY tok) AS df FROM tc0)
       |  WHERE df <= $postingDfCap),
       |totals AS (SELECT doc_id, SUM(c) AS n_tok FROM tc GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    SUM(LEAST(a.c, b.c)) AS sum_min
       |  FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(sum_min AS BIGINT) AS sum_min,
       |  CAST(ta.n_tok AS BIGINT) AS n_a, CAST(tb.n_tok AS BIGINT) AS n_b,
       |  CAST(sum_min AS DOUBLE) / CAST(ta.n_tok + tb.n_tok - sum_min AS DOUBLE) AS w_jaccard
       |FROM pairs
       | JOIN totals ta ON ta.doc_id = doc_a
       | JOIN totals tb ON tb.doc_id = doc_b
       |WHERE CAST(sum_min AS DOUBLE) / CAST(ta.n_tok + tb.n_tok - sum_min AS DOUBLE)
       |      >= $threshold
       |ORDER BY w_jaccard DESC, doc_a, doc_b LIMIT 100""".stripMargin

  // === MinHash + LSH =======================================================
  val minhashK = 32
  val lshBands = 8
  val lshRows = 4 // minhashK / lshBands

  /** Per-document MinHash signature: array of k min-hashes, where hash i
    * of a shingle is md5(shingle + "#" + i) — an engine-portable hash
    * family (lexicographic min over hex digests), so the DuckDB oracle
    * computes the IDENTICAL signatures and dd3/dd7/dd8 are hash-checked
    * end-to-end rather than spec-only. Computed with k aggregate
    * columns — a single map-side-combinable group-by on doc_id. (The
    * xxhash64 family is ~3x cheaper per hash; md5 is the price of an
    * engine-portable oracle, still map-only and shuffle-free.)
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val mins = (0 until minhashK).map { i =>
      min(md5(concat_ws("#", col("shingle"), lit(i.toString)))).as(s"h$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until minhashK).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: documents sharing any band bucket. Each band key
    * is a hash of `lshRows` consecutive signature values; the explode is a
    * constant factor of `lshBands` rows per document.
    */
  /** The (doc_id, band, band_key) bucket stream for every document —
    * ONE definition shared by dd3's all-pairs join and dd12's
    * batch-restricted probe (a divergent copy would silently change
    * both candidate sets).
    */
  def bandedKeys(s: SparkSession, dir: String, wide: Boolean = false): DataFrame =
    bandedKeysOf(t(s, dir, "documents"), wide)

  /** DataFrame-based banding over any documents frame — the body of
    * [[bandedKeys]], kept separate from the corpus table read.
    */
  def bandedKeysOf(docs: DataFrame, wide: Boolean = false): DataFrame =
    bandedKeysOfSig(minhashSignatures(shinglesOf(docs, dedup = false, wide = wide)))

  /** Band keys from an already-built signature frame — factored so a
    * consumer that needs the signatures AGAIN (dd18's estimate join)
    * can plan banding and the joins over ONE shared sig subtree.
    */
  def bandedKeysOfSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(
      array((0 until lshBands).map { b =>
        md5(concat_ws("|", (b * lshRows until (b + 1) * lshRows)
          .map(i => element_at(col("sig"), i + 1)): _*))
      }: _*)).as(Seq("band", "band_key")))
      .repartition(shuffleWidth(sig), col("band"), col("band_key")) // pinned: band join fans out

  def minhashLsh(s: SparkSession, dir: String, wide: Boolean = false): DataFrame =
    lshPairsOf(bandedKeys(s, dir, wide))

  /** The band-bucket self-join over a prebuilt band frame — factored
    * with [[bandedKeysOfSig]] for single-sig-subtree consumers.
    */
  def lshPairsOf(banded: DataFrame): DataFrame = {
    val a = banded.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_band_hits"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB mirror of shingles(dedup=false) + minhashSignatures +
    * banding — shared by the dd3/dd7/dd8 oracles. Exposes CTEs
    * `sh`, `sig`, `bands`, and `lsh_pairs` (== minhashLsh's output).
    */
  def minhashLshSqlCtes: String = {
    val minExprs = (0 until minhashK)
      .map(i => s"MIN(md5(shingle || '#$i')) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until lshBands).map { b =>
      val parts = (b * lshRows until (b + 1) * lshRows).map(i => s"h$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |    $minExprs
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |lsh_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_band_hits
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  def minhashLshSql: String =
    s"""WITH $minhashLshSqlCtes
       |SELECT doc_a, doc_b, CAST(n_band_hits AS BIGINT) AS n_band_hits
       |FROM lsh_pairs ORDER BY doc_a, doc_b""".stripMargin

  /** Estimated Jaccard from MinHash signatures for candidate pairs
    * (fraction of agreeing components) — used by DedupSpec to validate the
    * sketch against exact Jaccard.
    */
  def minhashEstimate(s: SparkSession, dir: String): DataFrame = {
    // The signature frame feeds THREE consumers (banding and both
    // estimate probes) and plans three times. Both de-duplication
    // moves were A/B'd in r20 and REJECTED: a shared pinned exchange
    // is pruned by adjacent-exchange elimination (every consumer
    // re-shuffles differently — plan unchanged), and an eager
    // localCheckpoint (which forces the consumer into the bench's
    // rebuild-per-run tier) measured 5.1 s per rebuild vs 2.0 s for
    // the warm pinned re-execution of the duplicated DAG. The
    // duplication is the cheaper regime under warm codegen.
    val sig = minhashSignatures(shingles(s, dir, dedup = false))
    val a = sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    lshPairsOf(bandedKeysOfSig(sig))
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast(DoubleType) / minhashK)
      .select(col("doc_a"), col("doc_b"), col("n_band_hits"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // === SimHash =============================================================
  val simhashBits = 60 // 15 hex chars of md5 — fits BIGINT on both engines

  /** 60-bit SimHash per document: sign of per-bit vote sums over token
    * hashes. Pure column expressions (60 conditional sums in one group-by).
    *
    * The token hash is the first 15 hex chars of md5 parsed as an
    * integer — an engine-portable family (same tradeoff as the dd3
    * MinHash: ~3x the per-hash cost of xxhash64, bought back as a
    * DuckDB oracle computing IDENTICAL signatures, so dd4 is
    * hash-checked end-to-end). 60 bits rather than 64 because a full
    * 16-char parse overflows signed BIGINT — Spark's conv would wrap
    * while DuckDB errors.
    */
  def simhashSignatures(s: SparkSession, dir: String, wide: Boolean = false): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = (if (wide) Par.fanOutWide(docs) else fanOut(docs))
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType))
    val votes = (0 until simhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")
    }
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until simhashBits).map { i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)
        }.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Near-dup candidates within Hamming distance 3 via the 4-chunk
    * pigeonhole band join (any pair with distance <= 3 must agree on at
    * least one 15-bit chunk).
    */
  def simhashPairs(s: SparkSession, dir: String, wide: Boolean = false): DataFrame = {
    val sig = simhashSignatures(s, dir, wide)
    val chunks = sig.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until 4).map(c => shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(0x7FFF)): _*))
      .as(Seq("chunk", "chunk_val")))
    val pinned = chunks
      .repartition(shuffleWidth(sig), col("chunk"), col("chunk_val")) // pinned: chunk join fans out
    val a = pinned.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"), col("chunk"), col("chunk_val"))
    val b = pinned.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"), col("chunk"), col("chunk_val"))
    val hamming = {
      val x = col("sh_a").bitwiseXOR(col("sh_b"))
      bit_count(x)
    }
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", hamming.cast(IntegerType))
      .filter(col("hamming") <= 16)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Shared SQL fragment builders for the SimHash family — ONE
    * definition consumed by the dd4 oracle and dd17's multi-tier oracle
    * (a divergent copy would silently desynchronize dd17's oracle from
    * the simhashPairs code its Spark side reuses — the kmv1/bf1 lesson).
    */
  private def simhashVotesSql: String = (0 until simhashBits)
    .map(i => s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS v$i")
    .mkString(",\n    ")
  private def simhashExprSql: String = (0 until simhashBits)
    .map(i => s"CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END")
    .mkString(" + ")
  private def simhashChunkSelectsSql: String = (0 until 4).map { c =>
    s"SELECT doc_id, sim, $c AS chunk, (sim >> ${c * 15}) & 32767 AS chunk_val FROM sim"
  }.mkString("\n  UNION ALL\n  ")

  /** dd4 oracle: DuckDB mirror of the portable-hash SimHash — identical
    * token split, md5-prefix hash, vote sums, pigeonhole chunks, and
    * Hamming filter, so the driver hash-checks the sketch end-to-end.
    */
  def simhashPairsSql: String = {
    val votes = simhashVotesSql
    val simExpr = simhashExprSql
    val chunkSelects = simhashChunkSelectsSql
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents),
       |hashes AS (
       |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hashes GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simExpr AS sim FROM votes),
       |chunks AS (
       |  $chunkSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sh_a, b.sim AS sh_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 16
       |ORDER BY hamming, doc_a, doc_b""".stripMargin
  }

  // === embedding-cosine near-dup ===========================================
  val ndTables = 32
  val ndPlanes = 4

  /** Near-duplicate pairs by embedding cosine >= threshold, candidates
    * from the multi-table hyperplane LSH index (Similarity.lshBuckets):
    * a pair is examined only when it shares some (table, bucket) —
    * never the all-pairs cross join. 32 tables x 4 sign bits catch a
    * boundary pair (cos = 0.3) with p ~ 0.987 per table-set and
    * essentially always above it; recall vs the exact all-pairs oracle
    * is asserted >= 0.95 in DedupSpec. The band join ships only
    * (id, tbl, bucket); vectors re-join AFTER pair dedup.
    *
    * The oracle regenerates the IDENTICAL candidate set (the LCG planes
    * are three lines of exact integer SQL — Similarity.sqlPlaneComponent)
    * so both engines compute the same pairs bit-for-bit. At 100 TB,
    * raise `planes` with log(n) to keep bucket sizes bounded and swap
    * the threshold up for true near-dup semantics.
    */
  def embeddingNearDup(s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val e = fanOut(t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v")))
    // norms once per vector, not twice per candidate pair — sqrt(na*nb)
    // over the same doubles is bit-identical to the inline cosine
    val en = e.withColumn("nrm", Similarity.dot(col("v"), col("v")))
    // both pinned exchanges at wideWidth (r21): the bucket join's
    // candidate fan-out and the pair dedup are CPU-bound single-query
    // stages — at cores/4 tasks they left 3/4 of the machine idle
    // (A/B sf0.1 warm-min 1.18 -> 0.83 s; the bs1 fanOutWide
    // precedent, keyed form). At cluster scale shuffle.partitions
    // dominates the max and this is the plain shuffleWidth pin.
    val np = Par.wideWidth(e)
    val idx = Similarity.lshBuckets(e, ndTables, ndPlanes)
      .select(col("vec_id"), col("tbl"), col("bucket"))
      .repartition(np, col("tbl"), col("bucket")) // pinned: bucket join fans out
    val cand = idx.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
      .join(idx.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .repartition(np, col("id_a"), col("id_b")) // pinned: millions of pre-distinct pairs
      .distinct()
    cand
      .join(en.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(en.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"),
        Exact.dround(col("cos"), 6).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact all-pairs ground truth — DedupSpec's recall oracle ONLY (the
    * registered query never plans a cartesian product).
    */
  def embeddingNearDupAllPairs(s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"),
        Exact.dround(col("cos"), 6).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def embeddingNearDupSql(threshold: Double = 0.3): String = {
    val nPl = ndTables * ndPlanes
    s"""WITH RECURSIVE ${Similarity.sqlPlanesCte(nPl)},
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (
       |  SELECT e.vec_id, (pl.p // $ndPlanes) AS tbl,
       |    CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |             THEN (1 << (pl.p % $ndPlanes)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, pl GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sig a JOIN sig b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b,
       |  ${Exact.sqlDround(
             "list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))", 6)}
       |    AS cos_sim
       |FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
       |WHERE list_dot_product(a.v, b.v)
       |    / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // === duplicate clustering (connected components) =========================
  /** Connected components over a candidate-pair edge list — the final
    * stage of the LSH dedup pipeline (SURVEY §7.5 "MinHash-LSH +
    * connected components"): every document gets the minimum doc_id of
    * its duplicate cluster as the canonical representative.
    *
    * Iterative min-label propagation (the dataframe form of
    * large-star/small-star): each round joins labels across edges and
    * keeps the per-node minimum; converges in O(log n) rounds for the
    * short chains dedup produces. Each round is one shuffle on doc_id —
    * no driver-side graph state, so 100 TB of edges partitions cleanly.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20,
      driverThreshold: Long = 1000000L): DataFrame = {
    // undirected edge list, both directions
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .cache()
    // The candidate-pair edge list is orders of magnitude smaller than
    // the corpus (LSH already pruned it); below the threshold a driver
    // union-find beats log(n) distributed rounds of stage overhead. The
    // loop below stays the path for genuinely huge edge sets.
    // The count() doubles as the cache materialization (parallel); the
    // node set is then derived from the collected edges in the driver,
    // dropping the old edges.select(src).distinct() job + exchange per
    // build — dd7/dd8/dd17/fld2/pipe1/2 all pay this (guide §1.2 fewer
    // passes). A limit(threshold+1)-collect single-job variant was
    // A/B'd and rejected: CollectLimit's incremental single-threaded
    // gather read 2.13 -> 2.47 s on dd7.
    val nEdges = edges.count()
    if (nEdges <= driverThreshold) {
      val fetched = edges.collect()
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // nodes = distinct src over BOTH directions (the edge list is
      // already symmetrized), derived from the collected rows — same
      // set the old edges.select(src).distinct() job produced
      val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
      fetched.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        nodes += a
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      edges.unpersist()
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.parallelize(nodes.toSeq.map(n => Row(n, find(n))), 1),
        StructType(Seq(StructField("doc_id", LongType), StructField("component", LongType))))
    }
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("component", col("doc_id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // each node adopts the min of its own and its neighbors' labels
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("component")).as("n_comp"))
      val propagated = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"))
      // pointer jumping: comp := label(comp) — doubles the propagation
      // distance per round, so convergence is O(log diameter) rounds
      val updated = propagated.alias("a")
        .join(propagated.select(col("doc_id").as("component"), col("component").as("jump")).alias("b"),
          Seq("component"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("jump"), col("component"))).as("component"))
        .cache()
      val changed = updated.alias("u")
        .join(labels.alias("l"), Seq("doc_id"))
        .filter(col("u.component") =!= col("l.component"))
        .limit(1).count() > 0
      labels.unpersist()
      labels = updated
      converged = !changed
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** dd7: duplicate clusters from the MinHash-LSH candidate pairs —
    * (doc_id, canonical_id) for every document in a near-dup cluster.
    */
  def duplicateClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLsh(s, dir, wide = true).filter(col("n_band_hits") >= 2))
      .select(col("doc_id"), col("component").as("canonical_id"))
      .orderBy(col("doc_id"))

  /** dd8: the complete dedup decision — one row per document with its
    * keep/drop verdict and reason: exact duplicates keep only the
    * minimum doc_id of each content hash; near-dup clusters (dd7) keep
    * only the canonical member. This is the composite output a training
    * pipeline consumes; every stage is the already-verified operator.
    */
  def dedupKeepList(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val exactCanon = t(s, dir, "documents")
      .groupBy(canonicalHash.as("h"))
      .agg(min(col("doc_id")).as("keep_id"), collect_list(col("doc_id")).as("members"))
      .select(explode(col("members")).as("doc_id"), col("keep_id"))
    val near = duplicateClusters(s, dir)
    docs
      .join(exactCanon, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") === col("keep_id")).as("exact_canonical"),
        coalesce(col("canonical_id") === col("doc_id"), lit(true)).as("near_canonical"))
      .withColumn("keep", col("exact_canonical") && col("near_canonical"))
      .withColumn("drop_reason",
        when(!col("exact_canonical"), "exact_duplicate")
          .when(!col("near_canonical"), "near_duplicate")
          .otherwise(lit(null)))
      .select(col("doc_id"), col("keep"), col("drop_reason"))
      .orderBy(col("doc_id"))
  }

  // === blocked fuzzy matching (edit distance) ==============================
  /** Fuzzy near-dup part names within a blocking key (p_brand): the
    * classic entity-resolution shape — block to kill the O(n²) cross
    * join, then exact Levenshtein inside each block. At 100 TB the block
    * key is the shuffle partitioner and block sizes bound the quadratic
    * term; skewed blocks compose with Skew.saltedJoin.
    */
  def fuzzyNamePairs(s: SparkSession, dir: String, maxDist: Int = 8): DataFrame = {
    val p = t(s, dir, "part")
      .select(col("p_brand"), col("p_size"), col("p_partkey"), col("p_name"))
    val a = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, Seq("p_brand", "p_size"))
      .filter(col("key_a") < col("key_b") &&
        // cheap bound before the quadratic kernel: edit distance >=
        // length difference
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      // 3-arg levenshtein bails out early past the threshold (returns -1)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("p_brand"), col("p_size"), col("key_a"), col("key_b"), col("dist"))
      .orderBy(col("dist"), col("key_a"), col("key_b"))
      .limit(200)
  }

  def fuzzyNamePairsSql(maxDist: Int = 8): String =
    s"""SELECT a.p_brand, a.p_size, a.p_partkey AS key_a, b.p_partkey AS key_b,
       |  levenshtein(a.p_name, b.p_name) AS dist
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
       |WHERE levenshtein(a.p_name, b.p_name) <= $maxDist
       |ORDER BY dist, key_a, key_b LIMIT 200""".stripMargin

  /** dd7 oracle: the LSH pairs' connected components as a recursive-CTE
    * transitive closure (label = min reachable doc_id). Cluster sizes
    * are LSH-pruned, so the closure stays tiny in the oracle; the Spark
    * side scales via min-label propagation + pointer jumping.
    */
  val duplicateClustersSql: String =
    s"""WITH RECURSIVE $minhashLshSqlCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs WHERE n_band_hits >= 2
       |  UNION
       |  SELECT doc_b, doc_a FROM lsh_pairs WHERE n_band_hits >= 2),
       |reach(n, l) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n)
       |SELECT n AS doc_id, CAST(MIN(l) AS BIGINT) AS canonical_id
       |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin

  /** dd8 oracle: exact-dup canon (min doc_id per content hash) composed
    * with the near-dup closure, mirroring dedupKeepList's verdicts.
    */
  val dedupKeepListSql: String =
    s"""WITH RECURSIVE $minhashLshSqlCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs WHERE n_band_hits >= 2
       |  UNION
       |  SELECT doc_b, doc_a FROM lsh_pairs WHERE n_band_hits >= 2),
       |reach(n, l) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n),
       |clusters AS (SELECT n AS doc_id, MIN(l) AS canonical_id FROM reach GROUP BY n),
       |exact_canon AS (
       |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS keep_id
       |  FROM (SELECT doc_id, ${canonicalHashSql} AS h
       |        FROM documents) t)
       |SELECT d.doc_id,
       |  ((d.doc_id = ec.keep_id) AND COALESCE(c.canonical_id = d.doc_id, TRUE)) AS keep,
       |  CASE WHEN d.doc_id <> ec.keep_id THEN 'exact_duplicate'
       |       WHEN NOT COALESCE(c.canonical_id = d.doc_id, TRUE) THEN 'near_duplicate'
       |       ELSE NULL END AS drop_reason
       |FROM documents d
       |JOIN exact_canon ec ON ec.doc_id = d.doc_id
       |LEFT JOIN clusters c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // === soft dedup: duplicate-count training weights ========================
  /** dd9: soft deduplication — instead of DROPPING exact duplicates
    * (dd1/dd8), every document keeps weight 1/n_copies of its content
    * cluster, so a training loader samples duplicated content at the
    * same effective rate as unique content (the downweighting
    * alternative some pipelines prefer because it preserves corpus
    * coverage). One window count over the dd1 content hash — a single
    * map-side-combinable-equivalent shuffle on the hash key; payload
    * text never travels, and the weight is one IEEE division of exact
    * integers.
    */
  def dupWeights(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        canonicalHash.as("content_hash"))
      .withColumn("n_copies", count(lit(1)).over(w).cast(LongType))
      .select(col("doc_id"), col("n_copies"),
        (lit(1.0) / col("n_copies").cast(DoubleType)).as("weight"))
      .orderBy(col("doc_id"))
  }

  val dupWeightsSql: String =
    s"""SELECT doc_id,
       | CAST(COUNT(*) OVER (PARTITION BY $canonicalHashSql)
       |      AS BIGINT) AS n_copies,
       | 1.0 / CAST(COUNT(*) OVER (PARTITION BY $canonicalHashSql)
       |      AS DOUBLE) AS weight
       |FROM documents ORDER BY doc_id""".stripMargin

  // === asymmetric containment near-dup pairs ===============================
  /** dd10: shingle containment pairs — the asymmetric cousin of dd2's
    * Jaccard. Containment C(A→B) = |A∩B| / |A| catches the
    * quote-inclusion / wrapper-page case Jaccard misses: a short doc
    * fully embedded in a long one scores containment ~1.0 while the
    * size mismatch keeps Jaccard low. Same inverted-index join as dd2
    * (candidates share at least one shingle hash — never O(n²)), same
    * pinned exchange width for the pair explosion; both directions are
    * reported and the gate is on the larger one. Divisions are single
    * IEEE ops over exact integers, so the filter and ordering agree on
    * both engines.
    */
  def containmentPairs(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val sh = dfCapped( // hot-posting guard, see postingDfCap
      shingles(s, dir).select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        .repartition(shuffleWidth(t(s, dir, "documents")), col("shingle")),
      "shingle")
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("cont_a", col("n_common").cast(DoubleType) / col("n_a").cast(DoubleType))
      .withColumn("cont_b", col("n_common").cast(DoubleType) / col("n_b").cast(DoubleType))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common").cast(LongType).as("n_common"),
        col("cont_a"), col("cont_b"))
      .orderBy(greatest(col("cont_a"), col("cont_b")).desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  def containmentPairsSql(threshold: Double = 0.5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |shc AS (${dfCapSql("sh")}),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
       |    CAST(n_common AS DOUBLE) / CAST(ca.n_sh AS DOUBLE) AS cont_a,
       |    CAST(n_common AS DOUBLE) / CAST(cb.n_sh AS DOUBLE) AS cont_b
       |  FROM common
       |   JOIN counts ca ON ca.doc_id = doc_a
       |   JOIN counts cb ON cb.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_common, cont_a, cont_b
       |FROM sc WHERE GREATEST(cont_a, cont_b) >= $threshold
       |ORDER BY GREATEST(cont_a, cont_b) DESC, doc_a, doc_b LIMIT 100""".stripMargin

  // === dd11: normalized-prefix dedup =======================================
  /** Prefix near-dup sweep: documents whose whitespace-collapsed,
    * lower-cased first 80 characters collide are the "same doc, different
    * tail" family exact dedup misses (truncated mirrors, appended
    * boilerplate). One window over the prefix key — a single shuffle on
    * md5-distributed prefixes, no self-join — emits every non-keeper with
    * its group's keeper (min doc_id) and the group size.
    */
  def prefixDedup(s: SparkSession, dir: String): DataFrame = {
    val pref = substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 80)
    val w = Window.partitionBy(col("prefix"))
    fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), pref.as("prefix"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id"), col("group_size"))
      .orderBy(col("doc_id"))
  }

  val prefixDedupSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 80) AS prefix
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    MIN(doc_id) OVER (PARTITION BY prefix) AS keep_id,
      |    CAST(COUNT(*) OVER (PARTITION BY prefix) AS BIGINT) AS group_size
      |  FROM p)
      |SELECT doc_id, keep_id, group_size FROM g
      |WHERE doc_id <> keep_id ORDER BY doc_id""".stripMargin

  // === dd12: incremental batch admission ==================================
  /** The production ingest shape none of dd1–dd11 model directly: a NEW
    * batch (one source, here the newest crawl `src19`) arrives against
    * an EXISTING corpus, and each batch document is admitted only if it
    * is neither an exact duplicate (normalized-text md5, the dd1 key)
    * nor a near-duplicate candidate (dd3's MinHash-LSH pairs at the dd8
    * edge threshold of >= 2 band hits) of (a) any corpus document or
    * (b) any EARLIER batch document (lower doc_id — the deterministic
    * set-based tiebreak dd8 uses, not a sequential admit chain). The
    * verdict carries all four flags plus the first failing reason in
    * severity order, so an ingest job can report WHY each document was
    * rejected.
    *
    * Shape at 100 TB: the band probe is BATCH-restricted — one side of
    * the bucket join is only the batch's (doc, band, key) rows, so the
    * dominant corpus x corpus candidate mass is never generated (the
    * first draft filtered the full dd3 self-join after the fact, paying
    * a whole-corpus dedup per ingest). Batch-batch pairs surface twice
    * through the asymmetric join, so hits count DISTINCT bands — which
    * equals dd3's per-pair row count, since a document holds exactly
    * one key per band. The exact tier is two hash-keyed joins; source
    * classification rides the bounded pair output.
    */
  def incrementalDedup(s: SparkSession, dir: String,
      batchSource: String = "src19"): DataFrame = {
    val hx = t(s, dir, "documents").select(col("doc_id"), col("source"),
      canonicalHash.as("h"))
    val batch = hx.filter(col("source") === batchSource).select(col("doc_id"), col("h"))
    val corpusH = hx.filter(col("source") =!= batchSource)
      .select(col("h")).distinct().withColumn("ic", lit(true))
    val firstInBatch = batch.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    val srcOf = hx.select(col("doc_id"), col("source"))
    val bands = bandedKeys(s, dir, wide = true)
    val batchBands = bands.join(batch.select(col("doc_id")), "doc_id")
    val cand = batchBands.select(col("doc_id").as("p"), col("band"), col("band_key"))
      .join(bands.select(col("doc_id").as("q"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("doc_a"),
        greatest(col("p"), col("q")).as("doc_b"), col("band"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("band")).as("n_band_hits"))
      .filter(col("n_band_hits") >= 2)
      .join(srcOf.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(srcOf.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
    // ONE pass over cand instead of three filtered branches: each
    // reference to cand re-expanded the whole band-join subtree in the
    // plan — with bands referenced twice inside cand, the minhash
    // signature pipeline (shingles → 32 md5 mins → band keys) was
    // planned and EXECUTED six times per run (24 SortAggregates in the
    // before plan; guide §7.2 duplicated subtrees). The per-pair flag
    // explode classifies both near-dup kinds in a single subtree: a
    // batch doc paired with a corpus doc is near_vs_corpus (either
    // side), a batch-batch pair drops its later (greater) doc_id —
    // identical sets to the old union/distinct branches.
    val nearFlags = cand
      .select(explode(array(
        when(col("src_a") === batchSource && col("src_b") =!= batchSource,
          struct(col("doc_a").as("doc_id"), lit(true).as("isNc"))),
        when(col("src_b") === batchSource && col("src_a") =!= batchSource,
          struct(col("doc_b").as("doc_id"), lit(true).as("isNc"))),
        when(col("src_a") === batchSource && col("src_b") === batchSource,
          struct(col("doc_b").as("doc_id"), lit(false).as("isNc"))))).as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(max(when(col("x.isNc"), lit(true)).otherwise(lit(false))).as("hasNc"),
        max(when(!col("x.isNc"), lit(true)).otherwise(lit(false))).as("hasNb"))
      .select(col("doc_id"),
        when(col("hasNc"), lit(true)).as("nc"),
        when(col("hasNb"), lit(true)).as("nb"))
    batch
      .join(corpusH, Seq("h"), "left")
      .join(firstInBatch, "h")
      .join(nearFlags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ic"), lit(false)).as("exact_dup_corpus"),
        (col("doc_id") > col("first_id")).as("exact_dup_batch"),
        coalesce(col("nc"), lit(false)).as("near_cand_corpus"),
        coalesce(col("nb"), lit(false)).as("near_cand_batch"))
      .withColumn("admit",
        !col("exact_dup_corpus") && !col("exact_dup_batch") &&
          !col("near_cand_corpus") && !col("near_cand_batch"))
      .withColumn("drop_reason",
        when(col("exact_dup_corpus"), "exact_vs_corpus")
          .when(col("exact_dup_batch"), "exact_in_batch")
          .when(col("near_cand_corpus"), "near_vs_corpus")
          .when(col("near_cand_batch"), "near_in_batch")
          .otherwise(lit(null)))
      .orderBy(col("doc_id"))
  }

  def incrementalDedupSql(batchSource: String = "src19"): String =
    s"""WITH $minhashLshSqlCtes,
       |hx AS (
       |  SELECT doc_id, source,
       |    ${canonicalHashSql} AS h
       |  FROM documents),
       |batch AS (SELECT doc_id, h FROM hx WHERE source = '$batchSource'),
       |corpus_h AS (SELECT DISTINCT h FROM hx WHERE source <> '$batchSource'),
       |firstb AS (SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY 1),
       |cand AS (
       |  SELECT p.doc_a, p.doc_b, sa.source AS src_a, sb.source AS src_b
       |  FROM lsh_pairs p
       |  JOIN hx sa ON p.doc_a = sa.doc_id
       |  JOIN hx sb ON p.doc_b = sb.doc_id
       |  WHERE p.n_band_hits >= 2),
       |near_c AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    WHERE src_a = '$batchSource' AND src_b <> '$batchSource'
       |    UNION ALL
       |    SELECT doc_b FROM cand
       |    WHERE src_b = '$batchSource' AND src_a <> '$batchSource') t),
       |near_b AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM cand
       |  WHERE src_a = '$batchSource' AND src_b = '$batchSource')
       |SELECT b.doc_id,
       |  (ch.h IS NOT NULL) AS exact_dup_corpus,
       |  (b.doc_id > f.first_id) AS exact_dup_batch,
       |  (nc.doc_id IS NOT NULL) AS near_cand_corpus,
       |  (nb.doc_id IS NOT NULL) AS near_cand_batch,
       |  (ch.h IS NULL AND b.doc_id = f.first_id
       |   AND nc.doc_id IS NULL AND nb.doc_id IS NULL) AS admit,
       |  CASE WHEN ch.h IS NOT NULL THEN 'exact_vs_corpus'
       |       WHEN b.doc_id > f.first_id THEN 'exact_in_batch'
       |       WHEN nc.doc_id IS NOT NULL THEN 'near_vs_corpus'
       |       WHEN nb.doc_id IS NOT NULL THEN 'near_in_batch'
       |       ELSE NULL END AS drop_reason
       |FROM batch b
       |LEFT JOIN corpus_h ch USING (h)
       |JOIN firstb f USING (h)
       |LEFT JOIN near_c nc USING (doc_id)
       |LEFT JOIN near_b nb USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // === fld2: leakage-safe cluster-aware fold split =========================
  val clusterFolds = 5

  /** fld2: the train/eval split that cannot leak near-duplicates across
    * folds — the mistake fld1's plain per-document split makes by
    * construction (a document and its near-copy land in different folds
    * and the eval fold scores memorization). The fold key is the
    * document's DEDUP CLUSTER: connected components over the union of
    * dd3's >= 2-band near-dup edges (dd8's threshold) and the exact
    * content-hash groups, so any two documents dd8 would call the same
    * content share one deterministic md5-coin fold. Isolated documents
    * are their own cluster. Scale shape: the edge set is LSH-pruned
    * (never all-pairs), components run through dd7's engine
    * (driver-stepped below 1 M edges, distributed above), and the fold
    * coin is the cluster-invariant md5 fraction.
    */
  def clusterSplit(s: SparkSession, dir: String, k: Int = clusterFolds): DataFrame = {
    val near = minhashLsh(s, dir, wide = true).filter(col("n_band_hits") >= 2)
      .select(col("doc_a"), col("doc_b"))
    val hx = t(s, dir, "documents").select(col("doc_id"),
      canonicalHash.as("h"))
    val exactEdges = hx
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("doc_a"), col("keep_id").as("doc_b"))
    val comp = connectedComponents(near.unionByName(exactEdges))
    t(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("fold",
        floor(TextAnalysis.md5Frac(lit("fld2"), col("cluster_id")) * k).cast(IntegerType))
      .orderBy(col("doc_id"))
  }

  def clusterSplitSql(k: Int = clusterFolds): String = {
    val coin = TextAnalysis.sqlMd5Frac("'fld2'", "CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)")
    s"""WITH RECURSIVE $minhashLshSqlCtes,
       |nedges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM lsh_pairs WHERE n_band_hits >= 2
       |  UNION
       |  SELECT doc_b, doc_a FROM lsh_pairs WHERE n_band_hits >= 2),
       |hx AS (SELECT doc_id, ${canonicalHashSql} AS h
       |       FROM documents),
       |ek AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM hx),
       |eedges AS (
       |  SELECT doc_id AS s, keep_id AS d FROM ek WHERE doc_id <> keep_id
       |  UNION
       |  SELECT keep_id, doc_id FROM ek WHERE doc_id <> keep_id),
       |edges AS (SELECT s, d FROM nedges UNION SELECT s, d FROM eedges),
       |reach(n, l) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n),
       |clusters AS (SELECT n AS doc_id, MIN(l) AS comp FROM reach GROUP BY n)
       |SELECT d.doc_id,
       |  CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS cluster_id,
       |  CAST(FLOOR($coin * $k) AS INTEGER) AS fold
       |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // === dd13: canonical-URL dedup ===========================================
  /** URL canonicalization + keying — the pre-dedup stage every crawl
    * pipeline runs BEFORE content dedup (the same page is fetched under
    * scheme/www/port/utm/fragment/trailing-slash variants; CommonCrawl
    * dedups by canonical URL first). The corpus carries no URL column, so
    * each document derives a deterministic RAW url from (source, doc_id)
    * that exercises every variant class — both engines build the
    * identical string, so the canonicalizer itself is what's verified.
    *
    * Canonical steps (each one regexp_replace, the standard chain):
    * lowercase; strip scheme; strip leading www.; strip fragment; strip
    * default ports :80/:443; strip utm_* params (other params survive);
    * collapse the dangling '?'/'&' separators; strip the trailing slash.
    *
    * Scale shape: the canonicalization is MAP-ONLY codegen'd string work
    * fused into the scan; the keep verdict is one exchange on the
    * canonical key (window-carried group count + min — no join back).
    */
  def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val raw = concat(
      when(id % 2 === 0, lit("https://")).otherwise(lit("http://")),
      when(id % 3 === 0, lit("www.")).otherwise(lit("")),
      when(id % 5 === 0, lit("Docs.Example.COM")).otherwise(lit("docs.example.com")),
      when(id % 7 === 0, when(id % 2 === 0, lit(":443")).otherwise(lit(":80"))).otherwise(lit("")),
      lit("/"), col("source"), lit("/"), (id % 100).cast(StringType),
      when(id % 4 === 0, lit("/")).otherwise(lit("")),
      when(id % 6 === 0, lit("?utm_source=feed&utm_campaign=mix&ref=rss"))
        .when(id % 6 === 1, lit("?ref=rss")).otherwise(lit("")),
      when(id % 11 === 0, lit("#fragment")).otherwise(lit("")))
    val canon = {
      val c0 = lower(raw)
      val c1 = regexp_replace(c0, "^https?://", "")
      val c2 = regexp_replace(c1, "^www\\.", "")
      val c3 = regexp_replace(c2, "#.*$", "")
      val c4 = regexp_replace(c3, "^([^/:?]+):(?:80|443)", "$1")
      val c5 = regexp_replace(c4, "utm_[a-z]+=[^&#]*&?", "")
      val c6 = regexp_replace(c5, "[?&]$", "")
      val c7 = regexp_replace(c6, "\\?&", "?")
      val c8 = regexp_replace(c7, "/\\?", "?")
      regexp_replace(c8, "/$", "")
    }
    val w = Window.partitionBy(col("canon_url"))
    t(s, dir, "documents").select(id, canon.as("canon_url"))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("keep", id === min(id).over(w))
      .orderBy(id)
  }

  val urlCanonicalDedupSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN 'Docs.Example.COM' ELSE 'docs.example.com' END)
      |    || (CASE WHEN doc_id % 7 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END)
      |    || '/' || source || '/' || CAST(doc_id % 100 AS VARCHAR)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&utm_campaign=mix&ref=rss'
      |             WHEN doc_id % 6 = 1 THEN '?ref=rss' ELSE '' END)
      |    || (CASE WHEN doc_id % 11 = 0 THEN '#fragment' ELSE '' END) AS u
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                regexp_replace(
      |                  regexp_replace(
      |                    regexp_replace(lower(u), '^https?://', ''),
      |                    '^www\.', ''),
      |                  '#.*$', ''),
      |                '^([^/:?]+):(?:80|443)', '\1'),
      |              'utm_[a-z]+=[^&#]*&?', '', 'g'),
      |            '[?&]$', ''),
      |          '\?&', '?'),
      |        '/\?', '?'),
      |      '/$', '') AS canon_url
      |  FROM raw)
      |SELECT doc_id, canon_url,
      |  COUNT(*) OVER (PARTITION BY canon_url) AS n_dups,
      |  (doc_id = MIN(doc_id) OVER (PARTITION BY canon_url)) AS keep
      |FROM canon ORDER BY doc_id""".stripMargin

  // === dd14: canonicalized-text exact tier =================================
  /** Aggressive text canonicalization before exact hashing — the tier
    * between dd1 (whitespace-normalized exact) and the near-dup families:
    * lowercase, strip everything but [a-z0-9 ] (punctuation/casing
    * variants of the same content collapse), collapse runs of spaces,
    * trim, md5. Output feeds the same keep-list shape as dd8/dd12 — one
    * row per document with its canonical content key and verdict.
    * Map-only canonicalization fused into the scan + one exchange on the
    * canonical hash.
    */
  def canonicalTextDedup(s: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val w = Window.partitionBy(col("canon_hash"))
    t(s, dir, "documents").select(col("doc_id"), md5(canon).as("canon_hash"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy(col("doc_id"))
  }

  val canonicalTextDedupSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(
      |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |      ' +', ' ', 'g'))) AS canon_hash
      |  FROM documents)
      |SELECT doc_id, canon_hash,
      |  COUNT(*) OVER (PARTITION BY canon_hash) AS n_copies,
      |  (doc_id = MIN(doc_id) OVER (PARTITION BY canon_hash)) AS keep
      |FROM c ORDER BY doc_id""".stripMargin

  // === leak1: cross-split near-dup leakage ==================================
  /** Train/validation leakage through NEAR-duplicates: dd3's LSH
    * candidate pairs joined to fld1's deterministic k-fold assignment —
    * every pair whose two docs land in different folds leaks shared
    * content across the split (the contamination cont1-3 cannot see,
    * because it is not benchmark text — it is the corpus duplicating
    * itself across its own splits; the standard fix is fld2's
    * cluster-aware split, and this operator is the AUDIT that says
    * whether you need it).
    *
    * Output: candidate-pair counts per unordered fold pair plus each
    * cell's share — off-diagonal mass IS the leakage. Shape at 100 TB:
    * the heavy stages are dd3's banded LSH join (never all-pairs) and
    * two doc-keyed joins onto the map-only fold assignment; the fold
    * matrix is ≤ C(folds+1, 2) rows, so the share window is driver-tiny.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(s, dir, wide = true).select(col("doc_a"), col("doc_b"))
    val folds = Analytics.kfoldSplit(s, dir).select(col("doc_id"), col("fold"))
    val wAll = Window.partitionBy()
    pairs
      .join(folds.select(col("doc_id").as("doc_a"), col("fold").as("fold_a")), "doc_a")
      .join(folds.select(col("doc_id").as("doc_b"), col("fold").as("fold_b")), "doc_b")
      .select(least(col("fold_a"), col("fold_b")).as("fold_lo"),
        greatest(col("fold_a"), col("fold_b")).as("fold_hi"))
      .groupBy(col("fold_lo"), col("fold_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pair_share",
        col("n_pairs").cast(DoubleType) / sum(col("n_pairs")).over(wAll).cast(DoubleType))
      .orderBy(col("fold_lo"), col("fold_hi"))
  }

  def splitLeakageSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'fld1'", "lang", "CAST(doc_id AS VARCHAR)")
    s"""WITH $minhashLshSqlCtes,
       |folds AS (
       |  SELECT doc_id, CAST(FLOOR($coin * 5) AS INTEGER) AS fold FROM documents),
       |fp AS (
       |  SELECT LEAST(fa.fold, fb.fold) AS fold_lo,
       |         GREATEST(fa.fold, fb.fold) AS fold_hi
       |  FROM lsh_pairs p
       |  JOIN folds fa ON fa.doc_id = p.doc_a
       |  JOIN folds fb ON fb.doc_id = p.doc_b),
       |agg AS (SELECT fold_lo, fold_hi, COUNT(*) AS n FROM fp GROUP BY 1, 2)
       |SELECT fold_lo, fold_hi, CAST(n AS BIGINT) AS n_pairs,
       |  CAST(n AS DOUBLE) / CAST((SELECT SUM(n) FROM agg) AS DOUBLE) AS pair_share
       |FROM agg ORDER BY fold_lo, fold_hi""".stripMargin
  }

  // === dd16: winnowing fingerprint pairs ===================================
  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 — the MOSS local-fingerprinting algorithm): hash every
    * positioned 3-token shingle (md5 — the engine-portable family dd3
    * uses) and select the MINIMUM hash of each window of w=4 consecutive
    * positions; the distinct selected hashes are the document's
    * fingerprint set. The guarantee local sampling (span1) lacks: any
    * shared token run of length w+k−1 = 6 is CAUGHT by at least one
    * shared fingerprint, while only ~2/(w+1) of all hashes are kept.
    * Output: pairs sharing ≥ 2 fingerprints, scored by
    * shared / min(|fp_a|, |fp_b|) (containment over the winnowed sets).
    *
    * Shape at 100 TB: one corpus scan → map-only positioned hashing →
    * per-doc forward-frame window (partition-parallel by doc) →
    * distinct → inverted-index self-join on the fingerprint (the dd2
    * shape; exchange width pinned — AQE sizes by input bytes and this
    * join's OUTPUT explodes) → bounded pair aggregate.
    */
  def winnowPairs(s: SparkSession, dir: String, w: Int = 4): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    def el(i: Column) = element_at(col("toks"), i)
    val hp = fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => md5(concat_ws(" ", el(i), el(i + 1), el(i + 2))))).as(Seq("pos", "h")))
    val perDoc = Window.partitionBy(col("doc_id"))
    val frame = perDoc.orderBy(col("pos")).rowsBetween(0, w - 1)
    val fp = dfCapped( // hot-posting guard, see postingDfCap
      hp
        .withColumn("cnt", count(lit(1)).over(perDoc))
        .withColumn("fp", min(col("h")).over(frame))
        .filter(col("pos") <= col("cnt") - w) // full windows only (pos is 0-based)
        .select(col("doc_id"), col("fp")).distinct()
        .repartition(shuffleWidth(hp), col("fp")),
      "fp")
    val nfp = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    fp.select(col("doc_id").as("doc_a"), col("fp"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .join(nfp.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a")), "doc_a")
      .join(nfp.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b")), "doc_b")
      .withColumn("overlap",
        col("n_shared").cast(DoubleType) / least(col("n_fp_a"), col("n_fp_b")))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"), col("overlap"))
      .orderBy(col("overlap").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  def winnowPairsSql(w: Int = 4): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |hp AS (
       |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |      i -> {'pos': i, 'h': md5(concat_ws(' ', t[i], t[i+1], t[i+2]))})) AS u
       |    FROM toks WHERE len(t) >= 3) s),
       |wm AS (
       |  SELECT doc_id, pos,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS cnt
       |  FROM hp),
       |fp AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= cnt - $w + 1),
       |fpc AS (${dfCapSql("fp", "fp")}),
       |nfp AS (SELECT doc_id, COUNT(*) AS n_fp FROM fpc GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       |  CAST(na.n_fp AS BIGINT) AS n_fp_a, CAST(nb.n_fp AS BIGINT) AS n_fp_b,
       |  CAST(n_shared AS DOUBLE) / LEAST(na.n_fp, nb.n_fp) AS overlap
       |FROM pairs
       | JOIN nfp na ON na.doc_id = doc_a
       | JOIN nfp nb ON nb.doc_id = doc_b
       |WHERE n_shared >= 2
       |ORDER BY overlap DESC, doc_a, doc_b LIMIT 100""".stripMargin

  // === dd18: MinHash sketch calibration ====================================
  /** Sketch-accuracy monitoring: for every dd3 candidate pair, the
    * MinHash ESTIMATE (signature agreement / k — exact by construction:
    * an integer divided by the power-of-two 32) against the EXACT
    * shingle Jaccard, aggregated into true-Jaccard deciles with
    * count, mean estimate, mean exact, and mean |error| per bucket
    * (Exact.davg — order-independent micros sums, engine-portable).
    * The audit that tells a deployment when k or the band layout needs
    * retuning (E|err| ≈ sqrt(J(1-J)/k) — the binomial envelope the
    * spec checks). sim9 plays this role for the ANN index; dd18 for
    * the dedup sketch.
    * Shape at 100 TB: runs the dd2 inverted-index join and the dd3
    * band join (both bucketed, never all-pairs) — an AUDIT tier run
    * over a sample or partition slice at full scale, like sim9.
    */
  def sketchCalibration(s: SparkSession, dir: String): DataFrame = {
    val est = minhashEstimate(s, dir)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val shd = dfCapped( // hot-posting guard, see postingDfCap
      shingles(s, dir)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        .repartition(shuffleWidth(t(s, dir, "documents")), col("shingle")),
      "shingle")
    val counts = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = shd.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(shd.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val exact = common
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast(DoubleType)
          / (col("n_a") + col("n_b") - col("n_common"))).as("exact_jaccard"))
    est.join(exact, Seq("doc_a", "doc_b"), "left")
      .select(col("est_jaccard"), coalesce(col("exact_jaccard"), lit(0.0)).as("exact_jaccard"))
      .withColumn("bucket", floor(col("exact_jaccard") * 10).cast(LongType))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        Exact.davg(col("est_jaccard")).as("mean_est"),
        Exact.davg(col("exact_jaccard")).as("mean_exact"),
        Exact.davg(abs(col("est_jaccard") - col("exact_jaccard"))).as("mean_abs_err"))
      .orderBy(col("bucket"))
  }

  def sketchCalibrationSql: String = {
    val agree = (0 until minhashK).map(i =>
      s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashLshSqlCtes,
       |est AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(($agree) AS DOUBLE) / $minhashK AS est_jaccard
       |  FROM lsh_pairs p JOIN sig a ON a.doc_id = p.doc_a
       |                   JOIN sig b ON b.doc_id = p.doc_b),
       |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
       |shdc AS (${dfCapSql("shd")}),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shdc GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM shdc a JOIN shdc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT doc_a, doc_b,
       |    CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) AS exact_jaccard
       |  FROM common
       |   JOIN counts ca ON ca.doc_id = doc_a
       |   JOIN counts cb ON cb.doc_id = doc_b),
       |j AS (
       |  SELECT est_jaccard, COALESCE(exact_jaccard, 0.0) AS exact_jaccard,
       |    CAST(FLOOR(COALESCE(exact_jaccard, 0.0) * 10) AS BIGINT) AS bucket
       |  FROM est LEFT JOIN exact USING (doc_a, doc_b))
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  ${Exact.sqlDavg("est_jaccard")} AS mean_est,
       |  ${Exact.sqlDavg("exact_jaccard")} AS mean_exact,
       |  ${Exact.sqlDavg("abs(est_jaccard - exact_jaccard)")} AS mean_abs_err
       |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // === dd17: multi-tier duplicate clusters =================================
  /** The production composite of the DOCUMENT evidence tiers: exact
    * (dd1's normalized-text hash), MinHash-LSH (dd3 at dd8's ≥ 2-band
    * edge threshold) and SimHash (dd4's candidates at hamming ≤ 8 — a
    * duplicate bar, tighter than dd4's ≤ 16 listing) edges UNIONED into
    * one graph, then connected components. A pair caught by ANY tier
    * lands in one cluster — the cross-evidence canonicalization a real
    * pipeline runs (each tier has recall the others lack: exact catches
    * whitespace-only mirrors LSH can miss at low shingle overlap,
    * SimHash catches token-reorder near-dups banding can miss).
    * Output: every clustered document with its canonical (min) id and
    * cluster size.
    * Shape at 100 TB: every tier is already bucketed/banded (none
    * all-pairs); the union is edge-count-bounded input to the
    * components engine (driver union-find ≤ 1 M edges, distributed
    * min-label + pointer jumping above).
    */
  def multiTierClusters(s: SparkSession, dir: String): DataFrame = {
    val exW = Window.partitionBy(col("h"))
    val exactEdges = t(s, dir, "documents")
      .select(col("doc_id"), canonicalHash.as("h"))
      .withColumn("a", min(col("doc_id")).over(exW))
      .filter(col("a") < col("doc_id"))
      .select(col("a").as("doc_a"), col("doc_id").as("doc_b"))
    val lshEdges = minhashLsh(s, dir, wide = true).filter(col("n_band_hits") >= 2)
      .select(col("doc_a"), col("doc_b"))
    val shEdges = simhashPairs(s, dir, wide = true).filter(col("hamming") <= 8)
      .select(col("doc_a"), col("doc_b"))
    val comp = connectedComponents(exactEdges.union(lshEdges).union(shEdges).distinct())
    comp
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component").as("canonical_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** dd17 oracle: the same three edge tiers (the dd3 CTE stack, dd4's
    * SimHash rebuilt off the shared `toks`, the dd1 window) unioned into
    * the recursive-CTE closure dd7 uses.
    */
  def multiTierClustersSql: String = {
    val votes = simhashVotesSql
    val simExpr = simhashExprSql
    val chunkSelects = simhashChunkSelectsSql
    s"""WITH RECURSIVE $minhashLshSqlCtes,
       |hashes AS (
       |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks) u),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hashes GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simExpr AS sim FROM votes),
       |chunks AS (
       |  $chunkSelects),
       |sh_pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sim, b.sim)) <= 8),
       |exg AS (
       |  SELECT doc_id,
       |    MIN(doc_id) OVER (PARTITION BY h2) AS a
       |  FROM (SELECT doc_id, ${canonicalHashSql} AS h2
       |        FROM documents) e),
       |all_e AS (
       |  SELECT doc_a, doc_b FROM lsh_pairs WHERE n_band_hits >= 2
       |  UNION SELECT doc_a, doc_b FROM sh_pairs
       |  UNION SELECT a AS doc_a, doc_id AS doc_b FROM exg WHERE a < doc_id),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM all_e
       |  UNION SELECT doc_b, doc_a FROM all_e),
       |reach(n, l) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.l FROM reach r JOIN edges e ON e.s = r.n),
       |clusters AS (SELECT n AS doc_id, MIN(l) AS canonical_id FROM reach GROUP BY n)
       |SELECT doc_id, CAST(canonical_id AS BIGINT) AS canonical_id,
       |  CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS cluster_size
       |FROM clusters ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd20_weighted_jaccard" -> ((s: SparkSession, d: String) => weightedJaccard(s, d)),
    "dd19_df_cap_audit" -> dfCapAudit _,
    "dd18_sketch_calibration" -> sketchCalibration _,
    "dd17_multitier_clusters" -> multiTierClusters _,
    "dd16_winnow_pairs" -> ((s: SparkSession, d: String) => winnowPairs(s, d)),
    "leak1_split_leakage" -> splitLeakage _,
    "dd13_url_canonical" -> urlCanonicalDedup _,
    "fld2_cluster_split" -> ((s: SparkSession, d: String) => clusterSplit(s, d)),
    "dd14_canonical_text" -> canonicalTextDedup _,
    "dd12_incremental_admit" -> ((s: SparkSession, d: String) => incrementalDedup(s, d)),
    "dd11_prefix_dedup" -> prefixDedup _,
    "dd9_dup_weights" -> dupWeights _,
    "dd10_containment_pairs" -> ((s: SparkSession, d: String) => containmentPairs(s, d)),
    "dd1_exact_dedup" -> exactDedup _,
    "dd2_ngram_jaccard" -> ngramJaccard _,
    "dd3_minhash_lsh" -> ((s: SparkSession, d: String) => minhashLsh(s, d, wide = true)),
    // dd4 wide A/B'd and REJECTED (1.33 -> 1.45 s): the distinct+orderBy
    // tail pays the extra map-side shuffle blocks more than the token
    // md5 map gains (dd17's hamming<=8 sub-filter tier DOES win wide —
    // its downstream is a bare union into CC, not a full sort).
    "dd4_simhash_pairs" -> ((s: SparkSession, d: String) => simhashPairs(s, d)),
    "dd5_embedding_neardup" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d)),
    "dd6_fuzzy_name_pairs" -> ((s: SparkSession, d: String) => fuzzyNamePairs(s, d)),
    "dd7_duplicate_clusters" -> duplicateClusters _,
    "dd8_dedup_keep_list" -> dedupKeepList _)

  /** Every dedup operator is oracle-checked: the sketch families (dd3
    * MinHash, dd4 SimHash) use engine-portable md5-derived hashes so the
    * DuckDB oracle regenerates identical signatures.
    */
  val oracles: Map[String, String] = Map(
    "dd20_weighted_jaccard" -> weightedJaccardSql(),
    "dd19_df_cap_audit" -> dfCapAuditSql,
    "dd18_sketch_calibration" -> sketchCalibrationSql,
    "dd17_multitier_clusters" -> multiTierClustersSql,
    "dd16_winnow_pairs" -> winnowPairsSql(),
    "leak1_split_leakage" -> splitLeakageSql,
    "dd13_url_canonical" -> urlCanonicalDedupSql,
    "fld2_cluster_split" -> clusterSplitSql(),
    "dd14_canonical_text" -> canonicalTextDedupSql,
    "dd12_incremental_admit" -> incrementalDedupSql(),
    "dd11_prefix_dedup" -> prefixDedupSql,
    "dd9_dup_weights" -> dupWeightsSql,
    "dd10_containment_pairs" -> containmentPairsSql(),
    "dd1_exact_dedup" -> exactDedupSql,
    "dd2_ngram_jaccard" -> ngramJaccardSql,
    "dd3_minhash_lsh" -> minhashLshSql,
    "dd4_simhash_pairs" -> simhashPairsSql,
    "dd5_embedding_neardup" -> embeddingNearDupSql(),
    "dd6_fuzzy_name_pairs" -> fuzzyNamePairsSql(),
    "dd7_duplicate_clusters" -> duplicateClustersSql,
    "dd8_dedup_keep_list" -> dedupKeepListSql)
}
