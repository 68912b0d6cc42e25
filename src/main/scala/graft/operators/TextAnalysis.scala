package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Text-analysis operators for a large-scale training-data pipeline
  * (beyond-reference additions, SURVEY §7.5): token counting, quality
  * scoring, n-gram-heuristic language ID, and document fingerprinting.
  *
  * All operators are pure column expressions (whole-stage codegen, no
  * UDFs), so they scale linearly with partitions: at 100 TB each is a
  * single map-only pass over `documents` with zero shuffle.
  */
object TextAnalysis {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Engine.table(s, dir, n)

  /** documents (doc_id, text) fanned to the shuffle width before the
    * per-row-expensive text kernels (md5 sketches, regex tokenization,
    * char folds) — identity once the scan has real splits (Par.fanOut).
    */
  private def dFan(s: SparkSession, dir: String): DataFrame =
    Par.fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))

  /** Whitespace tokens of the lower-cased text. */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** The DISTINCT per-source word n-gram shingle stream — the shared
    * domain of the cardinality sketches (kmv1, hll1, hll2). ONE
    * definition on purpose: every consumer's DuckDB oracle recomputes
    * these exact strings, so a divergent copy breaks hash parity for
    * all of them at once.
    */
  def sourceShingles(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val toks = tokens(col("text"))
    Par.fanOut(graft.Engine.table(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j)): _*))
      ).as("shingle"))
      .distinct()
  }

  /** Token count (whitespace tokenizer). */
  def tokenCount(c: Column): Column = size(tokens(c)).cast(IntegerType)

  /** Deterministic uniform-[0,1) coin: the first 8 md5 hex digits of the
    * '#'-joined parts as a 32-bit fraction — identical bits on any
    * engine or cluster. `sqlMd5Frac` is the DuckDB twin; every sampling
    * operator must flip THIS coin (a divergent copy breaks the oracle's
    * hash parity).
    */
  def md5Frac(parts: Column*): Column =
    conv(substring(md5(concat_ws("#", parts: _*)), 1, 8), 16, 10)
      .cast(LongType).cast(DoubleType) / lit(4294967296.0)

  def sqlMd5Frac(parts: String*): String =
    s"CAST(('0x' || substring(md5(concat_ws('#', ${parts.mkString(", ")})), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0"

  /** Quality signals: token count, mean token length, stopword ratio,
    * non-alpha character ratio. Mirrors the length/punct/stopword-ratio
    * heuristics used by public corpus-cleaning pipelines.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  // === token / quality stats ===============================================
  def docTokenStats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val nNonSpace = length(regexp_replace(col("text"), "\\s", ""))
    val stopCount = size(filter(toks, x => x.isInCollection(stopwords)))
    dFan(s, dir)
      .select(
        col("doc_id"),
        nTokens.cast(IntegerType).as("n_tokens"),
        length(col("text")).cast(IntegerType).as("n_chars_actual"),
        nNonSpace.cast(IntegerType).as("n_nonspace"),
        // raw double ratios: one IEEE division over identical integer
        // operands on both engines -> bit-identical
        (nNonSpace.cast(DoubleType) / nTokens).as("avg_token_len"),
        stopCount.cast(IntegerType).as("n_stopwords"),
        (stopCount.cast(DoubleType) / nTokens).as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  val docTokenStatsSql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       | CAST(length(string_split_regex(lower(trim(text)), '\\s+')) AS INTEGER) AS n_tokens,
       | CAST(length(text) AS INTEGER) AS n_chars_actual,
       | CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER) AS n_nonspace,
       | (CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |      / length(string_split_regex(lower(trim(text)), '\\s+')))
       |   AS avg_token_len,
       | CAST(length(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x IN ($stopList))) AS INTEGER) AS n_stopwords,
       | (CAST(length(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x IN ($stopList))) AS DOUBLE)
       |      / length(string_split_regex(lower(trim(text)), '\\s+')))
       |   AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // === language ID (stopword-hit heuristic) ================================
  // Per-language function-word lists; prediction = argmax hit count with a
  // fixed priority order on ties (en > de > es > fr > zh > unknown).
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "和", "在"))

  def docLangId(s: SparkSession, dir: String): DataFrame = {
    // Tokenize ONCE into a projected column: inlining tokens(text) in
    // each hit column re-splits the text per language (lambda `filter`
    // is interpreted, so codegen CSE never merges the copies — measured
    // 2.5x slower). CollapseProject keeps this barrier because the
    // alias is non-cheap and referenced five times.
    val withToks = dFan(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
    val hitCols = langMarkers.map { case (lang, words) =>
      size(filter(col("__toks"), x => x.isInCollection(words)))
        .cast(IntegerType).as(s"${lang}_hits")
    }
    val base = withToks.select(col("doc_id") +: hitCols: _*)
    val best = langMarkers.map(_._1).map(l => col(s"${l}_hits")).reduce(greatest(_, _))
    val pred = langMarkers.map(_._1).foldRight(lit("unknown"): Column) { (l, acc) =>
      when(col(s"${l}_hits") === best && best > 0, l).otherwise(acc)
    }
    val outCols = Seq(col("doc_id"), col("pred_lang")) ++
      langMarkers.map { case (l, _) => col(s"${l}_hits") }
    base.withColumn("pred_lang", pred)
      .select(outCols: _*)
      .orderBy(col("doc_id"))
  }

  val docLangIdSql: String = {
    def hits(words: Seq[String]) = {
      val list = words.map(w => s"'$w'").mkString(", ")
      s"CAST(length(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($list))) AS INTEGER)"
    }
    val hitExprs = langMarkers.map { case (l, ws) => s"${hits(ws)} AS ${l}_hits" }.mkString(",\n ")
    val bestExpr = "greatest(" + langMarkers.map { case (l, _) => s"${l}_hits" }.mkString(", ") + ")"
    val caseExpr = langMarkers.map { case (l, _) =>
      s"WHEN ${l}_hits = $bestExpr AND $bestExpr > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'unknown' END")
    s"""SELECT doc_id, $caseExpr AS pred_lang,
       | ${langMarkers.map { case (l, _) => s"${l}_hits" }.mkString(", ")}
       |FROM (SELECT doc_id, $hitExprs FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  // === document fingerprint ================================================
  // Whitespace-normalized MD5 prefix: a content-addressable fingerprint for
  // exact-duplicate detection across shards (128-bit -> 64-bit hex prefix).
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"),
        substring(md5(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 16).as("fingerprint"),
        length(col("text")).cast(IntegerType).as("n_chars_actual"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      | substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fingerprint,
      | CAST(length(text) AS INTEGER) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  // === BPE-style regex tokenization ========================================
  // The GPT-2 pre-tokenizer pattern family: contractions, letter runs
  // with optional leading space, digit runs, punctuation runs, trailing
  // whitespace. Token COUNT under this segmentation is the standard
  // proxy for "LLM tokens" before merges; both engines run the same
  // regex so counts hash-match.
  val bpePattern: String = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+"

  def docBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val pieces = expr(s"regexp_extract_all(text, '${bpePattern.replace("'", "\\'")}', 0)")
    dFan(s, dir)
      .select(
        col("doc_id"),
        size(pieces).cast(IntegerType).as("n_bpe_pieces"),
        size(filter(pieces, p => p.rlike("^ ?[A-Za-z]+$"))).cast(IntegerType).as("n_word_pieces"),
        size(filter(pieces, p => p.rlike("^ ?[0-9]+$"))).cast(IntegerType).as("n_digit_pieces"))
      .orderBy(col("doc_id"))
  }

  val docBpeTokensSql: String = {
    val pat = bpePattern.replace("'", "''")
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$pat', 0)) AS INTEGER) AS n_bpe_pieces,
       | CAST(len(list_filter(regexp_extract_all(text, '$pat', 0),
       |      p -> regexp_matches(p, '^ ?[A-Za-z]+$$'))) AS INTEGER) AS n_word_pieces,
       | CAST(len(list_filter(regexp_extract_all(text, '$pat', 0),
       |      p -> regexp_matches(p, '^ ?[0-9]+$$'))) AS INTEGER) AS n_digit_pieces
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // === rolling-hash fingerprint ============================================
  // Polynomial rolling hash over the code points of the normalized text:
  // h = (h * 131 + codepoint) mod 1e9+7. Pure integer arithmetic both
  // engines compute identically (every intermediate < 2^63), giving a
  // content fingerprint that, unlike md5, supports incremental extension
  // across chunks — the standard building block for shard-local dedup.
  def docRollingHash(s: SparkSession, dir: String): DataFrame = {
    val normalized = regexp_replace(lower(col("text")), "\\s+", " ")
    val h = aggregate(
      split(normalized, ""),
      lit(0L),
      (acc, ch) => (acc * 131 + ascii(ch)) % 1000000007L)
    dFan(s, dir)
      .select(col("doc_id"), h.as("rolling_hash"),
        length(col("text")).cast(IntegerType).as("n_chars_actual"))
      .orderBy(col("doc_id"))
  }

  val docRollingHashSql: String =
    """SELECT doc_id,
      | list_reduce(list_prepend(CAST(0 AS BIGINT),
      |   list_transform(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ''),
      |     ch -> CAST(unicode(ch) AS BIGINT))),
      |   (acc, c) -> (acc * 131 + c) % 1000000007) AS rolling_hash,
      | CAST(length(text) AS INTEGER) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  // === corpus token frequencies ============================================
  // The wordcount of the corpus: explode + map-side-combined groupBy —
  // the canonical one-shuffle vocabulary builder.
  def topTokens(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    dFan(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  def topTokensSql(k: Int = 50): String =
    s"""SELECT token, COUNT(*) AS n
       |FROM (SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
       |      FROM documents)
       |WHERE length(token) > 0
       |GROUP BY token ORDER BY n DESC, token LIMIT $k""".stripMargin

  // === compression-ratio quality signal ====================================
  // deflate(text)/len(text): a cheap entropy proxy — highly repetitive
  // (low-quality) documents compress far below natural text. Needs an
  // imperative kernel (java.util.zip), so it runs as a batch-shaped
  // mapPartitions with one Deflater per partition — the documented
  // last-resort tier of the operator preference order, used only where
  // no expression can express the semantics.
  def compressionRatio(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.Row
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("n_compressed", IntegerType),
      StructField("ratio", DoubleType)))
    dFan(s, dir).select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 20)
        rows.map { r =>
          val bytes = r.getString(1).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var total = 0
          while (!deflater.finished()) total += deflater.deflate(buf)
          Row(r.getLong(0), bytes.length, total,
            total.toDouble / math.max(bytes.length, 1))
        }
      }(RowEncoder.encoderFor(outSchema))
      .orderBy(col("doc_id"))
  }

  // === composite quality filter ============================================
  // Gopher/C4-style rule battery (public corpus-cleaning heuristics):
  // word-count bounds, mean-word-length bounds, symbol ratio, stopword
  // presence. Emits keep/drop plus a reasons bitmask so downstream
  // pipelines can audit WHY a document fell out — single map-only pass.
  /** The txt6 rule mask as a pure column expression over `text` —
    * map-only, so it applies per row with no shuffle.
    */
  def qualityMask: Column = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val meanLen = length(regexp_replace(col("text"), "\\s", "")).cast(DoubleType) / nTok
    val stopHits = size(filter(toks, x => x.isInCollection(stopwords)))
    val rules = Seq(
      (nTok < 5) -> 1,            // too few words
      (nTok > 100000) -> 2,       // too many words
      (meanLen < 2.0) -> 4,       // mean word length too small
      (meanLen > 12.0) -> 8,      // mean word length too large
      (qualitySymbolRatio > 0.3) -> 16, // symbol-heavy
      (stopHits === 0) -> 32)     // no stopwords at all
    rules.map { case (cond, bit) => when(cond, bit).otherwise(0) }.reduce(_ + _)
  }

  /** Symbol-character fraction of `text` (shared by txt6 and the mask). */
  def qualitySymbolRatio: Column =
    length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast(DoubleType) /
      greatest(length(col("text")), lit(1))

  def docQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val symbolRatio = qualitySymbolRatio
    val mask = qualityMask
    dFan(s, dir)
      .select(col("doc_id"),
        mask.cast(IntegerType).as("drop_reasons"),
        (mask === 0).as("keep"),
        nTok.cast(IntegerType).as("n_tokens"),
        Exact.dround(symbolRatio, 4).as("symbol_ratio"))
      .orderBy(col("doc_id"))
  }

  val docQualityFilterSql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS mean_len,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |      / greatest(length(text), 1) AS sym_ratio,
       |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |        x -> x IN ($stopList))) AS stop_hits
       |  FROM documents),
       |masked AS (
       |  SELECT doc_id, n_tok, sym_ratio,
       |    (CASE WHEN n_tok < 5 THEN 1 ELSE 0 END)
       |    + (CASE WHEN n_tok > 100000 THEN 2 ELSE 0 END)
       |    + (CASE WHEN mean_len < 2.0 THEN 4 ELSE 0 END)
       |    + (CASE WHEN mean_len > 12.0 THEN 8 ELSE 0 END)
       |    + (CASE WHEN sym_ratio > 0.3 THEN 16 ELSE 0 END)
       |    + (CASE WHEN stop_hits = 0 THEN 32 ELSE 0 END) AS mask
       |  FROM base)
       |SELECT doc_id, CAST(mask AS INTEGER) AS drop_reasons, mask = 0 AS keep,
       |  CAST(n_tok AS INTEGER) AS n_tokens,
       |  ${Exact.sqlDround("sym_ratio", 4)} AS symbol_ratio
       |FROM masked ORDER BY doc_id""".stripMargin
  }

  // === multimodal payload plumbing =========================================
  // Models the multimodal-column pattern: an opaque binary payload plus
  // typed metadata. The "decode" step is a deterministic fake (utf-8 bytes
  // of the text stand in for image bytes — the real decoder would be a
  // mapInPandas/mapPartitions stage); the Spark-side schema, checksum, and
  // metadata plumbing are real.
  def mmPayloadStats(s: SparkSession, dir: String): DataFrame = {
    val payload = col("text").cast(BinaryType)
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(payload).cast(IntegerType).as("n_bytes"),
        md5(payload).as("payload_md5"),
        col("source").as("modality_hint"))
      .orderBy(col("doc_id"))
  }

  val mmPayloadStatsSql: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      | md5(text) AS payload_md5,
      | source AS modality_hint
      |FROM documents ORDER BY doc_id""".stripMargin

  // === sequence packing ====================================================
  /** pack1: deterministic sequence packing — assign each document a
    * (bin, offset) inside fixed-token-budget training sequences, packed
    * per language shard in doc_id order. The "start-offset" rule (a doc
    * belongs to the bin where its cumulative start falls; long docs may
    * overflow their bin) is the deterministic, join-free variant of
    * greedy next-fit that a 100 TB pipeline can compute with ONE window
    * pass per shard: Window.partitionBy(shard) keeps every prefix sum
    * partition-local — there is no global ordering bottleneck, which is
    * why packing shards by language (the unit training runs sample by)
    * rather than globally.
    */
  def sequencePacking(s: SparkSession, dir: String, budget: Int = 512): DataFrame =
    packCounts(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), tokenCount(col("text")).as("n_tokens")),
      budget)

  /** The packing pass itself, over any (doc_id, lang, n_tokens) slice —
    * pack1 feeds it the freshly-tokenized corpus, pipe2 the manifest
    * survivors' already-computed counts (no second text scan).
    */
  private[operators] def packCounts(counted: DataFrame, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    counted
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")).cast(DoubleType) / budget)
          .cast(LongType).as("seq_bin"),
        ((col("cum") - col("n_tokens")) % budget).cast(LongType).as("seq_offset"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle fragment: the packing window + bin/offset SELECT over
    * a `toks(doc_id, lang, n_tokens)` CTE body — ONE text for pack1 and
    * pipe2 so the packing rule cannot drift between their oracles.
    */
  def packSqlOver(toksBody: String, budget: Int): String =
    s"""WITH toks AS (
       |$toksBody),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM toks)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) AS seq_bin,
       |  CAST((cum - n_tokens) % $budget AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id""".stripMargin

  def sequencePackingSql(budget: Int = 512): String =
    packSqlOver(
      """  SELECT doc_id, lang,
        |    CAST(length(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents""".stripMargin,
      budget)

  // === pack2: packing-waste audit ==========================================
  /** The fill/waste readout over pack1's assignment — what a pipeline
    * monitors before paying for a training run: per language shard, how
    * many sequences the packing produced, how full they are, and how
    * many tokens overflow past the budget (the start-offset rule lets a
    * long document spill its bin) or remain as padding. Rides pack1's
    * one-window pass; everything after is bin-cardinality-sized.
    * fill_rate divides two exact integers once, so it is bit-identical
    * on both engines (and may exceed 1 where overflow dominates — an
    * audit number, not a probability).
    */
  def packingWaste(s: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    val b = budget.toLong
    val bins = sequencePacking(s, dir, budget)
      .groupBy(col("lang"), col("seq_bin"))
      .agg(sum(col("n_tokens")).cast(LongType).as("bin_tokens"))
    bins.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("bin_tokens")).cast(LongType).as("total_tokens"),
        sum(greatest(lit(0L), col("bin_tokens") - b)).cast(LongType).as("overflow_tokens"),
        sum(greatest(lit(0L), lit(b) - col("bin_tokens"))).cast(LongType).as("pad_tokens"))
      .select(col("lang"), col("n_bins"), col("total_tokens"),
        col("overflow_tokens"), col("pad_tokens"),
        (col("total_tokens").cast(DoubleType) /
          (col("n_bins") * b).cast(DoubleType)).as("fill_rate"))
      .orderedSmall(col("lang"))
  }

  def packingWasteSql(budget: Int = 512): String =
    s"""WITH p AS (SELECT * FROM (${sequencePackingSql(budget)}) q),
       |bins AS (
       |  SELECT lang, seq_bin, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
       |  FROM p GROUP BY 1, 2)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bins,
       |  CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(GREATEST(0, bin_tokens - $budget)) AS BIGINT) AS overflow_tokens,
       |  CAST(SUM(GREATEST(0, $budget - bin_tokens)) AS BIGINT) AS pad_tokens,
       |  CAST(SUM(bin_tokens) AS DOUBLE) / CAST(COUNT(*) * $budget AS DOUBLE) AS fill_rate
       |FROM bins GROUP BY lang ORDER BY lang""".stripMargin

  // === benchmark contamination =============================================
  /** cont1: eval-set decontamination sweep — for every document, the
    * fraction of its distinct 3-gram shingles that also appear in the
    * held-out benchmark slice (source = 'src0'), excluding itself.
    * Candidates come from an inverted-index join on the 8-byte shingle
    * hash (the dd2 construction — same collision-probability argument,
    * Dedup.scala): contamination is only ever computed for docs sharing
    * a shingle with the benchmark, never all-pairs. At 100 TB the
    * benchmark side is tiny relative to the corpus, so the join
    * broadcast-prunes; the corpus-side shingle scan is map-only.
    */
  /** The distinct (bench_id, doc_id, hash) overlap triples consumed by
    * cont2 — built from the same [[Dedup.shingles]] + xxhash64 index
    * and the same self-exclusion rule cont1 audits, so the two
    * directions of the decontamination story cannot diverge.
    */
  private def shingleOverlap(s: SparkSession, dir: String): DataFrame = {
    // pinned shingle exchange under both join sides (guide §2.4): the
    // pinned h-distribution removes the probe join's separate exchange
    // — cont2 1.57 -> 1.19 s (r20). cont1 no longer consumes this
    // construction: the pin was measured neutral there (VERDICT r20
    // #5), so it is scoped to cont2, the consumer it pays for.
    val sh = Dedup.shingles(s, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .repartition(Par.shuffleWidth(t(s, dir, "documents")), col("h"))
    val bench = t(s, dir, "documents").filter(col("source") === "src0")
      .select(col("doc_id").as("bench_id"))
    val benchSh = sh.join(bench, col("doc_id") === col("bench_id"))
      .select(col("h"), col("bench_id"))
    sh.join(benchSh, "h")
      .filter(col("doc_id") =!= col("bench_id"))
      .select(col("bench_id"), col("doc_id"), col("h")).distinct()
  }

  /** Shared DuckDB mirror of shingleOverlap: CTEs `sh` (the distinct
    * shingle index) and `pairs` (the overlap triples).
    */
  private val shingleOverlapSqlCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
      |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
      |    FROM toks WHERE len(t) >= 3)),
      |bench AS (SELECT doc_id AS bench_id FROM documents WHERE source = 'src0'),
      |bsh AS (SELECT sh.shingle, bench_id FROM sh JOIN bench ON sh.doc_id = bench_id),
      |pairs AS (
      |  SELECT DISTINCT bsh.bench_id, sh.doc_id, sh.shingle
      |  FROM sh JOIN bsh ON sh.shingle = bsh.shingle AND sh.doc_id <> bsh.bench_id)""".stripMargin

  def benchmarkContamination(s: SparkSession, dir: String): DataFrame = {
    // SINGLE shingle pass (the cont3 pattern): bench membership is a
    // broadcast tag, and "some OTHER bench doc carries this shingle" is
    // a bench-count window over the hash minus the row's own bench
    // flag — the identical exclusion rule the cont2 pairs join applies
    // (doc_id <> bench_id), without re-running tokenize+explode for a
    // second consumer (the r20 pinned exchange never reused across the
    // branches: 2 Generates in the static plan). 2 Generates + join ->
    // 1 Generate; A/B sf0.1 warm-min 0.98 -> 0.87 s.
    val bench = t(s, dir, "documents").filter(col("source") === "src0")
      .select(col("doc_id"), lit(true).as("is_bench"))
    val sh = Dedup.shingles(s, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .join(broadcast(bench), Seq("doc_id"), "left")
      .withColumn("is_bench", coalesce(col("is_bench"), lit(false)))
    sh.withColumn("n_bench",
        sum(when(col("is_bench"), 1L).otherwise(0L)).over(Window.partitionBy(col("h"))))
      .withColumn("contam",
        (col("n_bench") - when(col("is_bench"), 1L).otherwise(0L)) > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("contam"), 1L).otherwise(0L)).as("n_contaminated"))
      .select(col("doc_id"),
        col("n_shingles").cast(LongType).as("n_shingles"),
        col("n_contaminated").cast(LongType).as("n_contaminated"),
        // one IEEE division over identical integers on both engines
        (col("n_contaminated").cast(DoubleType) / col("n_shingles")).as("contamination"))
      .orderBy(col("doc_id"))
  }

  val benchmarkContaminationSql: String =
    s"""WITH $shingleOverlapSqlCtes,
       |hits AS (
       |  SELECT doc_id, COUNT(DISTINCT shingle) AS n_contaminated
       |  FROM pairs GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id)
       |SELECT tot.doc_id,
       |  CAST(n_shingles AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_shingles AS contamination
       |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // === cont3: exact long-n-gram decontamination ============================
  val decontamN = 13

  /** cont3: the published exact-collision decontamination rule — drop
    * any training document sharing at least one 13-gram with the
    * held-out benchmark slice (GPT-3's appendix-C methodology; cont1's
    * 3-gram OVERLAP FRACTION grades near-duplication, this is the
    * binary verbatim-leakage gate run alongside it). Inverted-index
    * shape: distinct 13-grams join on their 64-bit hash against the
    * bench slice's (deduplicated) gram set — candidate pairs exist only
    * where a gram is shared, never a doc-level cross join, and only
    * (doc, hash) pairs shuffle. Documents shorter than 13 tokens carry
    * no 13-gram and are absent by construction (nothing to leak).
    */
  def exactNgramDecontam(s: SparkSession, dir: String, n: Int = decontamN): DataFrame = {
    // ONE shingle pass (the single-pass discipline): grams are tagged
    // bench/corpus via a broadcast of the bench doc ids (the eval slice
    // is tiny by definition in a real decontamination run), and bench
    // presence rides a window over the gram hash — the same key the
    // two-branch join form would shuffle on, without re-running the
    // tokenize+explode chain per branch (the first draft read documents
    // four times).
    val bench = t(s, dir, "documents").filter(col("source") === "src0")
      .select(col("doc_id"), lit(true).as("is_bench"))
    val sh = Dedup.shingles(s, dir, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .join(broadcast(bench), Seq("doc_id"), "left")
      .withColumn("is_bench", coalesce(col("is_bench"), lit(false)))
    val w = Window.partitionBy(col("h"))
    sh.withColumn("hit", max(when(col("is_bench"), 1L).otherwise(0L)).over(w))
      .filter(!col("is_bench"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_ngrams"),
        sum(col("hit")).cast(LongType).as("n_hit"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        (col("n_hit") > 0L).as("drop"))
      .orderBy(col("doc_id"))
  }

  def exactNgramDecontamSql(n: Int = decontamN): String = {
    val gram = (1 to n).map(j => s"t[i+${j - 1}]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |           i -> concat_ws(' ', $gram))) AS shingle
       |    FROM toks WHERE len(t) >= $n)),
       |bench AS (SELECT doc_id AS bench_id FROM documents WHERE source = 'src0'),
       |bh AS (SELECT DISTINCT shingle FROM sh JOIN bench ON sh.doc_id = bench_id),
       |corp AS (SELECT doc_id, shingle FROM sh
       |         WHERE doc_id NOT IN (SELECT bench_id FROM bench))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       |  CAST(SUM(CASE WHEN bh.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  SUM(CASE WHEN bh.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0 AS drop
       |FROM corp LEFT JOIN bh ON corp.shingle = bh.shingle
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // === stratified (temperature) sampling ===================================
  /** Per-language keep rates for the sampling mix — the shape of a
    * temperature-resampled training mixture (downweight the dominant
    * language, keep the rest nearly whole).
    */
  val sampleRates: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 0.9, "es" -> 0.9, "fr" -> 0.9, "zh" -> 0.9)

  /** smp1: deterministic stratified sampling — keep each document iff
    * its engine-portable hash fraction (first 8 md5 hex chars of
    * `lang#doc_id` over 2^32) falls under the language's rate. This is
    * how a training mix up/down-weights slices WITHOUT materializing
    * randomness: the keep set is identical on every engine, every run,
    * and every cluster size. Map-only — at 100 TB it fuses into the
    * scan with zero shuffle; the hash family is the dd3/dd4 md5 trick
    * (Dedup.scala), bought back as a DuckDB oracle computing the
    * IDENTICAL keep set.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val frac = md5Frac(col("lang"), col("doc_id")).as("keep_frac")
    val rate = coalesce(
      element_at(
        map(sampleRates.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*),
        col("lang")),
      lit(1.0))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), frac, rate.as("rate"))
      .filter(col("keep_frac") < col("rate"))
      .select(col("doc_id"), col("lang"), col("keep_frac"))
      .orderBy(col("doc_id"))
  }

  val stratifiedSampleSql: String = {
    val cases = sampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""WITH f AS (
       |  SELECT doc_id, lang,
       |    ${sqlMd5Frac("lang", "CAST(doc_id AS VARCHAR)")} AS keep_frac
       |  FROM documents)
       |SELECT doc_id, lang, keep_frac FROM f
       |WHERE keep_frac < CASE lang $cases ELSE 1.0 END
       |ORDER BY doc_id""".stripMargin
  }

  // === within-document repetition ==========================================
  /** txt9: repetition signals — the Gopher-style duplicate-token and
    * duplicate-bigram fractions of each document (high repetition is
    * the canonical low-quality marker for generated/boilerplate text).
    * Pure array expressions over one projected tokenization: map-only,
    * fuses into the scan at any scale.
    */
  def docRepetition(s: SparkSession, dir: String): DataFrame = {
    val withT = dFan(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val n = size(col("t"))
    val bigrams = zip_with(
      slice(col("t"), lit(1), n - 1), slice(col("t"), lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    withT.select(
      col("doc_id"),
      n.cast(IntegerType).as("n_tokens"),
      (lit(1.0) - size(array_distinct(col("t"))).cast(DoubleType) / n.cast(DoubleType))
        .as("dup_token_frac"),
      when(n >= 2,
        lit(1.0) - size(array_distinct(bigrams)).cast(DoubleType) / (n - 1).cast(DoubleType))
        .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val docRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |b AS (
      |  SELECT doc_id, t, len(t) AS n,
      |    list_transform(generate_series(1, len(t) - 1),
      |      i -> concat_ws(' ', t[i], t[i+1])) AS big
      |  FROM toks)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
      |  1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / n AS dup_token_frac,
      |  CASE WHEN n >= 2
      |    THEN 1.0 - CAST(len(list_distinct(big)) AS DOUBLE) / (n - 1)
      |    ELSE 0.0 END AS dup_bigram_frac
      |FROM b ORDER BY doc_id""".stripMargin

  // === vocabulary richness =================================================
  /** txt10: type/token and hapax-legomena ratios per document — the
    * complement of txt9's repetition view (a doc whose tokens are
    * mostly one-offs is informative; one that reuses a tiny vocabulary
    * is boilerplate). Wordcount-shape: the (doc, token) aggregate is
    * map-side combinable, so at 100 TB the shuffle ships per-partition
    * partial counts, never raw tokens.
    */
  def docVocabRichness(s: SparkSession, dir: String): DataFrame = {
    dFan(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast(LongType).as("n_tokens"),
        count(lit(1)).cast(LongType).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast(LongType).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("type_token_ratio"),
        (col("n_hapax").cast(DoubleType) / col("n_types").cast(DoubleType))
          .as("hapax_ratio"))
      .orderBy(col("doc_id"))
  }

  val docVocabRichnessSql: String =
    """WITH ex AS (
      |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |pc AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS hapax_ratio
      |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // === unigram LM quality score ============================================
  /** txt11: per-document mean negative log-probability under the
    * corpus's own unigram model — the cheap LM-score quality filter
    * (a doc of globally-rare tokens scores high/surprising, boilerplate
    * of corpus-dominant tokens scores low). Two map-side-combinable
    * aggregates plus a frequency join the optimizer broadcasts while
    * the vocabulary is small (at 100 TB vocabulary scales sub-linearly
    * with the corpus, and the join key is the token — AQE picks the
    * join side). The per-doc sum uses the Exact micros scheme so the
    * score is order-independent and bit-portable; each -ln value is
    * rounded to micros, which also absorbs any last-ulp libm
    * difference between the engines' log implementations.
    */
  def docUnigramLogProb(s: SparkSession, dir: String): DataFrame = {
    // one explode, one map-side-combined tf aggregate; the corpus
    // frequency rides along as a window sum over the AGGREGATED
    // (doc, token) rows — windows over raw exploded instances lose the
    // partial aggregation and shuffle every occurrence (measured +30%),
    // while a tok-keyed aggregate joined back re-runs the explode per
    // consumer (the round-11 plan-audit lesson). Each document's score
    // sums tf-weighted per-TYPE terms, micros-rounded per (doc, token);
    // the corpus total comes from a scan that never explodes.
    val tf = dFan(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tfd"))
      .withColumn("ctf", sum(col("tfd")).over(Window.partitionBy(col("tok"))))
    val total = t(s, dir, "documents")
      .agg(sum(size(tokens(col("text"))).cast(LongType)).as("nt"))
    val nlp = -log(col("ctf").cast(DoubleType) / col("nt").cast(DoubleType))
    tf
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tfd")).cast(LongType).as("n_tokens"),
        Exact.dsum(col("tfd").cast(DoubleType) * nlp).as("neg_logp_sum"))
      .select(col("doc_id"), col("n_tokens"), col("neg_logp_sum"),
        // one IEEE division over bit-identical operands on both engines
        (col("neg_logp_sum") / col("n_tokens").cast(DoubleType)).as("mean_neg_logp"))
      .orderBy(col("doc_id"))
  }

  val docUnigramLogProbSql: String = {
    val nlp = "-ln(CAST(ctf AS DOUBLE) / CAST(nt AS DOUBLE))"
    s"""WITH ex AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tfd FROM ex GROUP BY 1, 2),
       |tfc AS (SELECT doc_id, tfd, SUM(tfd) OVER (PARTITION BY tok) AS ctf FROM tf),
       |n AS (SELECT CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+')))
       |             AS BIGINT) AS nt FROM documents),
       |sc AS (
       |  SELECT doc_id, tfd, CAST(tfd AS DOUBLE) * ($nlp) AS term
       |  FROM tfc CROSS JOIN n)
       |SELECT doc_id, CAST(SUM(tfd) AS BIGINT) AS n_tokens,
       |  ${Exact.sqlDsum("term")} AS neg_logp_sum,
       |  ${Exact.sqlDsum("term")} / CAST(SUM(tfd) AS DOUBLE) AS mean_neg_logp
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // === qf3: perplexity-band corpus filter ==================================
  /** The CCNet-style MODEL-BASED quality gate completing the filter
    * family (txt6 is rule-based, qc1 is classifier-based): documents
    * bucket into perplexity deciles under the corpus unigram LM
    * (txt11's mean negative log-prob), and the training cut keeps the
    * MIDDLE band — the head deciles are boilerplate the model finds too
    * predictable, the tail deciles are noise it finds too surprising.
    * The decile rank runs on the exact MICROS of the score (bit-
    * identical doubles on both engines, so identical integers) through
    * the clv1 bucket-histogram construction — no data-sized global
    * sort; the oracle computes the same rank with one flat ROW_NUMBER.
    */
  def perplexityFilter(s: SparkSession, dir: String,
      headDeciles: Int = 2, tailDeciles: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 1L << 16
    val scored = docUnigramLogProb(s, dir)
      .select(col("doc_id"), col("mean_neg_logp"),
        Exact.micros(col("mean_neg_logp")).as("m"))
      .withColumn("b", expr(s"m div $W"))
    val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val hist = scored.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wB), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      .select(col("b").as("hb"), col("offset"), col("n"))
    val wInB = Window.partitionBy(col("b")).orderBy(col("m"), col("doc_id"))
    scored.join(hist, col("b") === col("hb"))
      .withColumn("rank", col("offset") + row_number().over(wInB))
      .withColumn("decile", expr("((rank - 1) * 10) div n").cast(IntegerType))
      .withColumn("band",
        when(col("decile") < headDeciles, "head")
          .when(col("decile") >= 10 - tailDeciles, "tail")
          .otherwise("middle"))
      .select(col("doc_id"), col("mean_neg_logp"), col("decile"), col("band"),
        (col("band") === "middle").as("keep"))
      .orderBy(col("doc_id"))
  }

  def perplexityFilterSql(headDeciles: Int = 2, tailDeciles: Int = 2): String =
    s"""WITH lp AS (${docUnigramLogProbSql}),
       |rk AS (
       |  SELECT doc_id, mean_neg_logp,
       |    ROW_NUMBER() OVER (
       |      ORDER BY ${Exact.sqlMicros("mean_neg_logp")}, doc_id) AS rank,
       |    COUNT(*) OVER () AS n
       |  FROM lp),
       |d AS (
       |  SELECT doc_id, mean_neg_logp,
       |    CAST(((rank - 1) * 10) // n AS INTEGER) AS decile
       |  FROM rk)
       |SELECT doc_id, mean_neg_logp, decile,
       |  CASE WHEN decile < $headDeciles THEN 'head'
       |       WHEN decile >= ${10 - tailDeciles} THEN 'tail'
       |       ELSE 'middle' END AS band,
       |  (decile >= $headDeciles AND decile < ${10 - tailDeciles}) AS keep
       |FROM d ORDER BY doc_id""".stripMargin

  // === TF-IDF top terms ====================================================
  /** txt12: the k most characteristic terms of each document by
    * tf·idf. The score is kept INTEGER end to end — tf (a count) times
    * the micros-rounded idf ln(N/df) — so ranking ties resolve
    * identically on every engine (the single rounding also absorbs
    * last-ulp libm differences, the txt11 argument). Shape at 100 TB:
    * tf is one map-side-combinable shuffle on (doc, token); df reduces
    * the already-distinct tf pairs, so it never re-reads the corpus;
    * the doc-count is a broadcast scalar; and the top-k window shuffles
    * scored pairs (3 small columns), not text.
    */
  def docTfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score_m").desc, col("tok"))
    val ex = dFan(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // df rides along as a window count over the tf rows (one row per
    // (doc, token), so counting them per token IS the document
    // frequency) — a tok-keyed aggregate joined back re-ran the
    // tokenize+tf shuffle per consumer (the round-11 plan-audit lesson)
    val tf = ex.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
    val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    // idf >= 0 (df <= n_docs), so half-away rounding is plain floor(x+0.5)
    val idfM = floor(log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType))
      * 1000000L + 0.5).cast(LongType)
    tf.crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), (col("tf") * idfM).as("score_m"))
      .withColumn("term_rank", row_number().over(w).cast(LongType))
      .filter(col("term_rank") <= k)
      .select(col("doc_id"), col("term_rank"), col("tok"), col("score_m"))
      .orderBy(col("doc_id"), col("term_rank"))
  }

  def docTfidfSql(k: Int = 3): String =
    s"""WITH ex AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |sc AS (
       |  SELECT doc_id, tok,
       |    tf * CAST(FLOOR(ln(CAST(n_docs AS DOUBLE)/CAST(df AS DOUBLE))*1000000+0.5)
       |              AS BIGINT) AS score_m
       |  FROM tf JOIN df USING (tok) CROSS JOIN n),
       |r AS (SELECT doc_id, tok, score_m,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_m DESC, tok)
       |          AS term_rank
       |      FROM sc)
       |SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, tok, score_m
       |FROM r WHERE term_rank <= $k ORDER BY doc_id, term_rank""".stripMargin

  // === benchmark leakage audit =============================================
  /** cont2: the decontamination sweep's reverse view — for each held-out
    * benchmark document, how many corpus documents share at least one
    * 3-gram with it and how many distinct (corpus doc, shingle) overlap
    * pairs exist. This is the audit a benchmark owner reads to find
    * WHICH eval items leaked, where cont1 tells the corpus owner which
    * training docs to drop. Same inverted-index join as cont1 (never
    * all-pairs); the per-benchmark-doc aggregate is map-side combinable
    * and its key space is the benchmark size, tiny by construction.
    */
  def benchmarkLeakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = shingleOverlap(s, dir)
    pairs
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("doc_id")).as("n_leaky_docs"),
        count(lit(1)).as("n_overlap_pairs"))
      .orderBy(col("bench_id"))
  }

  val benchmarkLeakageSql: String =
    s"""WITH $shingleOverlapSqlCtes
       |SELECT bench_id, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_leaky_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
       |FROM pairs GROUP BY bench_id ORDER BY bench_id""".stripMargin

  // === per-language cap sampling ===========================================
  /** smp2: deterministic per-language cap — keep at most `cap` documents
    * per language, chosen by the engine-portable md5 order (the smp1
    * hash family), so the sample is identical on every engine and
    * cluster size. The window is partitioned by language: each shard's
    * row_number is partition-local, the same no-global-ordering argument
    * as pack1 — this is how a training mix bounds a dominant slice
    * without a global sort.
    */
  def languageCap(s: SparkSession, dir: String, cap: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat_ws("#", col("lang"), col("doc_id"))).as("h"))
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
      .filter(col("sample_rank") <= cap)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("doc_id"))
  }

  def languageCapSql(cap: Int = 100): String =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY md5(concat_ws('#', lang, CAST(doc_id AS VARCHAR))), doc_id)
       |      AS sample_rank
       |  FROM documents)
       |SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
       |FROM r WHERE sample_rank <= $cap ORDER BY doc_id""".stripMargin

  // === vocabulary construction + coverage ==================================
  /** tok1: build the top-V corpus vocabulary (wordpiece-style frequency
    * cut: rank by count desc, token asc) and report each document's
    * out-of-vocabulary rate against it — the coverage check run before
    * committing to a tokenizer vocab. Shape at 100 TB: the vocabulary
    * is a map-side-combinable wordcount plus a k-sized limit (top-V
    * never leaves the driver's broadcast budget by construction), and
    * the coverage pass is the token explode re-joined to the broadcast
    * vocab — no shuffle beyond the per-doc aggregate.
    */
  def vocabCoverage(s: SparkSession, dir: String, v: Int = 24): DataFrame = {
    val ex = dFan(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = ex.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(v)
      .select(col("tok"), lit(1).as("in_vocab"))
    ex.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast(LongType).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        // one IEEE division over identical integer operands -> bit-identical
        (col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType)).as("oov_ratio"))
      .orderBy(col("doc_id"))
  }

  def vocabCoverageSql(v: Int = 24): String =
    s"""WITH ex AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |v AS (SELECT tok FROM
       |        (SELECT tok, COUNT(*) AS tf FROM ex GROUP BY tok
       |         ORDER BY tf DESC, tok LIMIT $v)),
       |j AS (SELECT ex.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
       |      FROM ex LEFT JOIN v ON ex.tok = v.tok)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_ratio
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // === tok4: vocabulary coverage curve =====================================
  /** The curve a tokenizer designer reads before fixing a vocab size:
    * for each candidate size V, the fraction of corpus TOKEN MASS the
    * top-V tokens cover (tok1 reports per-document OOV at ONE size;
    * this is the corpus-level sweep). One wordcount shuffle; the rank
    * and cumulative-mass windows run over the vocabulary-bounded count
    * table (the lm1 scale argument — vocabulary grows sub-linearly; an
    * open-vocab corpus swaps in the clv1 histogram rank on tf buckets).
    * Sizes beyond the actual vocabulary clamp to full coverage.
    */
  def coverageCurve(s: SparkSession, dir: String,
      sizes: Seq[Int] = Seq(16, 32, 64, 128, 256)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = dFan(s, dir).select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val wR = Window.orderBy(col("tf").desc, col("tok"))
    val wAll = Window.partitionBy()
    val ranked = wc
      .withColumn("rank", row_number().over(wR).cast(LongType))
      .withColumn("cum", sum(col("tf")).over(
        wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("tf")).over(wAll))
      .withColumn("nv", count(lit(1)).over(wAll))
    val sizesDf = s.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        sizes.map(v => org.apache.spark.sql.Row(v.toLong))).asJava,
      StructType(Seq(StructField("vocab_size", LongType))))
    sizesDf.join(ranked, col("rank") === least(col("vocab_size"), col("nv")))
      .select(col("vocab_size"), col("nv").as("n_vocab_total"),
        col("cum").as("covered_tf"), col("total").as("total_tf"),
        (col("cum").cast(DoubleType) / col("total").cast(DoubleType)).as("coverage"))
      .orderedSmall(col("vocab_size"))
  }

  def coverageCurveSql(sizes: Seq[Int] = Seq(16, 32, 64, 128, 256)): String =
    s"""WITH ex AS (
       |  SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |wc AS (SELECT tok, COUNT(*) AS tf FROM ex GROUP BY 1),
       |rk AS (
       |  SELECT tok, tf,
       |    ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS rank,
       |    SUM(tf) OVER (ORDER BY tf DESC, tok
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(tf) OVER () AS total,
       |    COUNT(*) OVER () AS nv
       |  FROM wc),
       |sz AS (SELECT UNNEST([${sizes.mkString(", ")}]) AS vocab_size)
       |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       |  CAST(nv AS BIGINT) AS n_vocab_total,
       |  CAST(cum AS BIGINT) AS covered_tf,
       |  CAST(total AS BIGINT) AS total_tf,
       |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
       |FROM sz JOIN rk ON rk.rank = LEAST(sz.vocab_size, rk.nv)
       |ORDER BY vocab_size""".stripMargin

  // === bigram language model ===============================================
  /** lm1: corpus bigram conditional probabilities — for every context
    * token, its top-k successors by P(w2|w1) = c(w1,w2)/c(w1,·), the
    * table a bigram scorer or next-token heuristic reads. Probabilities
    * are integer micros (one rounding over bit-identical division
    * operands) so ranking ties resolve identically on both engines.
    * Shape at 100 TB: pair extraction is map-only (adjacent-position
    * zip inside the row, no positional self-join); c(w1,w2) is one
    * map-side-combinable shuffle keyed on the pair; c(w1,·) reduces the
    * already-aggregated pairs, never the corpus; the top-k window
    * shuffles counts, not text, keyed on a vocabulary-bounded w1.
    */
  def bigramLm(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("p_micro").desc, col("w2"))
    val pairs = dFan(s, dir)
      .select(tokens(col("text")).as("toks")).filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // ctx_n rides along as a window sum over the vocabulary²-bounded
    // pair counts (a w1-keyed aggregate joined back re-ran the pair
    // extraction per consumer — the round-11 plan-audit lesson)
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_n"))
      .withColumn("ctx_n", sum(col("pair_n")).over(Window.partitionBy(col("w1"))))
    c2
      .select(col("w1"), col("w2"), col("pair_n"),
        floor(col("pair_n").cast(DoubleType) / col("ctx_n").cast(DoubleType)
          * 1000000L + 0.5).cast(LongType).as("p_micro"))
      .withColumn("succ_rank", row_number().over(w).cast(LongType))
      .filter(col("succ_rank") <= k)
      .select(col("w1"), col("succ_rank"), col("w2"), col("pair_n"), col("p_micro"))
      .orderBy(col("w1"), col("succ_rank"))
  }

  def bigramLmSql(k: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |pr AS (SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
       |       FROM toks WHERE len(t) >= 2),
       |c2 AS (SELECT w1, w2, COUNT(*) AS pair_n FROM pr GROUP BY 1, 2),
       |c1 AS (SELECT w1, SUM(pair_n) AS ctx_n FROM c2 GROUP BY 1),
       |sc AS (SELECT c2.w1, w2, pair_n,
       |         CAST(FLOOR(CAST(pair_n AS DOUBLE) / CAST(ctx_n AS DOUBLE)
       |              * 1000000 + 0.5) AS BIGINT) AS p_micro
       |       FROM c2 JOIN c1 ON c2.w1 = c1.w1),
       |r AS (SELECT w1, w2, pair_n, p_micro,
       |        ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY p_micro DESC, w2)
       |          AS succ_rank
       |      FROM sc)
       |SELECT w1, CAST(succ_rank AS BIGINT) AS succ_rank, w2,
       |  CAST(pair_n AS BIGINT) AS pair_n, p_micro
       |FROM r WHERE succ_rank <= $k ORDER BY w1, succ_rank""".stripMargin

  // === lm3: interpolated Kneser-Ney bigram probabilities ===================
  /** lm3: Kneser-Ney smoothed bigram probabilities for the corpus's
    * top bigrams — the smoothing that actually ships in n-gram LMs
    * (Kneser & Ney 1995, Chen & Goodman 1999), next to lm1's raw MLE:
    * P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *             + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··),  D = 0.75.
    * The continuation counts N1+(w1·) / N1+(·w2) are window counts
    * over the aggregated bigram table; N1+(··) (total distinct bigram
    * types) is ONE bounded scalar counted off an eagerly checkpointed
    * copy of that table (one materialization feeds both the scalar and
    * the top-k — re-deriving would re-run the corpus explode, the
    * round-11 lesson; the kcore1 localCheckpoint precedent). All
    * inputs to the probability are exact integers; the formula is one
    * fixed IEEE sequence, rounded to 9 places.
    * Shape at 100 TB: pair extraction is map-only; everything after is
    * keyed on the vocabulary²-bounded bigram table, never the corpus.
    */
  def knBigramLm(s: SparkSession, dir: String, kTop: Int = 30,
      discount: Double = 0.75): DataFrame = {
    val pairs = dFan(s, dir)
      .select(tokens(col("text")).as("toks")).filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_n"))
      .withColumn("ctx_n", sum(col("pair_n")).over(Window.partitionBy(col("w1"))))
      .withColumn("cont_after", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .withColumn("pred_types", count(lit(1)).over(Window.partitionBy(col("w2"))))
      .localCheckpoint() // vocabulary²-bounded; counted AND ranked below
    val totalTypes = c2.count() // N1+(··): one scalar of driver state
    val pKn =
      (greatest(col("pair_n").cast(DoubleType) - lit(discount), lit(0.0)) /
        col("ctx_n").cast(DoubleType)) +
        (lit(discount) * col("cont_after").cast(DoubleType) / col("ctx_n").cast(DoubleType) *
          (col("pred_types").cast(DoubleType) / lit(totalTypes.toDouble)))
    c2.orderBy(col("pair_n").desc, col("w1"), col("w2")).limit(kTop)
      .select(col("w1"), col("w2"), col("pair_n").cast(LongType).as("pair_n"),
        col("ctx_n").cast(LongType).as("ctx_n"),
        col("cont_after").cast(LongType).as("cont_after"),
        col("pred_types").cast(LongType).as("pred_types"),
        lit(totalTypes).as("total_types"),
        Exact.dround(pKn, 9).as("p_kn"))
      .orderBy(col("pair_n").desc, col("w1"), col("w2"))
  }

  def knBigramLmSql(kTop: Int = 30, discount: Double = 0.75): String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |pr AS (SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
       |       FROM toks WHERE len(t) >= 2),
       |c2 AS (SELECT w1, w2, COUNT(*) AS pair_n FROM pr GROUP BY 1, 2),
       |cx AS (SELECT w1, SUM(pair_n) AS ctx_n, COUNT(*) AS cont_after FROM c2 GROUP BY 1),
       |pd AS (SELECT w2, COUNT(*) AS pred_types FROM c2 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_types FROM c2)
       |SELECT c2.w1, c2.w2, CAST(pair_n AS BIGINT) AS pair_n,
       |  CAST(ctx_n AS BIGINT) AS ctx_n, CAST(cont_after AS BIGINT) AS cont_after,
       |  CAST(pred_types AS BIGINT) AS pred_types, total_types,
       |  ${Exact.sqlDround(
             s"""(GREATEST(CAST(pair_n AS DOUBLE) - $discount, 0.0) / CAST(ctx_n AS DOUBLE)
       |   + $discount * CAST(cont_after AS DOUBLE) / CAST(ctx_n AS DOUBLE)
       |     * (CAST(pred_types AS DOUBLE) / CAST(total_types AS DOUBLE)))""".stripMargin, 9)}
       |    AS p_kn
       |FROM c2 JOIN cx ON c2.w1 = cx.w1 JOIN pd ON c2.w2 = pd.w2 CROSS JOIN tot
       |ORDER BY pair_n DESC, c2.w1, c2.w2 LIMIT $kTop""".stripMargin

  // === mix3: temperature-scaled source sampling =============================
  /** mix3: temperature-scaled multinomial sampling weights per source —
    * the multilingual/multi-source rebalancing recipe (XLM-R, mT5):
    * q_i(α) = p_i^α / Σ_j p_j^α with p_i the source's token share and
    * α = 0.7, plus the effective epoch count q_i·N/n_i a one-corpus-
    * sized budget implies (low-resource sources read > 1 = upsampled).
    * The single libm pow() per source is micros-rounded immediately
    * (the txt11 argument — one rounding absorbs the last-ulp
    * difference between the JVM's and the oracle's pow), so the
    * normalization runs over exact integers. Shape at 100 TB: one
    * token-count aggregate keyed on the bounded source set; everything
    * after is windows over |sources| rows.
    */
  def temperatureMix(s: SparkSession, dir: String, alpha: Double = 0.7): DataFrame = {
    val wAll = Window.partitionBy()
    val base = Par.fanOut(t(s, dir, "documents").select(col("source"), col("text")))
      .groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast(LongType)).as("toks"))
      .withColumn("total", sum(col("toks")).over(wAll))
    val p = col("toks").cast(DoubleType) / col("total").cast(DoubleType)
    val scaled = base
      .withColumn("w_micro",
        floor(pow(p, lit(alpha)) * 1000000L + 0.5).cast(LongType))
      .withColumn("w_total", sum(col("w_micro")).over(wAll))
    val q = col("w_micro").cast(DoubleType) / col("w_total").cast(DoubleType)
    scaled.select(col("source"), col("toks"),
        Exact.dround(p, 9).as("p"),
        col("w_micro"),
        Exact.dround(q, 9).as("q"),
        Exact.dround(q * col("total").cast(DoubleType) / col("toks").cast(DoubleType), 9)
          .as("epochs"))
      .orderedSmall(col("source"))
  }

  def temperatureMixSql(alpha: Double = 0.7): String =
    s"""WITH base AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS toks
       |  FROM documents GROUP BY source),
       |tot AS (SELECT source, toks, SUM(toks) OVER () AS total FROM base),
       |sc AS (
       |  SELECT source, toks, total,
       |    CAST(FLOOR(POWER(CAST(toks AS DOUBLE) / CAST(total AS DOUBLE), $alpha)
       |      * 1000000 + 0.5) AS BIGINT) AS w_micro
       |  FROM tot),
       |nm AS (SELECT *, SUM(w_micro) OVER () AS w_total FROM sc)
       |SELECT source, toks,
       |  ${Exact.sqlDround("(CAST(toks AS DOUBLE) / CAST(total AS DOUBLE))", 9)} AS p,
       |  w_micro,
       |  ${Exact.sqlDround("(CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE))", 9)} AS q,
       |  ${Exact.sqlDround(
            "(CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) * CAST(total AS DOUBLE) / CAST(toks AS DOUBLE))", 9)}
       |    AS epochs
       |FROM nm ORDER BY source""".stripMargin

  // === DSIR-style importance weights =======================================
  /** sel1: data-selection importance weights — per-document sum of
    * ln(p_target(tok)/p_corpus(tok)) under add-one-smoothed unigram
    * models, where the target distribution is the English slice (the
    * importance-resampling recipe for selecting pretraining data that
    * matches a target domain). Both models come out of ONE token pass
    * (the target count is a conditional aggregate of the same
    * wordcount); the per-token log-ratio is micros-rounded (absorbing
    * last-ulp libm differences, the txt11 argument) and summed exactly,
    * so weights are bit-portable. Shape at 100 TB: one
    * map-side-combinable wordcount, a vocabulary-keyed join the
    * optimizer broadcasts while the vocab fits, one per-doc aggregate.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    // one explode, one map-side-combined (doc, token) aggregate; both
    // model counts ride along as window sums over the AGGREGATED rows
    // (windows over raw instances lose the partial aggregation —
    // measured +75%; aggregates joined back re-run the explode per
    // consumer — the round-11 plan-audit lesson). The corpus scalars
    // are one aggregate over a second pass of the same tf chain; each
    // document sums tf-weighted per-TYPE log-ratios, micros-rounded
    // per (doc, token).
    val wTok = Window.partitionBy(col("tok"))
    val tf = Par.fanOut(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok")).agg(count(lit(1)).as("tfd"))
      .withColumn("cf", sum(col("tfd")).over(wTok))
      .withColumn("tf_target",
        sum(when(col("lang") === "en", col("tfd")).otherwise(0L)).over(wTok))
    val totals = tf.groupBy().agg(
      sum(col("tfd")).cast(LongType).as("nc"),
      sum(when(col("lang") === "en", col("tfd")).otherwise(0L)).cast(LongType).as("ntg"),
      countDistinct(col("tok")).cast(LongType).as("v"))
    val pT = (col("tf_target") + lit(1L)).cast(DoubleType) /
      (col("ntg") + col("v")).cast(DoubleType)
    val pC = (col("cf") + lit(1L)).cast(DoubleType) /
      (col("nc") + col("v")).cast(DoubleType)
    tf.crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tfd"),
        (col("tfd").cast(DoubleType) * log(pT / pC)).as("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tfd")).cast(LongType).as("n_tokens"),
        Exact.dsum(col("term")).as("dsir_sum"))
      .select(col("doc_id"), col("n_tokens"), col("dsir_sum"),
        (col("dsir_sum") / col("n_tokens").cast(DoubleType)).as("dsir_mean"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    s"""WITH ex AS (
       |  SELECT doc_id, lang,
       |    UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, lang, tok, COUNT(*) AS tfd FROM ex GROUP BY 1, 2, 3),
       |tfc AS (SELECT doc_id, tok, tfd,
       |          SUM(tfd) OVER (PARTITION BY tok) AS cf,
       |          SUM(CASE WHEN lang = 'en' THEN tfd ELSE 0 END)
       |            OVER (PARTITION BY tok) AS tf_target
       |        FROM tf),
       |n AS (SELECT CAST(SUM(tfd) AS BIGINT) AS nc,
       |        CAST(SUM(CASE WHEN lang = 'en' THEN tfd ELSE 0 END) AS BIGINT) AS ntg,
       |        CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tf),
       |sc AS (
       |  SELECT doc_id, tfd,
       |    CAST(tfd AS DOUBLE)
       |      * ln((CAST(tf_target + 1 AS DOUBLE) / CAST(ntg + v AS DOUBLE))
       |          / (CAST(cf + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE))) AS term
       |  FROM tfc CROSS JOIN n)
       |SELECT doc_id, CAST(SUM(tfd) AS BIGINT) AS n_tokens,
       |  ${Exact.sqlDsum("term")} AS dsir_sum,
       |  ${Exact.sqlDsum("term")} / CAST(SUM(tfd) AS DOUBLE) AS dsir_mean
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // === document chunking ===================================================
  /** chunk1: fixed-token-budget chunk spans with overlap — the
    * retrieval/embedding prep pass that turns each document into
    * (chunk_idx, start_tok, n_tokens) windows (budget 32, overlap 8
    * here; trailing chunks may be short). Pure in-row sequence explode:
    * map-only, no shuffle at any scale — the chunk table is the input
    * to an embedding pass, so keeping it span-typed (offsets, not
    * copied text) is what makes the 100 TB version affordable.
    */
  def docChunks(s: SparkSession, dir: String, budget: Int = 32, overlap: Int = 8): DataFrame = {
    val step = budget - overlap
    dFan(s, dir).select(col("doc_id"), size(tokens(col("text"))).as("n"))
      // the start grid stops at n - overlap: a later start's span would
      // lie entirely inside the previous chunk (the <= overlap-token
      // tail is already covered), so it would duplicate content
      .select(col("doc_id"), col("n"),
        posexplode(sequence(lit(1), greatest(lit(1), col("n") - overlap), lit(step))))
      .select(col("doc_id"),
        (col("pos") + 1).cast(LongType).as("chunk_idx"),
        col("col").cast(LongType).as("start_tok"),
        least(lit(budget), col("n") - col("col") + 1).cast(LongType).as("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  def docChunksSql(budget: Int = 32, overlap: Int = 8): String =
    s"""WITH n AS (
       |  SELECT doc_id, len(string_split_regex(lower(trim(text)), '\\s+')) AS n
       |  FROM documents),
       |c AS (SELECT doc_id, n,
       |        UNNEST(generate_series(1, greatest(1, n - $overlap), ${budget - overlap}))
       |          AS start_tok
       |      FROM n)
       |SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_tok) AS BIGINT)
       |    AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(LEAST($budget, n - start_tok + 1) AS BIGINT) AS n_chunk_tokens
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // === repeated-span inventory =============================================
  /** span1: the most widely repeated 5-gram spans across distinct
    * documents — the boilerplate inventory a substring-level dedup or
    * template-strip pass starts from (doc-level Jaccard like dd2 finds
    * near-duplicate DOCUMENTS; this finds the repeated SPANS
    * themselves). Reuses the dd2 shingle extraction (in-row n-gram
    * transform, per-doc distinct), one map-side-combinable count
    * keyed on the span, and a top-k that compiles to
    * TakeOrderedAndProject — span strings only ever shuffle as
    * (span, partial count) pairs.
    */
  def repeatedSpans(s: SparkSession, dir: String, n: Int = 5, minDocs: Int = 3,
      k: Int = 25): DataFrame = {
    Dedup.shingles(s, dir, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("shingle")).limit(k)
  }

  def repeatedSpansSql(n: Int = 5, minDocs: Int = 3, k: Int = 25): String = {
    val terms = (0 until n).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |           i -> concat_ws(' ', $terms))) AS shingle
       |    FROM toks WHERE len(t) >= $n))
       |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM sh GROUP BY shingle HAVING COUNT(*) >= $minDocs
       |ORDER BY n_docs DESC, shingle LIMIT $k""".stripMargin
  }

  // === memorization-risk audit =============================================
  /** mem1: per-source exposure to cross-document repeated 5-gram spans —
    * the memorization-risk report an LLM-data owner reads next to dd2's
    * near-dup pairs (span1 inventories the repeated SPANS; this scores
    * the DOCUMENTS carrying them, rolled up per source). A doc's risky
    * grams are its distinct 5-grams appearing in >= `minDocs` distinct
    * documents; sources are scored by how many docs carry any, and what
    * fraction of their gram mass is repeated (Lee et al. 2022 showed
    * exactly these spans are what models memorize and regurgitate).
    *
    * Scale shape: shingling is map-only (reuses [[Dedup.shingles]], the
    * dd2/span1 stream); gram doc-counts ride ONE gram-keyed exchange as
    * a count window (the dfCapped pattern — spill-backed per-gram
    * buffering, no broadcast, no second pass over the shingle stream);
    * per-doc and per-source rollups are map-combinable with bounded
    * key spaces.
    * All counters are exact BIGINTs; the one DOUBLE is a final guarded
    * division.
    */
  def memorizationRisk(s: SparkSession, dir: String, n: Int = 5,
      minDocs: Int = 3): DataFrame = {
    // SINGLE tokenize pass (the cont3 pattern): gram_docs rides a count
    // window over the shingle — the same key the old groupBy+self-join
    // shuffled on — so the gram count lands on every (doc, gram) row
    // without a second reference to the shingle stream. The r20 form
    // pinned one shingle exchange under two consumers and claimed
    // ReusedExchange; the static (bench-regime, AQE-off) plan showed 2
    // Generates and NO reuse — tokenize ran twice (VERDICT r20 #3).
    // Restructuring to one reference is the robust fix: 4 -> 3
    // exchanges, 2 -> 1 Generates, A/B sf0.1 warm-min 1.28 -> 1.23 s.
    val sh = Dedup.shingles(s, dir, n)
      .withColumn("gram_docs",
        count(lit(1)).over(Window.partitionBy(col("shingle"))))
    val perDoc = sh
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast(LongType).as("n_grams"),
        sum(when(col("gram_docs") >= minDocs, 1L).otherwise(0L)).as("n_risky"))
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        sum(when(col("n_risky") > 0, 1L).otherwise(0L)).as("n_risky_docs"),
        coalesce(sum(col("n_grams")), lit(0L)).as("total_grams"),
        coalesce(sum(col("n_risky")), lit(0L)).as("risky_grams"))
      .select(col("source"), col("n_docs"), col("n_risky_docs"),
        col("total_grams"), col("risky_grams"),
        when(col("total_grams") > 0,
          col("risky_grams").cast(DoubleType) / col("total_grams").cast(DoubleType))
          .as("risky_frac"))
      .orderBy(col("source"))
  }

  def memorizationRiskSql(n: Int = 5, minDocs: Int = 3): String = {
    val terms = (0 until n).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |           i -> concat_ws(' ', $terms))) AS shingle
       |    FROM toks WHERE len(t) >= $n)),
       |gd AS (SELECT shingle, COUNT(*) AS gram_docs FROM sh GROUP BY shingle),
       |pd AS (SELECT doc_id, COUNT(*) AS n_grams,
       |         SUM(CASE WHEN gram_docs >= $minDocs THEN 1 ELSE 0 END) AS n_risky
       |       FROM sh JOIN gd USING (shingle) GROUP BY doc_id)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n_risky > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_docs,
       |  CAST(COALESCE(SUM(n_grams), 0) AS BIGINT) AS total_grams,
       |  CAST(COALESCE(SUM(n_risky), 0) AS BIGINT) AS risky_grams,
       |  CASE WHEN COALESCE(SUM(n_grams), 0) > 0
       |       THEN CAST(COALESCE(SUM(n_risky), 0) AS DOUBLE)
       |            / CAST(COALESCE(SUM(n_grams), 0) AS DOUBLE) END AS risky_frac
       |FROM documents d LEFT JOIN pd USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin
  }

  // === corpus composition report ===========================================
  /** rep1: the per-(source, language) corpus report card — document and
    * token counts plus the quality-kept fraction, the first table a
    * corpus owner reads before touching mixture weights. Composes the
    * verified txt6 verdict by doc_id (the pipe1 join discipline: one
    * boolean and one int per doc cross the join, never text); the
    * rollup itself is map-side combinable with a (sources × languages)-
    * bounded key space at any scale.
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val q = docQualityFilter(s, dir).select(col("doc_id"), col("keep"), col("n_tokens"))
    t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang"))
      .join(q, "doc_id")
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n_tokens").cast(LongType)).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"), col("n_kept"),
        (col("n_kept").cast(DoubleType) / col("n_docs").cast(DoubleType)).as("kept_ratio"))
      .orderBy(col("source"), col("lang"))
  }

  val corpusReportSql: String =
    s"""WITH q AS (SELECT doc_id, keep, n_tokens FROM ($docQualityFilterSql) tq),
       |d AS (SELECT doc_id, source, lang FROM documents)
       |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS kept_ratio
       |FROM d JOIN q USING (doc_id)
       |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // === mixture balancing ===================================================
  /** smp3: re-balance the corpus toward uniform language shares — each
    * language's keep rate is (total/k)/n_l capped at 1, applied with
    * the deterministic md5-fraction coin (salted differently from smp1,
    * so the two sampling passes are independent). The rate table is a
    * language-bounded aggregate broadcast back over the corpus; the
    * keep decision is map-only, zero data shuffle, identical keep set
    * on any engine or cluster.
    */
  def mixtureBalance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val tot = byLang.agg(
      sum(col("n_l")).cast(LongType).as("n"), count(lit(1)).cast(LongType).as("k"))
    val rate = least(lit(1.0),
      (col("n").cast(DoubleType) / col("k").cast(DoubleType)) / col("n_l").cast(DoubleType))
    val rates = byLang.crossJoin(broadcast(tot)).select(col("lang"), rate.as("rate"))
    val frac = md5Frac(lit("mix"), col("lang"), col("doc_id"))
    docs.join(broadcast(rates), "lang")
      .withColumn("keep_frac", frac)
      .filter(col("keep_frac") < col("rate"))
      .select(col("doc_id"), col("lang"), col("rate"))
      .orderBy(col("doc_id"))
  }

  val mixtureBalanceSql: String =
    s"""WITH d AS (SELECT doc_id, lang FROM documents),
      |bl AS (SELECT lang, COUNT(*) AS n_l FROM d GROUP BY lang),
      |t AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k FROM bl),
      |r AS (SELECT lang,
      |        least(1.0, (CAST(n AS DOUBLE) / CAST(k AS DOUBLE)) / CAST(n_l AS DOUBLE))
      |          AS rate
      |      FROM bl CROSS JOIN t),
      |f AS (SELECT doc_id, d.lang, rate,
      |        ${sqlMd5Frac("'mix'", "d.lang", "CAST(doc_id AS VARCHAR)")} AS keep_frac
      |      FROM d JOIN r ON d.lang = r.lang)
      |SELECT doc_id, lang, rate FROM f WHERE keep_frac < rate
      |ORDER BY doc_id""".stripMargin

  // === character-class profile =============================================
  /** txt13: per-document character-class fractions (digits, uppercase,
    * whitespace, punctuation) — the casing/symbol-noise quality signals
    * next to txt1's token stats. Counts are length deltas after
    * stripping each class (one regex pass per class, map-only); each
    * fraction is a single IEEE division over identical integer operands
    * on both engines.
    */
  def docCharClasses(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text"))
    def cnt(pat: String) = n - length(regexp_replace(col("text"), pat, ""))
    def frac(c: Column) =
      when(col("n_chars") > 0, c.cast(DoubleType) / col("n_chars")).otherwise(lit(null))
    dFan(s, dir)
      .select(col("doc_id"),
        n.cast(IntegerType).as("n_chars"),
        cnt("[0-9]").cast(IntegerType).as("n_digits"),
        cnt("[A-Z]").cast(IntegerType).as("n_upper"),
        cnt("\\s").cast(IntegerType).as("n_space"),
        cnt("[^a-zA-Z0-9\\s]").cast(IntegerType).as("n_punct"))
      .withColumn("digit_frac", frac(col("n_digits")))
      .withColumn("upper_frac", frac(col("n_upper")))
      .withColumn("punct_frac", frac(col("n_punct")))
      .orderBy(col("doc_id"))
  }

  val docCharClassesSql: String =
    """WITH c AS (
      |  SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS n_digits,
      |    CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INTEGER) AS n_upper,
      |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_space,
      |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS INTEGER) AS n_punct
      |  FROM documents)
      |SELECT doc_id, n_chars, n_digits, n_upper, n_space, n_punct,
      |  CASE WHEN n_chars > 0 THEN CAST(n_digits AS DOUBLE) / n_chars ELSE NULL END AS digit_frac,
      |  CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE) / n_chars ELSE NULL END AS upper_frac,
      |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE NULL END AS punct_frac
      |FROM c ORDER BY doc_id""".stripMargin

  // === token-count histogram ===============================================
  /** hist1: per-source histogram of document token counts in fixed
    * 16-token buckets with an overflow bucket — the length-distribution
    * profile a curation pass reads before choosing packing budgets and
    * length filters. Integer bucket arithmetic only; one map-side
    * combinable groupBy whose key space is sources × 9 buckets.
    */
  def tokenHistogram(s: SparkSession, dir: String, width: Int = 16, maxBucket: Int = 8): DataFrame = {
    val bucket = least(floor(tokenCount(col("text")) / lit(width.toDouble)).cast(IntegerType),
      lit(maxBucket))
    Par.fanOut(t(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), bucket.as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("bucket"), col("n_docs").cast(LongType).as("n_docs"),
        (col("bucket") * width).as("lo_tokens"),
        when(col("bucket") < maxBucket, (col("bucket") + 1) * width)
          .otherwise(lit(null)).as("hi_tokens"))
      .orderedSmall(col("source"), col("bucket"))
  }

  def tokenHistogramSql(width: Int = 16, maxBucket: Int = 8): String =
    s"""WITH b AS (
       |  SELECT source,
       |    least(CAST(FLOOR(CAST(length(string_split_regex(lower(trim(text)), '\\s+'))
       |                          AS INTEGER) / $width.0) AS INTEGER), $maxBucket) AS bucket
       |  FROM documents)
       |SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  bucket * $width AS lo_tokens,
       |  CASE WHEN bucket < $maxBucket THEN (bucket + 1) * $width ELSE NULL END AS hi_tokens
       |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  // === PII scan / redaction ================================================
  /** red1: per-document PII detection counts (emails, dashed/dotted
    * phone numbers, IPv4 addresses) plus the length of the text after
    * redacting all three — the scrubbing stage every public-corpus
    * pipeline runs before release. Patterns are written in the common
    * subset of Java regex and RE2 (character classes, bounded repeats,
    * word boundaries; no backreferences or lookaround), so both engines
    * match identical spans. Map-only, one pass, text never shuffles.
    */
  val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePat = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def docPiiScan(s: SparkSession, dir: String): DataFrame = {
    val lo = lower(col("text"))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(lo, emailPat, "<EMAIL>"),
        phonePat, "<PHONE>"),
      ipv4Pat, "<IP>")
    dFan(s, dir)
      .select(col("doc_id"),
        regexp_count(lo, lit(emailPat)).cast(IntegerType).as("n_emails"),
        regexp_count(lo, lit(phonePat)).cast(IntegerType).as("n_phones"),
        regexp_count(lo, lit(ipv4Pat)).cast(IntegerType).as("n_ips"),
        length(redacted).cast(IntegerType).as("redacted_len"))
      .withColumn("has_pii", (col("n_emails") + col("n_phones") + col("n_ips")) > 0)
      .orderBy(col("doc_id"))
  }

  val docPiiScanSql: String = {
    // RE2 needs the same escapes; single-quoted SQL literals keep one backslash
    val (e, p, i) = ("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
      "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
    s"""SELECT doc_id,
       |  CAST(length(regexp_extract_all(lower(text), '$e')) AS INTEGER) AS n_emails,
       |  CAST(length(regexp_extract_all(lower(text), '$p')) AS INTEGER) AS n_phones,
       |  CAST(length(regexp_extract_all(lower(text), '$i')) AS INTEGER) AS n_ips,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(lower(text),
       |    '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$i', '<IP>', 'g'))
       |    AS INTEGER) AS redacted_len,
       |  (length(regexp_extract_all(lower(text), '$e'))
       |   + length(regexp_extract_all(lower(text), '$p'))
       |   + length(regexp_extract_all(lower(text), '$i'))) > 0 AS has_pii
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // === BM25 retrieval scoring ==============================================
  /** srch1: BM25 document ranking for the corpus's own top non-stopword
    * terms — the retrieval-scoring surface (quality-classifier features,
    * seed-document search) on top of the txt12 tf/df machinery. The
    * query is data-derived but deterministic: the nTerms most frequent
    * non-stopword tokens (ties by token text). Per-(doc, term) BM25
    * contributions are micros-rounded (one rounding absorbs libm ulp,
    * the txt11/txt12 argument) and summed as integers, so the final
    * ranking is engine-stable. Shape at 100 TB: tf/df are the txt12
    * wordcount shuffles; the query-term and corpus-stats sides are
    * broadcast scalars; the final top-k is TakeOrdered, never a global
    * sort.
    */
  def bm25TopDocs(s: SparkSession, dir: String, k: Int = 50, nTerms: Int = 5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // dl, df and the per-token corpus count all ride along the tf rows
    // as windows (dl = per-doc sum of tf, df = per-token row count, the
    // query ranking key = per-token sum of tf) — the separate
    // dl/df/qterms aggregates joined back re-ran the tokenize+tf
    // shuffle per consumer (5 corpus explodes; the round-11 plan-audit
    // lesson). Corpus scalars come from a scan that never explodes.
    val ex = dFan(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = ex.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("ctf", sum(col("tf")).over(Window.partitionBy(col("tok"))))
    val stats = t(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("total_toks"))
    // top-k over the vocabulary = TakeOrdered, never a global sort
    val qterms = tf
      .filter(!col("tok").isInCollection(stopwords) && length(col("tok")) > 0)
      .select(col("tok"), col("ctf")).distinct()
      .orderBy(col("ctf").desc, col("tok"))
      .limit(nTerms)
      .select(col("tok"))
    // identical IEEE sequence on both engines: idf and the length-normalized
    // saturation computed in doubles, ONE micros rounding per (doc, term)
    val nd = col("n_docs").cast(DoubleType)
    val dfd = col("df").cast(DoubleType)
    val avgdl = col("total_toks").cast(DoubleType) / nd
    val idf = log(lit(1.0) + (nd - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val tfd = col("tf").cast(DoubleType)
    val sat = tfd * lit(k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast(DoubleType) / avgdl)))
    val scoreM = floor(idf * sat * 1000000L + 0.5).cast(LongType)
    tf.join(broadcast(qterms), "tok")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(scoreM).as("score_m"))
      .select(col("doc_id"), col("n_terms_matched").cast(LongType).as("n_terms_matched"),
        col("score_m").cast(LongType).as("score_m"))
      .orderBy(col("score_m").desc, col("doc_id"))
      .limit(k)
  }

  def bm25TopDocsSql(k: Int = 50, nTerms: Int = 5, k1: Double = 1.2, b: Double = 0.75): String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ex AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY 1),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_toks FROM dl),
       |q AS (SELECT tok FROM ex
       |  WHERE tok NOT IN ($stopList) AND length(tok) > 0
       |  GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT $nTerms),
       |sc AS (
       |  SELECT tf.doc_id,
       |    CAST(FLOOR(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |               / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * ${k1 + 1.0}
       |         / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b
       |              * (CAST(dl AS DOUBLE)
       |                 / (CAST(total_toks AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       |      * 1000000 + 0.5) AS BIGINT) AS score_m
       |  FROM tf JOIN q USING (tok) JOIN df USING (tok)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       |  CAST(SUM(score_m) AS BIGINT) AS score_m
       |FROM sc GROUP BY doc_id
       |ORDER BY score_m DESC, doc_id LIMIT $k""".stripMargin
  }

  // === srch3: Dirichlet query-likelihood retrieval =========================
  /** srch3: query-likelihood ranking with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the language-model scoring function next to
    * srch1's BM25: score(Q,D) = Σ_t log((tf(t,D) + μ·P(t|C)) / (dl(D)
    * + μ)), μ = 2000, over the SAME deterministic query (the nTerms
    * most frequent non-stopword tokens, ties by text). Unlike BM25,
    * every document scores against every query term (the smoothed
    * zero-tf contribution is what makes the model proper), so the
    * scoring frame is n_docs × nTerms — linear, never quadratic. Each
    * term's log is micros-rounded once (the srch1/txt11 argument) and
    * summed as integers; final top-k is TakeOrdered.
    * Shape at 100 TB: tf/ctf ride the one tokenize shuffle with
    * windows (round-11 lesson); query terms and corpus scalars are
    * broadcast; the per-doc dl comes from a scan that never explodes.
    */
  def qlmTopDocs(s: SparkSession, dir: String, k: Int = 50, nTerms: Int = 5,
      mu: Double = 2000.0): DataFrame = {
    val ex = dFan(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = ex.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("ctf", sum(col("tf")).over(Window.partitionBy(col("tok"))))
    val qterms = tf
      .filter(!col("tok").isInCollection(stopwords) && length(col("tok")) > 0)
      .select(col("tok"), col("ctf")).distinct()
      .orderBy(col("ctf").desc, col("tok"))
      .limit(nTerms)
    // NULL-text docs produce no explode rows, so the oracle's dl CTE
    // never sees them — filter symmetrically (size(null array) is -1)
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("dl"))
    val stats = docs.agg(sum(col("dl")).as("total_toks"))
    val tfq = tf.join(broadcast(qterms.select(col("tok"))), "tok")
      .select(col("doc_id"), col("tok"), col("tf"))
    val tf0 = coalesce(col("tf"), lit(0L)).cast(DoubleType)
    val pC = col("ctf").cast(DoubleType) / col("total_toks").cast(DoubleType)
    val termM = floor(log((tf0 + lit(mu) * pC) / (col("dl").cast(DoubleType) + lit(mu)))
      * 1000000L + 0.5).cast(LongType)
    docs.crossJoin(broadcast(qterms))
      .crossJoin(broadcast(stats))
      .join(tfq, Seq("doc_id", "tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("tf").isNotNull, 1L).otherwise(0L)).as("n_terms_matched"),
        sum(termM).as("score_m"))
      .select(col("doc_id"), col("n_terms_matched").cast(LongType).as("n_terms_matched"),
        col("score_m").cast(LongType).as("score_m"))
      .orderBy(col("score_m").desc, col("doc_id"))
      .limit(k)
  }

  def qlmTopDocsSql(k: Int = 50, nTerms: Int = 5, mu: Double = 2000.0): String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ex AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
       |ctf AS (SELECT tok, SUM(tf) AS ctf FROM tf GROUP BY 1),
       |q AS (SELECT tok, ctf FROM ctf
       |  WHERE tok NOT IN ($stopList) AND length(tok) > 0
       |  ORDER BY ctf DESC, tok LIMIT $nTerms),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM ex GROUP BY 1),
       |st AS (SELECT SUM(dl) AS total_toks FROM dl),
       |sc AS (
       |  SELECT dl.doc_id, q.tok, tf.tf,
       |    CAST(FLOOR(
       |      ln((CAST(COALESCE(tf.tf, 0) AS DOUBLE)
       |          + $mu * (CAST(q.ctf AS DOUBLE) / CAST(total_toks AS DOUBLE)))
       |         / (CAST(dl AS DOUBLE) + $mu))
       |      * 1000000 + 0.5) AS BIGINT) AS term_m
       |  FROM dl CROSS JOIN q CROSS JOIN st
       |       LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.tok = q.tok)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN tf IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_matched,
       |  CAST(SUM(term_m) AS BIGINT) AS score_m
       |FROM sc GROUP BY doc_id
       |ORDER BY score_m DESC, doc_id LIMIT $k""".stripMargin
  }

  // === srch2: hybrid retrieval (reciprocal-rank fusion) ====================
  /** Lexical + dense hybrid retrieval, fused with RRF — the standard
    * production shape for combining a term index with an embedding
    * index (score = sum over systems of 1/(K + rank), K = 60). Queries
    * are the first `nQueries` documents (vec_id == doc_id in this
    * corpus): the lexical ranking is distinct-token Jaccard through an
    * inverted-index join (the dd2 shape — candidates only where a token
    * is shared, never all-pairs), the dense ranking is sim1's exact
    * cosine top-k, and the fusion is one full-outer join per (query,
    * doc) candidate. Each RRF term is a single IEEE division and a doc
    * contributes at most two terms, so the score is order-independent
    * and bit-identical on both engines.
    *
    * Shape at 100 TB: the query side of both rankings is broadcast; the
    * corpus sides are the verified srch1/sim1 scale paths; the fusion
    * join touches only the 2*k*nQueries ranked candidates.
    */
  def hybridRetrieval(s: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 10, rrfK: Int = 60): DataFrame = {
    val toks = Par.fanOut(graft.Engine.table(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
    val nTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val shared = toks.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(toks.select(col("doc_id").as("n_id"), col("tok")), "tok")
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id")).agg(count(lit(1)).as("shared"))
    val wLex = Window.partitionBy(col("q_id")).orderBy(col("jacc").desc, col("n_id"))
    val lex = shared
      .join(nTok.select(col("doc_id").as("q_id"), col("n_tok").as("nq")), "q_id")
      .join(nTok.select(col("doc_id").as("n_id"), col("n_tok").as("nd")), "n_id")
      .withColumn("jacc", col("shared").cast(DoubleType) /
        (col("nq") + col("nd") - col("shared")).cast(DoubleType))
      .withColumn("lex_rnk", row_number().over(wLex))
      .filter(col("lex_rnk") <= k)
      .select(col("q_id"), col("n_id"), col("lex_rnk"))
    val dense = Similarity.cosineTopK(s, dir, k, nQueries)
      .select(col("q_id"), col("n_id"), col("rnk").as("dense_rnk"))
    val wRrf = Window.partitionBy(col("q_id")).orderBy(col("rrf_score").desc, col("n_id"))
    lex.join(dense, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (col("lex_rnk") + rrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("dense_rnk") + rrfK), lit(0.0)))
      .withColumn("rrf_rank", row_number().over(wRrf))
      .filter(col("rrf_rank") <= k)
      .select(col("q_id"), col("n_id"),
        col("lex_rnk").cast(IntegerType).as("lex_rnk"),
        col("dense_rnk").cast(IntegerType).as("dense_rnk"),
        col("rrf_score"), col("rrf_rank").cast(IntegerType).as("rrf_rank"))
      .orderBy(col("q_id"), col("rrf_rank"))
  }

  def hybridRetrievalSql(k: Int = 10, nQueries: Int = 10, rrfK: Int = 60): String =
    s"""WITH dtoks AS (
       |  SELECT doc_id, UNNEST(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
       |  FROM documents),
       |ntok AS (SELECT doc_id, COUNT(*) AS n_tok FROM dtoks GROUP BY 1),
       |shared AS (
       |  SELECT q.doc_id AS q_id, d.doc_id AS n_id, COUNT(*) AS shared
       |  FROM dtoks q JOIN dtoks d ON q.tok = d.tok
       |  WHERE q.doc_id < $nQueries AND q.doc_id <> d.doc_id
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY CAST(shared AS DOUBLE)
       |               / CAST(nq.n_tok + nd.n_tok - shared AS DOUBLE) DESC, n_id)
       |      AS lex_rnk
       |  FROM shared
       |  JOIN ntok nq ON nq.doc_id = shared.q_id
       |  JOIN ntok nd ON nd.doc_id = shared.n_id),
       |lexk AS (SELECT q_id, n_id, lex_rnk FROM lex WHERE lex_rnk <= $k),
       |dense AS (
       |  SELECT q_id, n_id, rnk AS dense_rnk
       |  FROM (${Similarity.cosineTopKSql(k, nQueries)}) d0),
       |f AS (
       |  SELECT COALESCE(l.q_id, d.q_id) AS q_id, COALESCE(l.n_id, d.n_id) AS n_id,
       |    l.lex_rnk, d.dense_rnk
       |  FROM lexk l FULL OUTER JOIN dense d ON l.q_id = d.q_id AND l.n_id = d.n_id),
       |sc AS (
       |  SELECT q_id, n_id, lex_rnk, dense_rnk,
       |    COALESCE(CAST(1 AS DOUBLE) / CAST(lex_rnk + $rrfK AS DOUBLE), CAST(0 AS DOUBLE))
       |    + COALESCE(CAST(1 AS DOUBLE) / CAST(dense_rnk + $rrfK AS DOUBLE), CAST(0 AS DOUBLE))
       |      AS rrf_score
       |  FROM f),
       |r AS (
       |  SELECT q_id, n_id, lex_rnk, dense_rnk, rrf_score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, n_id) AS rrf_rank
       |  FROM sc)
       |SELECT q_id, n_id, CAST(lex_rnk AS INTEGER) AS lex_rnk,
       |  CAST(dense_rnk AS INTEGER) AS dense_rnk, rrf_score,
       |  CAST(rrf_rank AS INTEGER) AS rrf_rank
       |FROM r WHERE rrf_rank <= $k ORDER BY q_id, rrf_rank""".stripMargin

  // === per-document boilerplate fraction ===================================
  /** span2: the fraction of each document's distinct 5-gram spans that
    * are corpus boilerplate (spans shared by >= minDocs documents) —
    * span1 builds the boilerplate inventory, this is the per-document
    * verdict a template-strip pass acts on. One inverted-index join on
    * the span (the dd2 shape, never all-pairs) and a map-side
    * combinable per-doc aggregate; the fraction is one IEEE division
    * over identical integer operands. Documents shorter than n tokens
    * have no spans and are absent, matching span1/cont1 semantics.
    */
  def boilerplateFraction(s: SparkSession, dir: String, n: Int = 5, minDocs: Int = 3): DataFrame = {
    val sh = Dedup.shingles(s, dir, n)
    val counts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("ndocs"))
    sh.join(counts, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_spans").cast(LongType).as("n_spans"),
        col("n_boiler").cast(LongType).as("n_boiler"),
        (col("n_boiler").cast(DoubleType) / col("n_spans")).as("boilerplate_frac"))
      .orderBy(col("doc_id"))
  }

  def boilerplateFractionSql(n: Int = 5, minDocs: Int = 3): String = {
    val terms = (0 until n).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - ${n - 1}),
       |           i -> concat_ws(' ', $terms))) AS shingle
       |    FROM toks WHERE len(t) >= $n)),
       |c AS (SELECT shingle, COUNT(*) AS ndocs FROM sh GROUP BY shingle)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN ndocs >= $minDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(SUM(CASE WHEN ndocs >= $minDocs THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS boilerplate_frac
       |FROM sh JOIN c USING (shingle)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // === Zipf rank-frequency slope ===========================================
  /** zipf1: the log-log slope of the corpus's token rank-frequency
    * curve over the top-N tokens — natural text tracks Zipf's law
    * (slope near -1); a strongly deviating slope is a corpus-level
    * quality/synthetic-text signal. The top-N ranking is TakeOrdered;
    * the least-squares fit runs on ln values rounded once to 1e-4
    * (absorbing libm ulp; the scale cancels out of the slope formula,
    * and the bounded magnitudes keep every integer sum exactly
    * representable), aggregated over the N-row bounded result.
    */
  def zipfSlope(s: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    val sc = 10000.0
    val ranked = topTokens(s, dir, topN)
      .withColumn("rank", row_number().over(w))
    val xm = floor(log(col("rank").cast(DoubleType)) * sc + 0.5).cast(LongType)
    val ym = floor(log(col("n").cast(DoubleType)) * sc + 0.5).cast(LongType)
    def d(c: Column) = c.cast(DoubleType)
    ranked.select(xm.as("x"), ym.as("y"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("m").cast(LongType).as("n_terms"),
        Exact.dround((d(col("m")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (d(col("m")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))), 4).as("zipf_slope"))
  }

  def zipfSlopeSql(topN: Int = 100): String =
    s"""WITH top AS (
       |  SELECT token, COUNT(*) AS n
       |  FROM (SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
       |        FROM documents)
       |  WHERE length(token) > 0
       |  GROUP BY token ORDER BY n DESC, token LIMIT $topN),
       |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank FROM top),
       |pts AS (
       |  SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS x,
       |         CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS y
       |  FROM r)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  ${Exact.sqlDround(
      """(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x*y) AS DOUBLE)
       |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
       |   / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x*x) AS DOUBLE)
       |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))""".stripMargin, 4)}
       |  AS zipf_slope
       |FROM pts""".stripMargin

  // === learned-style quality classifier (linear margin) ===================
  /** qc1: a fasttext-style learned quality classifier applied at corpus
    * scale — a fixed linear model over cheap per-document features
    * (capped token count, stopword fraction, capped mean token length,
    * digit fraction), emitting the decision margin and the keep
    * verdict. The sigmoid is deliberately NOT applied: it is monotone,
    * so thresholding the margin at 0 IS the classifier, and skipping it
    * keeps the operator free of libm exp() — every arithmetic step is
    * an IEEE op both engines execute in the same textual order, so the
    * margin is bit-portable without absorbing transcendental ulp.
    * Weights are representative constants (a deployment would paste its
    * trained coefficients). Shape at 100 TB: map-only over the
    * documents scan — no shuffle but the output sort.
    */
  def qualityMargin(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast(DoubleType)
    val nNonSpace = length(regexp_replace(col("text"), "\\s", "")).cast(DoubleType)
    val nDigit = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast(DoubleType)
    val stop = size(filter(toks, x => x.isInCollection(stopwords))).cast(DoubleType)
    val f1 = least(nTok / lit(256.0), lit(1.0))
    val f2 = stop / nTok
    val f3 = least(nNonSpace / nTok / lit(8.0), lit(1.0))
    val f4 = nDigit / length(col("text")).cast(DoubleType)
    val margin = lit(-1.2) + lit(2.0) * f1 + lit(1.5) * f2 + lit(0.8) * f3 - lit(3.0) * f4
    dFan(s, dir)
      .select(col("doc_id"), size(toks).cast(IntegerType).as("n_tokens"),
        Exact.dround(margin, 6).as("quality_margin"))
      .withColumn("quality_pass", col("quality_margin") > 0.0)
      .orderBy(col("doc_id"))
  }

  val qualityMarginSql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    val toks = "string_split_regex(lower(trim(text)), '\\s+')"
    val nTok = s"CAST(length($toks) AS DOUBLE)"
    val nNonSpace = "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)"
    val nDigit = "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)"
    val stop = s"CAST(length(list_filter($toks, x -> x IN ($stopList))) AS DOUBLE)"
    val f1 = s"LEAST($nTok / 256.0, 1.0)"
    val f2 = s"($stop / $nTok)"
    val f3 = s"LEAST($nNonSpace / $nTok / 8.0, 1.0)"
    val f4 = s"($nDigit / CAST(length(text) AS DOUBLE))"
    val margin = s"-1.2 + 2.0 * $f1 + 1.5 * $f2 + 0.8 * $f3 - 3.0 * $f4"
    s"""SELECT doc_id, CAST(length($toks) AS INTEGER) AS n_tokens,
       |  ${Exact.sqlDround(margin, 6)} AS quality_margin,
       |  ${Exact.sqlDround(margin, 6)} > 0.0 AS quality_pass
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // === BPE merge learning: the pair-count step ============================
  /** bpe1: the inner counting step of BPE merge learning — the
    * character-pair frequencies that decide the next merge rule. Word
    * frequencies are counted once (the standard BPE preprocessing:
    * identical words share one entry), then each distinct word
    * contributes its adjacent character pairs weighted by its corpus
    * count, and the top pairs surface. Iterating (apply the winning
    * merge, recount) is the full tokenizer-training loop; each
    * iteration is this operator re-run over the rewritten symbol
    * sequences. Shape at 100 TB: the wordcount shuffle is map-side
    * combined onto the token domain (vocabulary-bounded, not
    * volume-bounded); pair generation runs over DISTINCT words — corpus
    * volume only changes the counts, not the explode size — and the
    * final aggregate's key space is the pair alphabet. Top-k via
    * TakeOrdered, no global sort. Unicode-safe: substrings are
    * character-based in both engines, so zh pairs count like latin.
    */
  def bpePairCounts(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val wc = dFan(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .filter(char_length(col("tok")) >= 2)
    val pairs = transform(sequence(lit(1), char_length(col("tok")) - 1),
      i => col("tok").substr(i, lit(2)))
    wc.select(explode(pairs).as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).cast(LongType).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  def bpePairCountsSql(topK: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |wc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
       |       HAVING length(tok) >= 2),
       |p AS (
       |  SELECT substring(tok, UNNEST(generate_series(1, length(tok) - 1)), 2) AS pair, c
       |  FROM wc)
       |SELECT pair, CAST(SUM(c) AS BIGINT) AS n
       |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT $topK""".stripMargin

  // === bpe2: iterative BPE merge training ==================================
  val bpeMergeIters = 6

  /** bpe2: the full BPE tokenizer-training loop bpe1 is one step of —
    * learn the first `iters` merge rules over the corpus vocabulary.
    * Standard trainer shape (Sennrich et al., 2016): word frequencies
    * are counted ONCE (the corpus-scale shuffle — vocabulary-bounded
    * key space), then every iteration counts adjacent symbol pairs over
    * the DISTINCT words weighted by their counts, takes the most
    * frequent pair (ties: count desc, then left/right symbol ascending
    * — deterministic on both engines), and rewrites every word's symbol
    * sequence with the merge applied greedily left-to-right.
    *
    * Representation trick shared with the oracle: a word's symbol
    * sequence is the string `|s1||s2|...|sn|` (each symbol wrapped in
    * sentinels; words are restricted to [a-z0-9]+ so '|' never occurs
    * in a symbol). Applying merge (a,b) is then one non-overlapping
    * left-to-right `replace(r, '|a||b|', '|ab|')` — exactly greedy BPE,
    * because each symbol carries its OWN sentinels so consecutive
    * matches stay intact ([a,b,a,b] -> [ab,ab]; [a,a,a] -> [aa,a]).
    *
    * Scale: every iteration's aggregate runs over the vocabulary, not
    * the corpus (identical words share one entry — corpus volume only
    * changes the counts); the winning pair is ONE collected row per
    * iteration (the bounded driver tier, like sim4's centroids). The
    * DuckDB oracle computes the same loop as `iters` chained CTE levels
    * entirely in SQL — no mirrored driver logic.
    */
  def bpeMergeTraining(s: SparkSession, dir: String, iters: Int = bpeMergeIters): DataFrame = {
    val wc = dFan(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").rlike("^[a-z0-9]+$") && char_length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    var repr = wc.select(
      concat_ws("", transform(split(col("tok"), ""),
        ch => concat(lit("|"), ch, lit("|")))).as("r"),
      col("c")).cache()
    // the whole (vocab-bounded) cache chain lives until the loop ends:
    // each rewrite layer is materialized lazily by the NEXT iteration's
    // top-pair aggregate instead of an eager count() per iteration —
    // six cache-scan jobs removed from every training run (guide §1.2:
    // fewer passes). Layers unpersist together below; each holds one
    // (string, long) row per distinct word.
    val layers = scala.collection.mutable.ArrayBuffer(repr)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    val pieces = expr("regexp_extract_all(r, '\\\\|([^|]+)\\\\|', 1)")
    for (i <- 1 to iters) {
      val top = repr.select(col("c"), pieces.as("ps"))
        .filter(size(col("ps")) >= 2)
        .select(col("c"), explode(zip_with(
          slice(col("ps"), lit(1), size(col("ps")) - 1),
          slice(col("ps"), lit(2), size(col("ps")) - 1),
          (a, b) => struct(a.as("p1"), b.as("p2")))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(sum(col("c")).cast(LongType).as("n"))
        .orderBy(col("n").desc, col("p1"), col("p2"))
        .limit(1).collect()
      require(top.nonEmpty, s"bpe2: vocabulary exhausted after ${i - 1} merges (iters=$iters)")
      // the collect above materialized layer i-1 (= repr), so layer i-2
      // is now dead weight — only the immediate parent is ever re-read.
      // Keep at most two cached layers instead of iters (ADVICE r20:
      // storage otherwise grows as iters x vocabulary).
      if (layers.size >= 2) layers.remove(layers.size - 2).unpersist()
      val (p1, p2, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((i, p1, p2, p1 + p2, n))
      val next = repr.select(
        expr(s"replace(r, '|$p1||$p2|', '|$p1$p2|')").as("r"), col("c")).cache()
      layers += next
      repr = next
    }
    layers.foreach(_.unpersist())
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      merges.map { case (i, l, r, m, n) => org.apache.spark.sql.Row(i, l, r, m, n) }.asJava,
      StructType(Seq(
        StructField("merge_rank", IntegerType), StructField("lhs", StringType),
        StructField("rhs", StringType), StructField("merged", StringType),
        StructField("pair_count", LongType))))
      .orderBy(col("merge_rank"))
  }

  /** The shared merge-learning CTE chain (CTEs `toks wc r0` + per-level
    * `ex/cnt/top/r` up to `iters`) — ONE definition consumed by the
    * bpe2 AND tok5 oracles, so the learned merges cannot drift between
    * them. Every CTE a later level references more than once is
    * MATERIALIZED: inlining would re-evaluate the whole prefix chain
    * per reference (3 scalar subqueries per level -> 3^iters blowup,
    * measured >10 min at sf0.1 vs 1 s materialized).
    */
  private def bpeMergeSqlCtes(iters: Int): String = {
    val levels = (1 to iters).map { j =>
      val prev = s"r${j - 1}"
      s"""ex$j AS (
         |  SELECT c, ps, UNNEST(generate_series(1, len(ps) - 1)) AS i
         |  FROM (SELECT c, regexp_extract_all(r, '\\|([^|]+)\\|', 1) AS ps FROM $prev)
         |  WHERE len(ps) >= 2),
         |cnt$j AS (
         |  SELECT ps[i] AS p1, ps[i+1] AS p2, CAST(SUM(c) AS BIGINT) AS n
         |  FROM ex$j GROUP BY 1, 2),
         |top$j AS MATERIALIZED (SELECT p1, p2, n FROM cnt$j ORDER BY n DESC, p1, p2 LIMIT 1),
         |r$j AS MATERIALIZED (
         |  SELECT replace(r,
         |      '|' || (SELECT p1 FROM top$j) || '||' || (SELECT p2 FROM top$j) || '|',
         |      '|' || (SELECT p1 FROM top$j) || (SELECT p2 FROM top$j) || '|') AS r, c
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |wc AS (SELECT tok, COUNT(*) AS c FROM toks
       |       WHERE regexp_matches(tok, '^[a-z0-9]+$$') AND length(tok) >= 2
       |       GROUP BY 1),
       |r0 AS (
       |  SELECT array_to_string(list_transform(string_split(tok, ''),
       |           ch -> '|' || ch || '|'), '') AS r, c
       |  FROM wc),
       |$levels""".stripMargin
  }

  def bpeMergeTrainingSql(iters: Int = bpeMergeIters): String = {
    val out = (1 to iters).map(j =>
      s"SELECT $j AS merge_rank, p1 AS lhs, p2 AS rhs, p1 || p2 AS merged, n AS pair_count FROM top$j")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeMergeSqlCtes(iters)}
       |SELECT CAST(merge_rank AS INTEGER) AS merge_rank, lhs, rhs, merged, pair_count
       |FROM ($out) ORDER BY merge_rank""".stripMargin
  }

  // === tok5: encode the corpus with the learned merges =====================
  /** tok5: the consumer side of bpe2 — tokenize every document with the
    * learned merge table and report the per-document piece statistics a
    * token-budget planner needs (pieces per word = the fertility of the
    * TRAINED tokenizer, vs tok2's fixed-regex proxy). The merge rules
    * arrive as literals (bpe2's bounded driver tier); encoding is then
    * a FIXED chain of `iters` sentinel replaces — pure map-side string
    * work fused into the scan, one map-side-combinable doc aggregate.
    * The oracle re-learns the merges in SQL via the shared CTE chain
    * and applies the same replaces, so the two engines' merge tables
    * are independently derived.
    */
  def bpeEncode(s: SparkSession, dir: String, iters: Int = bpeMergeIters): DataFrame = {
    val merges = bpeMergeTraining(s, dir, iters).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val wrapped = concat_ws("", transform(split(col("tok"), ""),
      ch => concat(lit("|"), ch, lit("|"))))
    val encoded = merges.foldLeft(wrapped) { case (r, (p1, p2)) =>
      call_function("replace", r, lit(s"|$p1||$p2|"), lit(s"|$p1$p2|"))
    }
    val nPieces = size(regexp_extract_all(encoded, lit("\\|([^|]+)\\|"), lit(1)))
    dFan(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").rlike("^[a-z0-9]+$"))
      .select(col("doc_id"), char_length(col("tok")).as("n_ch"), nPieces.as("np"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("n_ch")).cast(LongType).as("n_chars"),
        sum(col("np")).cast(LongType).as("n_pieces"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_pieces"),
        (col("n_pieces").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("pieces_per_token"))
      .orderBy(col("doc_id"))
  }

  def bpeEncodeSql(iters: Int = bpeMergeIters): String = {
    val encChain = (1 to iters).foldLeft("r") { (acc, j) =>
      s"""replace($acc,
         |      '|' || (SELECT p1 FROM top$j) || '||' || (SELECT p2 FROM top$j) || '|',
         |      '|' || (SELECT p1 FROM top$j) || (SELECT p2 FROM top$j) || '|')""".stripMargin
    }
    s"""WITH ${bpeMergeSqlCtes(iters)},
       |dtok AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |q AS (SELECT doc_id, tok FROM dtok WHERE regexp_matches(tok, '^[a-z0-9]+$$')),
       |e0 AS (
       |  SELECT doc_id, length(tok) AS n_ch,
       |    array_to_string(list_transform(string_split(tok, ''),
       |      ch -> '|' || ch || '|'), '') AS r
       |  FROM q),
       |pc AS (
       |  SELECT doc_id, n_ch,
       |    len(regexp_extract_all($encChain, '\\|([^|]+)\\|', 1)) AS np
       |  FROM e0)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(np) AS BIGINT) AS n_pieces,
       |  CAST(SUM(np) AS DOUBLE) / COUNT(*) AS pieces_per_token
       |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // === tok6: Heaps'-law vocabulary growth curve ============================
  /** tok6: cumulative vocabulary size against cumulative token mass in
    * doc_id order — the empirical Heaps'-law curve (V ~ k*N^beta) that
    * predicts how much NEW vocabulary further crawling buys, the
    * capacity-planning input for vocabulary builds (tok1) and
    * tokenizer training (bpe2). Exact and order-deterministic: a
    * token's first occurrence is MIN(doc_id) over the wordcount (one
    * corpus shuffle, vocabulary-bounded), so the curve is two running
    * sums over the doc-bounded table — no sampling, no global sort of
    * raw tokens. Output: one row per document with the corpus token
    * and vocabulary totals after it.
    */
  def heapsCurve(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ex = dFan(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val perDoc = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    // per (token): first doc; then per doc: how many tokens debut there
    val debuts = ex.groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    perDoc.join(debuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_tokens", sum(col("n_toks")).over(wOrd).cast(LongType))
      .withColumn("cum_vocab", sum(col("n_new")).over(wOrd).cast(LongType))
      .select(col("doc_id"), col("cum_tokens"), col("cum_vocab"))
      .orderBy(col("doc_id"))
  }

  val heapsCurveSql: String =
    """WITH ex AS (
      |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |pd AS (SELECT doc_id, COUNT(*) AS n_toks FROM ex GROUP BY 1),
      |db AS (SELECT MIN(doc_id) AS doc_id FROM ex GROUP BY tok),
      |dn AS (SELECT doc_id, COUNT(*) AS n_new FROM db GROUP BY 1)
      |SELECT pd.doc_id,
      |  CAST(SUM(pd.n_toks) OVER (ORDER BY pd.doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(dn.n_new, 0)) OVER (ORDER BY pd.doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      |FROM pd LEFT JOIN dn ON pd.doc_id = dn.doc_id
      |ORDER BY pd.doc_id""".stripMargin

  // === cross-source vocabulary overlap ====================================
  /** js1: pairwise Jaccard similarity between the sources' distinct
    * token vocabularies — the corpus-composition diagnostic behind
    * mixture design (two sources whose vocabularies barely overlap
    * contribute complementary coverage; near-identical vocabularies
    * flag redundant crawls). Shape at 100 TB: the (source, token)
    * distinct is one map-side-combinable shuffle whose key space is
    * sources × vocabulary (vocabulary grows sub-linearly with the
    * corpus — the txt11 argument); the pair intersection is an
    * inverted-index self-join on the token key, never a doc-level
    * cross product; and the result is |sources|²-bounded, so it sorts
    * in one task. The Jaccard divides two exact integers in one IEEE
    * op.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // vocab sizes ride ALONG the rows as a window count instead of a
    // separate aggregate joined back: a star-shaped reuse of `v` would
    // re-run the tokenize+distinct per consumer (Spark's per-branch
    // column pruning defeats exchange reuse), re-reading the corpus
    // 4x — measured in the round-11 plan audit
    val wSz = Window.partitionBy(col("source"))
    val v = Par.fanOut(t(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
      .withColumn("n_types", count(lit(1)).over(wSz).cast(LongType))
    v.select(col("source").as("source_a"), col("tok"), col("n_types").as("n_types_a"))
      .join(v.select(col("source").as("source_b"), col("tok"), col("n_types").as("n_types_b")),
        Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("n_types_a")).as("n_types_a"), max(col("n_types_b")).as("n_types_b"),
        count(lit(1)).cast(LongType).as("n_common"))
      .select(col("source_a"), col("source_b"), col("n_types_a"), col("n_types_b"),
        col("n_common"),
        (col("n_common").cast(DoubleType)
          / (col("n_types_a") + col("n_types_b") - col("n_common")).cast(DoubleType))
          .as("jaccard"))
      .orderedSmall(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    """WITH v AS (
      |  SELECT DISTINCT source,
      |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types FROM v GROUP BY source),
      |inter AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b,
      |  sa.n_types AS n_types_a, sb.n_types AS n_types_b, n_common,
      |  CAST(n_common AS DOUBLE)
      |    / CAST(sa.n_types + sb.n_types - n_common AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN sz sa ON sa.source = source_a
      |JOIN sz sb ON sb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  // === sentence statistics =================================================
  /** txt14: per-document sentence segmentation statistics — sentence
    * count, total sentence characters, and mean sentence length (the
    * readability/quality signal a heuristic filter thresholds on;
    * degenerate single-sentence walls of text and fragment storms both
    * sit in the tails). Sentences split on [.!?]+ runs; whitespace-only
    * fragments don't count. Map-only over the text column — no
    * shuffle at any scale. The mean divides two exact integers in one
    * IEEE op; zero-sentence docs report 0.0 on both engines.
    */
  /** Sentence segments of `text`: [.!?]+ runs split, whitespace-only
    * fragments dropped — the ONE segmentation rule txt14 and txt15
    * share (a tweak here must move both, and Round11OpsSpec pins their
    * agreement).
    */
  def sentences: Column =
    filter(split(col("text"), "[.!?]+"), x => length(trim(x)) > 0)

  def sentenceStats(s: SparkSession, dir: String): DataFrame = {
    val sents = sentences
    dFan(s, dir)
      .select(col("doc_id"), sents.as("sents"))
      .select(col("doc_id"),
        size(col("sents")).cast(LongType).as("n_sentences"),
        aggregate(col("sents"), lit(0L), (acc, x) => acc + length(trim(x)))
          .as("sent_chars"))
      .select(col("doc_id"), col("n_sentences"), col("sent_chars"),
        when(col("n_sentences") > 0,
          col("sent_chars").cast(DoubleType) / col("n_sentences").cast(DoubleType))
          .otherwise(lit(0.0)).as("avg_sent_chars"))
      .orderBy(col("doc_id"))
  }

  val sentenceStatsSql: String =
    """WITH sp AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[.!?]+'),
      |                x -> length(trim(x)) > 0) AS sents
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
      |    CAST(COALESCE(list_sum(list_transform(sents, x -> length(trim(x)))), 0)
      |         AS BIGINT) AS sent_chars
      |  FROM sp)
      |SELECT doc_id, n_sentences, sent_chars,
      |  CASE WHEN n_sentences > 0
      |       THEN CAST(sent_chars AS DOUBLE) / CAST(n_sentences AS DOUBLE)
      |       ELSE 0.0 END AS avg_sent_chars
      |FROM st ORDER BY doc_id""".stripMargin

  // === per-source distribution drift ======================================
  /** drift1: per-source KL divergence from the corpus-wide unigram
    * distribution over the global top-V vocabulary, add-one smoothed —
    * the drift/contamination monitor run when a new crawl slice lands
    * (a source whose token distribution diverges hard from the corpus
    * is mis-scraped, mis-labeled, or genuinely novel; the smoothing
    * keeps zero-count vocabulary terms finite). Shape at 100 TB: ONE
    * wordcount shuffle on (source, token) feeds everything — the
    * global counts reduce the already-aggregated pairs, the top-V cut
    * is TakeOrdered over the vocabulary, and the KL sum runs over the
    * |sources|×V grid (domain-bounded, sorts in one task). Engine
    * parity: p and q are each one IEEE division of exact integers,
    * every KL term is micros-rounded before the exact sum (absorbing
    * last-ulp libm ln differences — the txt11 argument).
    */
  def sourceDrift(s: SparkSession, dir: String, vocabK: Int = 300): DataFrame = {
    // ONE wordcount pass feeds everything (the sel1 discipline): the
    // corpus-scale shuffle happens once for the per-(source, token)
    // counts, the global counts and the top-V membership ride along as
    // windows over that bounded table, and the zero-fill grid joins a
    // broadcast vocab whose per-corpus scalars (g_n, realized size vv —
    // smoothing by the REALIZED size is what keeps both distributions
    // normalized and Gibbs' KL >= 0) are empty-frame window constants
    // instead of separate aggregate branches. A star-shaped reuse of
    // the wordcount re-ran the tokenize+aggregate per consumer (6
    // corpus scans in the round-11 plan audit — per-branch column
    // pruning defeats exchange reuse).
    val wTok = Window.partitionBy(col("tok"))
    val wAll = Window.partitionBy()
    val wSrc = Window.partitionBy(col("source"))
    val wc = Par.fanOut(t(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("gc", sum(col("c")).over(wTok))
    // top-V over the DISTINCT vocabulary = TakeOrdered (an unpartitioned
    // rank window here would funnel the whole wordcount through one task)
    val vocab = wc.select(col("tok"), col("gc")).distinct()
      .orderBy(col("gc").desc, col("tok")).limit(vocabK)
      .withColumn("g_n", sum(col("gc")).over(wAll))
      .withColumn("vv", count(lit(1)).over(wAll))
    val sources = t(s, dir, "documents").select(col("source")).distinct()
    val cnt = sources.crossJoin(broadcast(vocab))
      .join(wc.select(col("source"), col("tok"), col("c")), Seq("source", "tok"), "left")
      .select(col("source"), col("tok"), col("gc"), col("g_n"), col("vv"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("s_n", sum(col("c")).over(wSrc))
    val p = (col("c") + 1).cast(DoubleType) / (col("s_n") + col("vv")).cast(DoubleType)
    val q = (col("gc") + 1).cast(DoubleType) / (col("g_n") + col("vv")).cast(DoubleType)
    cnt
      .select(col("source"), col("s_n"), (p * log(p / q)).as("term"))
      .groupBy(col("source"))
      .agg(max(col("s_n")).cast(LongType).as("n_vocab_tokens"),
        Exact.dsum(col("term")).as("kl_divergence"))
      .orderedSmall(col("source"))
  }

  def sourceDriftSql(vocabK: Int = 300): String =
    s"""WITH wc AS (
       |  SELECT source, tok, COUNT(*) AS c FROM (
       |    SELECT source,
       |      UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |    FROM documents) GROUP BY 1, 2),
       |gl AS (SELECT tok, SUM(c) AS gc FROM wc GROUP BY tok),
       |vocab AS (SELECT tok, gc FROM gl ORDER BY gc DESC, tok LIMIT $vocabK),
       |gt AS (SELECT SUM(gc) AS g_n, COUNT(*) AS vv FROM vocab),
       |sv AS (SELECT source, tok, gc
       |       FROM (SELECT DISTINCT source FROM wc) CROSS JOIN vocab),
       |cnt AS (
       |  SELECT sv.source, sv.tok, sv.gc, COALESCE(wc.c, 0) AS c
       |  FROM sv LEFT JOIN wc ON sv.source = wc.source AND sv.tok = wc.tok),
       |st AS (SELECT source, SUM(c) AS s_n FROM cnt GROUP BY source),
       |terms AS (
       |  SELECT cnt.source, s_n,
       |    (CAST(c + 1 AS DOUBLE) / CAST(s_n + vv AS DOUBLE))
       |      * ln((CAST(c + 1 AS DOUBLE) / CAST(s_n + vv AS DOUBLE))
       |            / (CAST(gc + 1 AS DOUBLE) / CAST(g_n + vv AS DOUBLE))) AS term
       |  FROM cnt JOIN st USING (source) CROSS JOIN gt)
       |SELECT source, CAST(MAX(s_n) AS BIGINT) AS n_vocab_tokens,
       |  ${Exact.sqlDsum("term")} AS kl_divergence
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // === tokenizer fertility =================================================
  /** tok2: BPE fertility per document — regex-BPE pieces per whitespace
    * word (the tokenizer-efficiency metric a vocabulary decision is
    * judged by: high-fertility text burns context budget; per-language
    * fertility gaps are the standard multilingual-tokenizer complaint).
    * Composes the txt4 piece count with the txt1 word count in ONE
    * map-only projection over the text — no shuffle at any scale. The
    * fertility is one IEEE division of exact integers; wordless docs
    * report 0.0 on both engines.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val pieces = expr(s"regexp_extract_all(text, '${bpePattern.replace("'", "\\'")}', 0)")
    val words = tokens(col("text"))
    dFan(s, dir)
      .select(col("doc_id"),
        size(pieces).cast(LongType).as("n_bpe_pieces"),
        size(words).cast(LongType).as("n_words"))
      .select(col("doc_id"), col("n_bpe_pieces"), col("n_words"),
        when(col("n_words") > 0,
          col("n_bpe_pieces").cast(DoubleType) / col("n_words").cast(DoubleType))
          .otherwise(lit(0.0)).as("fertility"))
      .orderBy(col("doc_id"))
  }

  val bpeFertilitySql: String = {
    val pat = bpePattern.replace("'", "''")
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$pat', 0)) AS BIGINT) AS n_bpe_pieces,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_words
       |  FROM documents)
       |SELECT doc_id, n_bpe_pieces, n_words,
       |  CASE WHEN n_words > 0
       |       THEN CAST(n_bpe_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
       |       ELSE 0.0 END AS fertility
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // === readability score ===================================================
  /** txt15: Flesch-style reading-ease per document from three map-only
    * counts — whitespace words, [.!?]+ sentences (the txt14 rule), and
    * vowel-group syllables (runs of [aeiouy] in the lowered text; the
    * standard cheap syllable proxy). The classic filter for
    * age/complexity stratification of a training corpus. No shuffle at
    * any scale. Engine parity: both ratios are IEEE divisions of exact
    * integers, the score is the identical literal-constant arithmetic
    * sequence on both engines, rounded once to 6 decimals; docs
    * without words or sentences report 0.0.
    */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val words = size(tokens(col("text"))).cast(LongType)
    val sents = size(sentences).cast(LongType)
    val syls = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast(LongType)
    val wps = col("n_words").cast(DoubleType) / col("n_sentences").cast(DoubleType)
    val spw = col("n_syllables").cast(DoubleType) / col("n_words").cast(DoubleType)
    dFan(s, dir)
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        syls.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") > 0 && col("n_sentences") > 0,
          Exact.dround(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6))
          .otherwise(lit(0.0)).as("flesch_score"))
      .orderBy(col("doc_id"))
  }

  val readabilitySql: String =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
       |                         x -> length(trim(x)) > 0)) AS BIGINT) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)
       |      AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  CASE WHEN n_words > 0 AND n_sentences > 0
       |       THEN ${Exact.sqlDround(
      "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) " +
        "- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))", 6)}
       |       ELSE 0.0 END AS flesch_score
       |FROM c ORDER BY doc_id""".stripMargin

  // === cur1: curriculum phases =============================================
  /** Curriculum-learning schedule: the corpus split into three
    * easy-to-hard phases by Flesch reading ease (txt15's score —
    * easiest documents first, the standard curriculum axis), with each
    * phase's document count, token budget and score envelope. The
    * global tercile rank uses the clv1 bucket-histogram construction
    * (floor(score) buckets are domain-bounded — Flesch lives in a few
    * hundred integer buckets at any corpus size — so no data-sized
    * single-task sort exists anywhere in the plan); the oracle computes
    * the identical rank with one flat ROW_NUMBER.
    */
  def curriculumPhases(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = readability(s, dir)
      .select(col("doc_id"), col("n_words"), col("flesch_score"))
      .withColumn("b", floor(col("flesch_score")).cast(LongType))
    val wB = Window.orderBy(col("b").desc).rowsBetween(Window.unboundedPreceding, -1)
    val hist = r.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wB), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      .select(col("b").as("hb"), col("offset"), col("n"))
    val wInB = Window.partitionBy(col("b")).orderBy(col("flesch_score").desc, col("doc_id"))
    r.join(hist, col("b") === col("hb"))
      .withColumn("rank", col("offset") + row_number().over(wInB))
      .withColumn("phase", expr("((rank - 1) * 3) div n").cast(IntegerType))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast(LongType).as("n_tokens"),
        min(col("flesch_score")).as("min_score"),
        max(col("flesch_score")).as("max_score"))
      .orderedSmall(col("phase"))
  }

  def curriculumPhasesSql: String =
    s"""WITH rk AS (
       |  SELECT doc_id, n_words, flesch_score,
       |    ROW_NUMBER() OVER (ORDER BY flesch_score DESC, doc_id) AS rank,
       |    COUNT(*) OVER () AS n
       |  FROM ($readabilitySql) r0)
       |SELECT CAST(((rank - 1) * 3) // n AS INTEGER) AS phase,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       |  MIN(flesch_score) AS min_score,
       |  MAX(flesch_score) AS max_score
       |FROM rk GROUP BY 1 ORDER BY phase""".stripMargin

  // === deterministic global shuffle into shards ===========================
  /** shuf1: the training-data shuffle — every document assigned a
    * pseudo-random shard and an in-shard position, deterministically
    * (the md5 order of the smp1 hash family, salted "shuf" so this
    * permutation is independent of every sampling coin). A training
    * run reads shard files sequentially and sees the corpus in
    * hash-random order; the assignment is identical on any engine,
    * cluster size, or rerun — no materialized randomness. Shape at
    * 100 TB: the shard key is map-only; the in-shard position is a
    * row_number window partitioned BY SHARD — each shard sorts 1/N of
    * the ids (ids only, never text), which IS the standard distributed
    * shuffle-write; no global ordering bottleneck.
    */
  def globalShuffle(s: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val okey = conv(substring(md5(concat_ws("#", lit("shuf"), col("doc_id"))), 1, 15), 16, 10)
      .cast(LongType)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("okey"), col("doc_id"))
    dFan(s, dir).select(col("doc_id"))
      .withColumn("okey", okey)
      .withColumn("shard", (col("okey") % nShards).cast(IntegerType))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  def globalShuffleSql(nShards: Int = 8): String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(concat_ws('#', 'shuf', doc_id)), 1, 15))::BIGINT
       |         AS BIGINT) AS okey
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, okey, CAST(okey % $nShards AS INTEGER) AS shard FROM k)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS BIGINT)
       |    AS pos
       |FROM sh ORDER BY doc_id""".stripMargin

  // === shuf2: shuffle-interleave quality audit =============================
  /** How well shuf1's deterministic global shuffle interleaves sources:
    * per shard, the rate of ADJACENT positions drawn from the same
    * source, against the expected same-source collision rate of a
    * uniform random order (Σ share_s² over the global source mix). A
    * ratio near 1 is what a training run wants; >> 1 means source runs
    * survived the shuffle and gradient batches are correlated. One lag
    * window per shard over ids only (text never moves); the source mix
    * is a broadcast one-row aggregate.
    */
  def interleaveAudit(s: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val sh = globalShuffle(s, dir, nShards)
    val src = Engine.table(s, dir, "documents").select(col("doc_id"), col("source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
    val adj = sh.join(src, "doc_id")
      .withColumn("prev_source", lag(col("source"), 1).over(w))
    val per = adj.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("prev_source") === col("source"), 1L).otherwise(0L)).as("n_same_adj"))
    // DECIMAL(38,0) for the squared terms: c² and n_total² overflow
    // BIGINT past ~3e9 documents (Spark would wrap silently while the
    // oracle errors — the iaa1 widening argument)
    val mix = src.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast(Exact.D380) * col("c").cast(Exact.D380)).as("sum_c2"),
        sum(col("c")).as("n_total"))
    per.crossJoin(broadcast(mix))
      .select(col("shard"), col("n_docs"), col("n_same_adj"),
        when(col("n_docs") > 1L,
          col("n_same_adj").cast(DoubleType) / (col("n_docs") - 1L).cast(DoubleType))
          .as("same_rate"),
        (col("sum_c2").cast(DoubleType) /
          (col("n_total").cast(Exact.D380) * col("n_total").cast(Exact.D380))
            .cast(DoubleType)).as("expected_rate"))
      .withColumn("ratio", col("same_rate") / col("expected_rate"))
      .orderedSmall(col("shard"))
  }

  def interleaveAuditSql(nShards: Int = 8): String =
    s"""WITH sh AS (SELECT * FROM (${globalShuffleSql(nShards)}) q),
       |adj AS (
       |  SELECT sh.shard, d.source,
       |    LAG(d.source) OVER (PARTITION BY sh.shard ORDER BY sh.pos) AS prev_source
       |  FROM sh JOIN documents d USING (doc_id)),
       |per AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN prev_source = source THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_same_adj
       |  FROM adj GROUP BY 1),
       |mix AS (
       |  SELECT SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sum_c2,
       |    SUM(c) AS n_total
       |  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY source) m)
       |SELECT shard, n_docs, n_same_adj,
       |  CASE WHEN n_docs > 1
       |    THEN CAST(n_same_adj AS DOUBLE) / CAST(n_docs - 1 AS DOUBLE) END AS same_rate,
       |  CAST(CAST(sum_c2 AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(CAST(n_total AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))
       |        AS VARCHAR) AS DOUBLE) AS expected_rate,
       |  (CASE WHEN n_docs > 1
       |    THEN CAST(n_same_adj AS DOUBLE) / CAST(n_docs - 1 AS DOUBLE) END)
       |   / (CAST(CAST(sum_c2 AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(CAST(n_total AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))
       |          AS VARCHAR) AS DOUBLE)) AS ratio
       |FROM per, mix ORDER BY shard""".stripMargin

  // === interpolated trigram LM ============================================
  /** lm2: trigram conditional probabilities with Jelinek-Mercer
    * interpolation — for every observed (w1, w2) context its top-k
    * successors by 0.6·P(w3|w1,w2) + 0.4·P(w3|w2), the backoff-smoothed
    * table a stronger next-token scorer reads where lm1's raw bigrams
    * saturate. Both component probabilities are integer micros (one
    * rounding each over bit-identical divisions) and the mix is pure
    * integer arithmetic, so ranking ties resolve identically on both
    * engines. Shape at 100 TB: triple and pair extraction are map-only
    * in-row zips; both count tables are map-side-combinable shuffles
    * whose key spaces are vocabulary-bounded; context totals ride along
    * as windows over those bounded tables (the round-11 single-pass
    * discipline); the bigram side broadcasts while the vocabulary
    * fits, and the top-k window shuffles counts, never text.
    */
  def trigramLm(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("w1"), col("w2"))
      .orderBy(col("mix_micro").desc, col("w3"))
    val triples = dFan(s, dir)
      .select(tokens(col("text")).as("toks")).filter(size(col("toks")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2"),
          element_at(col("toks"), i + 2).as("w3")))).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
    val pairs = dFan(s, dir)
      .select(tokens(col("text")).as("toks")).filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w2"),
          element_at(col("toks"), i + 1).as("w3")))).as("p"))
      .select(col("p.w2").as("w2"), col("p.w3").as("w3"))
    val c3 = triples.groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("tri_n"))
      .withColumn("ctx3_n",
        sum(col("tri_n")).over(Window.partitionBy(col("w1"), col("w2"))))
    val c2 = pairs.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("pair_n"))
      .withColumn("ctx2_n", sum(col("pair_n")).over(Window.partitionBy(col("w2"))))
      .select(col("w2"), col("w3"),
        floor(col("pair_n").cast(DoubleType) / col("ctx2_n").cast(DoubleType)
          * 1000000L + 0.5).cast(LongType).as("p2_micro"))
    c3
      .select(col("w1"), col("w2"), col("w3"), col("tri_n"),
        floor(col("tri_n").cast(DoubleType) / col("ctx3_n").cast(DoubleType)
          * 1000000L + 0.5).cast(LongType).as("p3_micro"))
      .join(broadcast(c2), Seq("w2", "w3"))
      // integer mix (div, not /): micros stay exact far below 2^63 and
      // both engines take the same integral floor
      .withColumn("mix_micro",
        expr("(p3_micro * 6 + p2_micro * 4) div 10").cast(LongType))
      .withColumn("succ_rank", row_number().over(w).cast(LongType))
      .filter(col("succ_rank") <= k)
      .select(col("w1"), col("w2"), col("succ_rank"), col("w3"), col("tri_n"),
        col("p3_micro"), col("mix_micro"))
      .orderBy(col("w1"), col("w2"), col("succ_rank"))
  }

  def trigramLmSql(k: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |tri AS (
       |  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
       |  FROM toks CROSS JOIN UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |  WHERE len(t) >= 3),
       |pr AS (
       |  SELECT t[i] AS w2, t[i+1] AS w3
       |  FROM toks CROSS JOIN UNNEST(generate_series(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 2),
       |c3 AS (
       |  SELECT w1, w2, w3, COUNT(*) AS tri_n,
       |    SUM(COUNT(*)) OVER (PARTITION BY w1, w2) AS ctx3_n
       |  FROM tri GROUP BY 1, 2, 3),
       |c2 AS (
       |  SELECT w2, w3,
       |    CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
       |      / CAST(SUM(COUNT(*)) OVER (PARTITION BY w2) AS DOUBLE)
       |      * 1000000 + 0.5) AS BIGINT) AS p2_micro
       |  FROM pr GROUP BY 1, 2),
       |sc AS (
       |  SELECT w1, c3.w2, c3.w3, tri_n,
       |    CAST(FLOOR(CAST(tri_n AS DOUBLE) / CAST(ctx3_n AS DOUBLE)
       |         * 1000000 + 0.5) AS BIGINT) AS p3_micro,
       |    (CAST(FLOOR(CAST(tri_n AS DOUBLE) / CAST(ctx3_n AS DOUBLE)
       |         * 1000000 + 0.5) AS BIGINT) * 6 + p2_micro * 4) // 10 AS mix_micro
       |  FROM c3 JOIN c2 ON c3.w2 = c2.w2 AND c3.w3 = c2.w3),
       |r AS (
       |  SELECT w1, w2, w3, tri_n, p3_micro, CAST(mix_micro AS BIGINT) AS mix_micro,
       |    ROW_NUMBER() OVER (PARTITION BY w1, w2 ORDER BY mix_micro DESC, w3) AS succ_rank
       |  FROM sc)
       |SELECT w1, w2, CAST(succ_rank AS BIGINT) AS succ_rank, w3, tri_n,
       |  p3_micro, mix_micro
       |FROM r WHERE succ_rank <= $k ORDER BY w1, w2, succ_rank""".stripMargin

  // === per-language character trigram table ================================
  /** gram2: the per-language character-trigram frequency table — the
    * model a data-driven language identifier is TRAINED from (txt2
    * applies a fixed heuristic; this builds the table that replaces
    * it). Top-k trigrams per language by count with share in micros.
    * Shape at 100 TB: trigram extraction is a map-only in-row substring
    * zip; the count is one map-side-combinable shuffle keyed on
    * (lang, trigram) — bounded by |langs| × |charset|³, not corpus
    * size; language totals ride along as windows over that bounded
    * table; the top-k is a per-language window over counts.
    */
  def charTrigrams(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("trigram"))
    Par.fanOut(t(s, dir, "documents").select(col("lang"), col("text")))
      .select(col("lang"), lower(trim(col("text"))).as("txt"))
      .filter(char_length(col("txt")) >= 3)
      .select(col("lang"), explode(transform(
        sequence(lit(1), char_length(col("txt")) - 2),
        i => col("txt").substr(i, lit(3)))).as("trigram"))
      .groupBy(col("lang"), col("trigram")).agg(count(lit(1)).as("n"))
      .withColumn("lang_n", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk").cast(LongType).as("rnk"), col("trigram"),
        col("n").cast(LongType).as("n"),
        floor(col("n").cast(DoubleType) / col("lang_n").cast(DoubleType)
          * 1000000L + 0.5).cast(LongType).as("share_micro"))
      .orderBy(col("lang"), col("rnk"))
  }

  def charTrigramsSql(k: Int = 10): String =
    s"""WITH d AS (SELECT lang, lower(trim(text)) AS txt FROM documents
       |           WHERE length(lower(trim(text))) >= 3),
       |g AS (
       |  SELECT lang, substring(txt, i, 3) AS trigram
       |  FROM d CROSS JOIN UNNEST(generate_series(1, length(txt) - 2)) AS u(i)),
       |c AS (
       |  SELECT lang, trigram, COUNT(*) AS n,
       |    SUM(COUNT(*)) OVER (PARTITION BY lang) AS lang_n
       |  FROM g GROUP BY 1, 2),
       |r AS (
       |  SELECT lang, trigram, n, lang_n,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, trigram) AS rnk
       |  FROM c)
       |SELECT lang, CAST(rnk AS BIGINT) AS rnk, trigram, CAST(n AS BIGINT) AS n,
       |  CAST(FLOOR(CAST(n AS DOUBLE) / CAST(lang_n AS DOUBLE) * 1000000 + 0.5)
       |       AS BIGINT) AS share_micro
       |FROM r WHERE rnk <= $k ORDER BY lang, rnk""".stripMargin

  // === token-budget allocation across languages ===========================
  /** mix2: the mixture PLAN — a training token budget (half the corpus,
    * data-derived so the operator is meaningful at any scale factor)
    * allocated across languages: uniform target per language, capped by
    * availability, with the shortfall redistributed once in proportion
    * to remaining capacity (the closed-form, loop-free version of
    * water-filling; smp3 samples to rates, THIS computes the rates'
    * integer token grants). Pure integer arithmetic end to end —
    * div/mod targets, remainder granted to the first languages in
    * lexicographic order — so both engines emit one identical plan.
    * Shape at 100 TB: one map-side-combinable token-count aggregate;
    * every window runs over the |langs|-bounded result.
    */
  def tokenAllocation(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy(col("lang")) // |langs| rows — bounded
    val base = Par.fanOut(t(s, dir, "documents").select(col("lang"), col("text")))
      .groupBy(col("lang"))
      .agg(sum(size(tokens(col("text"))).cast(LongType)).as("avail"))
      .withColumn("total", sum(col("avail")).over(wAll))
      .withColumn("n_langs", count(lit(1)).over(wAll))
      .withColumn("budget", expr("total div 2"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("target",
        expr("budget div n_langs") +
          when(col("rn") <= expr("budget % n_langs"), 1L).otherwise(0L))
      .withColumn("alloc1", least(col("avail"), col("target")))
      .withColumn("leftover", col("budget") - sum(col("alloc1")).over(wAll))
      .withColumn("capacity", col("avail") - col("alloc1"))
      .withColumn("cap_total", sum(col("capacity")).over(wAll))
      .withColumn("alloc2",
        when(col("cap_total") > 0,
          least(col("capacity"), expr("(leftover * capacity) div cap_total")))
          .otherwise(0L))
    base
      .select(col("lang"), col("avail"), col("target"),
        (col("alloc1") + col("alloc2")).cast(LongType).as("allocation"),
        ((col("alloc1") + col("alloc2")).cast(DoubleType)
          / col("avail").cast(DoubleType)).as("fill_rate"))
      .orderedSmall(col("lang"))
  }

  val tokenAllocationSql: String =
    """WITH base AS (
      |  SELECT lang,
      |    CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS avail
      |  FROM documents GROUP BY lang),
      |sc AS (
      |  SELECT lang, avail,
      |    SUM(avail) OVER () AS total, COUNT(*) OVER () AS n_langs,
      |    SUM(avail) OVER () // 2 AS budget,
      |    ROW_NUMBER() OVER (ORDER BY lang) AS rn
      |  FROM base),
      |t1 AS (
      |  SELECT lang, avail, budget,
      |    budget // n_langs
      |      + CASE WHEN rn <= budget % n_langs THEN 1 ELSE 0 END AS target
      |  FROM sc),
      |t2 AS (
      |  SELECT lang, avail, budget, target,
      |    LEAST(avail, target) AS alloc1
      |  FROM t1),
      |t3 AS (
      |  SELECT lang, avail, target, alloc1,
      |    budget - SUM(alloc1) OVER () AS leftover,
      |    avail - alloc1 AS capacity,
      |    SUM(avail - alloc1) OVER () AS cap_total
      |  FROM t2)
      |SELECT lang, avail, CAST(target AS BIGINT) AS target,
      |  CAST(alloc1 + CASE WHEN cap_total > 0
      |       THEN LEAST(capacity, (leftover * capacity) // cap_total)
      |       ELSE 0 END AS BIGINT) AS allocation,
      |  CAST(alloc1 + CASE WHEN cap_total > 0
      |       THEN LEAST(capacity, (leftover * capacity) // cap_total)
      |       ELSE 0 END AS DOUBLE) / CAST(avail AS DOUBLE) AS fill_rate
      |FROM t3 ORDER BY lang""".stripMargin

  // === pmi1: PMI collocations ==============================================
  /** Top adjacent-bigram collocations by pointwise mutual information —
    * the phrase-mining pass a tokenizer-training or stopword-curation
    * pipeline runs over a corpus: PMI(w1,w2) = ln((c12/Nb) /
    * ((c1/Nt)·(c2/Nt))) over exact counts, with a min-count floor so
    * rare-pair noise (PMI's classic failure mode) never ranks.
    *
    * Shape at 100 TB: TWO corpus passes — one unigram wordcount, one
    * bigram count — and nothing more: every further reference (the two
    * word-keyed joins, the corpus totals) sits ABOVE one of those two
    * aggregates with an identical subtree, so the exchanges are built
    * once and REUSED. (A first cut tagged unigram/bigram events into
    * one aggregate and filtered per consumer — but filters on group
    * keys push BELOW the aggregate, splitting the subtrees, and the
    * plan re-scanned the corpus six times; plan-pinned now.) Engine
    * parity: PMI is one IEEE tree over exact BIGINT counts,
    * micros-rounded (dround 6) to absorb last-ulp libm ln differences
    * before it becomes the sort key (the drift1 / txt11 argument) —
    * with bit-identical keys the ORDER BY agrees.
    */
  def pmiCollocations(s: SparkSession, dir: String, minCount: Int = 5,
      k: Int = 25): DataFrame = {
    val toks = Par.fanOut(t(s, dir, "documents").select(col("text")))
      .select(tokens(col("text")).as("t"))
    // the explicit isnotnull filters are semantic no-ops (split never
    // yields null elements) that keep every REFERENCE's subtree
    // identical: the w1/w2 joins below infer isnotnull and push it
    // under the aggregate on their branches only, which would split the
    // canonical subtrees and defeat the exchange reuse this plan counts
    // on (plan-pinned)
    val uni = toks.select(explode(col("t")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    // bigrams as zip(t[1..n-1], t[2..n]) — slice lengths clamp to 0, so
    // a one-token doc yields an empty pair list with no type gymnastics
    // (sequence(1, size-1) would step DOWN through [1,0] on short docs)
    val biLen = greatest(size(col("t")) - 1, lit(0))
    val bi = toks.select(explode(zip_with(
        slice(col("t"), lit(1), biLen), slice(col("t"), lit(2), biLen),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("e"))
      .select(col("e.w1").as("w1"), col("e.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nt = uni.agg(sum(col("cw")).as("nt"))
    val nb = bi.agg(sum(col("c12")).as("nb"))
    val p12 = col("c12").cast(DoubleType) / col("nb").cast(DoubleType)
    val p1 = col("cw1").cast(DoubleType) / col("nt").cast(DoubleType)
    val p2 = col("cw2").cast(DoubleType) / col("nt").cast(DoubleType)
    bi.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("cw1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cw2")), "w2")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c12"),
        Exact.dround(log(p12 / (p1 * p2)), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def pmiCollocationsSql(minCount: Int = 5, k: Int = 25): String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |ucnt AS (
       |  SELECT w, COUNT(*) AS cw
       |  FROM (SELECT UNNEST(t) AS w FROM toks) GROUP BY w),
       |pos AS (
       |  SELECT t, UNNEST(generate_series(1, len(t) - 1)) AS i
       |  FROM toks WHERE len(t) >= 2),
       |bcnt AS (
       |  SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c12
       |  FROM pos GROUP BY 1, 2),
       |tot AS (
       |  SELECT (SELECT SUM(cw) FROM ucnt) AS nt,
       |         (SELECT SUM(c12) FROM bcnt) AS nb),
       |scored AS (
       |  SELECT w1, w2, c12,
       |    ${Exact.sqlDround(
             "ln((CAST(c12 AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
             "((CAST(ca.cw AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
             "(CAST(cb.cw AS DOUBLE) / CAST(nt AS DOUBLE))))", 6)} AS pmi
       |  FROM bcnt JOIN ucnt ca ON ca.w = bcnt.w1
       |            JOIN ucnt cb ON cb.w = bcnt.w2
       |            CROSS JOIN tot
       |  WHERE c12 >= $minCount)
       |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi
       |FROM scored ORDER BY pmi DESC, w1, w2 LIMIT $k""".stripMargin

  // === gram3: n-gram novelty curve ==========================================
  /** Corpus freshness over ingest order: documents bucket by doc_id into
    * ten equal-width slices (the crawl-time proxy this synthetic corpus
    * has), and each bucket reports how many distinct word trigrams
    * DEBUT there — a new slice whose novelty rate collapses is
    * re-crawling what the corpus already holds (the acquisition-side
    * twin of dd*'s dedup: it tells you whether there is anything left
    * to dedup against). Shingles are dd2/dd3's exact 3-gram stream, so
    * the numbers line up with the dedup family's.
    *
    * Shape at 100 TB: ONE shingle pass into a (bucket, shingle)
    * distinct — the corpus-scale shuffle — and both consumers (first-
    * bucket-per-shingle, distinct-per-bucket) aggregate ABOVE that same
    * exchange, so it is built once and reused (the pmi1 lesson); the
    * doc/max scalars ride one cheap projection scan. Output is ten
    * rows; novelty_rate is one exact-integer IEEE division.
    */
  def ngramNovelty(s: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    val docs = t(s, dir, "documents")
    val scalars = docs.agg(max(col("doc_id")).as("max_id"))
    val toks = Par.fanOut(docs.select(col("doc_id"), col("text")))
      .crossJoin(broadcast(scalars))
      .select(least(floor(col("doc_id") * buckets / (col("max_id") + 1)), lit(buckets - 1))
        .cast(IntegerType).as("bucket"),
        col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val pairs = toks
      .select(col("bucket"), explode(transform(sequence(lit(1), size(col("t")) - 2), i =>
        concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1),
          element_at(col("t"), i + 2)))).as("shingle"))
      .distinct()
    val perBucket = pairs.groupBy(col("bucket")).agg(count(lit(1)).as("distinct_grams"))
    val debuts = pairs.groupBy(col("shingle")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_grams"))
    perBucket.join(debuts, Seq("bucket"), "left")
      .select(col("bucket"), col("distinct_grams"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
      .withColumn("novelty_rate",
        col("new_grams").cast(DoubleType) / col("distinct_grams").cast(DoubleType))
      .orderBy(col("bucket"))
  }

  def ngramNoveltySql(buckets: Int = 10): String =
    s"""WITH sc AS (SELECT MAX(doc_id) AS max_id FROM documents),
       |toks AS (
       |  SELECT LEAST((doc_id * $buckets) // (max_id + 1), ${buckets - 1}) AS bucket,
       |         string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents CROSS JOIN sc),
       |pairs AS (
       |  SELECT DISTINCT bucket,
       |    UNNEST(list_transform(generate_series(1, len(t) - 2),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |per_bucket AS (
       |  SELECT bucket, COUNT(*) AS distinct_grams FROM pairs GROUP BY bucket),
       |debuts AS (
       |  SELECT bucket, COUNT(*) AS new_grams FROM (
       |    SELECT shingle, MIN(bucket) AS bucket FROM pairs GROUP BY shingle)
       |  GROUP BY bucket)
       |SELECT CAST(pb.bucket AS INTEGER) AS bucket,
       |  CAST(distinct_grams AS BIGINT) AS distinct_grams,
       |  CAST(COALESCE(new_grams, 0) AS BIGINT) AS new_grams,
       |  CAST(COALESCE(new_grams, 0) AS DOUBLE) / CAST(distinct_grams AS DOUBLE) AS novelty_rate
       |FROM per_bucket pb LEFT JOIN debuts d ON pb.bucket = d.bucket
       |ORDER BY bucket""".stripMargin

  /** tok8: context-length truncation loss — for each candidate training
    * sequence length, the fraction of documents that would truncate and
    * the fraction of corpus tokens lost past the cut. The audit behind
    * choosing a context/packing length; one docstats scan feeds all four
    * aggregate rows (broadcast the 4-row length frame, never the corpus).
    */
  def truncationLoss(s: SparkSession, dir: String,
      lens: Seq[Int] = Seq(64, 128, 256, 512)): DataFrame = {
    import s.implicits._
    val docs = dFan(s, dir).select(size(tokens(col("text"))).cast(LongType).as("n_tok"))
    docs.crossJoin(broadcast(lens.toDF("ctx_len")))
      .groupBy(col("ctx_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > col("ctx_len"), 1L).otherwise(0L)).as("docs_truncated"),
        sum(col("n_tok")).as("total_tokens"),
        sum(greatest(col("n_tok") - col("ctx_len"), lit(0L))).as("tokens_lost"))
      .select(col("ctx_len"), col("n_docs"), col("docs_truncated"),
        (col("docs_truncated").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("frac_docs_truncated"),
        col("total_tokens"), col("tokens_lost"),
        (col("tokens_lost").cast(DoubleType) / col("total_tokens").cast(DoubleType))
          .as("frac_tokens_lost"))
      .orderedSmall(col("ctx_len"))
  }

  def truncationLossSql(lens: Seq[Int] = Seq(64, 128, 256, 512)): String =
    s"""WITH d AS (
       |  SELECT CAST(length(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |ctx AS (SELECT * FROM (VALUES ${lens.map(l => s"($l)").mkString(", ")}) AS v(ctx_len))
       |SELECT ctx_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n_tok > ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
       |  CAST(SUM(CASE WHEN n_tok > ctx_len THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS frac_docs_truncated,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(GREATEST(n_tok - ctx_len, 0)) AS BIGINT) AS tokens_lost,
       |  CAST(SUM(GREATEST(n_tok - ctx_len, 0)) AS DOUBLE)
       |    / CAST(SUM(n_tok) AS DOUBLE) AS frac_tokens_lost
       |FROM d CROSS JOIN ctx GROUP BY ctx_len ORDER BY ctx_len""".stripMargin

  /** smp5: deterministic per-source reservoir — the k smallest md5
    * fractions per stratum ARE a uniform k-sample of it, reproducible
    * across runs and engines (the md5-coin discipline every sampler in
    * this repo rides). Map-side: one shuffle on source for the window.
    */
  def reservoirSample(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val coin = md5Frac(lit("smp5"), col("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(coin.asc, col("doc_id").asc)
    Par.fanOut(t(s, dir, "documents").select(col("source"), col("doc_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderedSmall(col("source"), col("rk"))
  }

  def reservoirSampleSql(k: Int = 5): String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${sqlMd5Frac("'smp5'", "doc_id")} ASC, doc_id ASC) AS rk
       |  FROM documents)
       |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
       |FROM r WHERE rk <= $k ORDER BY source, rk""".stripMargin

  /** fs1: χ² token–source association — the classic feature-selection
    * statistic (Manning–Schütze §5.3.3): for each high-frequency token,
    * does its occurrence distribution across sources diverge from the
    * corpus-wide source shares? Computed EXACTLY via the contingency-row
    * identity χ²_t = N·Σ_s O_ts²/(N_t·N_s) − N_t (absent sources
    * contribute only through the −N_t term, so zero cells never need
    * generating): each cell's term is the integer pico-quotient
    * (O²·10¹²) div (N_t·N_s) in DECIMAL(38,0)/HUGEINT — identical floor
    * division on both engines — and χ²·10⁶ = (N·Σpico − N_t·10¹²)
    * div 10⁶, clamped at 0 against floor underflow. Deterministic to
    * the bit; absolute error < N·|sources|/10¹² (≪ 1e-3 at any SF the
    * gate runs).
    * Shape at 100 TB: ONE corpus scan → map-side-combinable
    * (token, source) count; everything after runs on vocabulary-bounded
    * tables (the tok4 discipline — the top-K rank window orders token
    * TOTALS, never occurrences; the clv1 bucket-histogram rank swaps in
    * if the vocabulary outgrows a task). Exact-integer bound: N·N_t
    * must fit DECIMAL(38,0) — beyond ~10¹⁹ token-occurrences the audit
    * runs per shard.
    */
  def chi2Tokens(s: SparkSession, dir: String, topK: Int = 40): DataFrame = {
    import Par.BoundedOrder
    // ONE corpus scan; every derived total rides a window over the
    // vocabulary-bounded (token, source) count table in the SAME chain —
    // separate groupBys re-scan the corpus per consumer (the round-11
    // star-shape lesson: per-branch pruning defeats exchange reuse)
    val tokSrc = Par.fanOut(t(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("source")).agg(count(lit(1)).as("o"))
    val base = tokSrc
      .withColumn("nr", sum(col("o")).over(Window.partitionBy(col("token"))))
      .withColumn("nc", sum(col("o")).over(Window.partitionBy(col("source"))))
      .withColumn("nn", sum(col("o")).over(Window.partitionBy()))
      .withColumn("srk", dense_rank().over(Window.orderBy(col("source"))))
      .withColumn("n_sources", max(col("srk")).over(Window.partitionBy()))
      // dense_rank over (nr desc, token) on (token, source) rows IS the
      // token's rank among distinct tokens — tie rows share the key
      .withColumn("trk", dense_rank().over(Window.orderBy(col("nr").desc, col("token"))))
      .filter(col("trk") <= topK)
    val pico = expr(
      "(CAST(o AS DECIMAL(38,0)) * o * 1000000000000) div (CAST(nr AS DECIMAL(38,0)) * nc)")
    base
      .groupBy(col("token"))
      .agg(max(col("nr")).as("n_token"), max(col("nn")).as("nn"),
        max(col("n_sources")).as("n_sources"), sum(pico).as("tpico"))
      .select(col("token"), col("n_token"),
        (col("n_sources") - 1).cast(LongType).as("df"),
        greatest(lit(0L), expr(
          "(CAST(nn AS DECIMAL(38,0)) * tpico - CAST(n_token AS DECIMAL(38,0)) * 1000000000000) div 1000000"))
          .as("chi2_micros"))
      .withColumn("chi2", col("chi2_micros").cast(DoubleType) / lit(1000000.0))
      .orderedSmall(col("chi2_micros").desc, col("token"))
  }

  def chi2TokensSql(topK: Int = 40): String =
    s"""WITH ts AS (
       |  SELECT source, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
       |  FROM documents),
       |toksrc AS (
       |  SELECT token, source, COUNT(*) AS o FROM ts WHERE len(token) > 0 GROUP BY 1, 2),
       |tok_tot AS (SELECT token, SUM(o) AS nr FROM toksrc GROUP BY 1),
       |src_tot AS (SELECT source, SUM(o) AS nc FROM toksrc GROUP BY 1),
       |ntot AS (SELECT SUM(nc) AS nn, COUNT(*) AS n_sources FROM src_tot),
       |top AS (
       |  SELECT token, nr FROM (
       |    SELECT token, nr, row_number() OVER (ORDER BY nr DESC, token) AS rk FROM tok_tot)
       |  WHERE rk <= $topK),
       |agg AS (
       |  SELECT c.token, MAX(top.nr) AS n_token, MAX(nn) AS nn,
       |    MAX(n_sources) AS n_sources,
       |    SUM((CAST(o AS HUGEINT) * o * 1000000000000) // (CAST(top.nr AS HUGEINT) * st.nc))
       |      AS tpico
       |  FROM toksrc c
       |   JOIN top ON top.token = c.token
       |   JOIN src_tot st ON st.source = c.source
       |   CROSS JOIN ntot
       |  GROUP BY 1),
       |fin AS (
       |  SELECT token, CAST(n_token AS BIGINT) AS n_token,
       |    CAST(n_sources - 1 AS BIGINT) AS df,
       |    CAST(GREATEST(0, (CAST(nn AS HUGEINT) * tpico
       |      - CAST(n_token AS HUGEINT) * 1000000000000) // 1000000) AS BIGINT) AS chi2_micros
       |  FROM agg)
       |SELECT token, n_token, df, chi2_micros,
       |  CAST(chi2_micros AS DOUBLE) / 1000000.0 AS chi2
       |FROM fin ORDER BY chi2_micros DESC, token""".stripMargin

  // === lm4: Good–Turing frequency-of-frequencies ===========================
  /** lm4: Simple Good–Turing inputs over the corpus unigram counts —
    * the frequency-of-frequencies table N_r (how many token types occur
    * exactly r times), the adjusted count r* = (r+1)·N_{r+1}/N_r (the
    * Good–Turing discount the Katz/SGT smoothers start from; NULL when
    * N_{r+1} is absent — the regime where SGT switches to the fitted
    * line), and each r's share of the corpus mass. The r=1 row's mass
    * share IS the unseen-mass estimate p0 = N_1/N that lm3's Kneser–Ney
    * discount approximates. Exact integers (token counts,
    * N_r, r·N_r) until the two divisions. Shape at 100 TB: ONE
    * wordcount shuffle → a count-of-counts aggregate whose key domain
    * is the distinct FREQUENCY values (≪ vocabulary — Zipf packs most
    * types into tiny r) → one lead window over that bounded table.
    */
  def goodTuring(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = dFan(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("r"))
    val freqOfFreq = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val wAll = Window.partitionBy()
    val wLead = Window.orderBy(col("r"))
    freqOfFreq
      .withColumn("total_tokens", sum(col("r") * col("n_r")).over(wAll))
      .withColumn("r_next", lead(col("r"), 1).over(wLead))
      .withColumn("n_r_next", lead(col("n_r"), 1).over(wLead))
      .select(col("r"), col("n_r"),
        // r* only from the ADJACENT count class: a gap in r means
        // N_{r+1} = 0 and SGT falls to its fitted line — NULL here
        when(col("r_next") === col("r") + 1,
          Exact.dround((col("r") + 1).cast(DoubleType) * col("n_r_next").cast(DoubleType)
            / col("n_r").cast(DoubleType), 9)).as("r_star"),
        Exact.dround(
          (col("r") * col("n_r")).cast(DoubleType) / col("total_tokens").cast(DoubleType), 9)
          .as("mass_share"))
      .orderBy(col("r"))
  }

  val goodTuringSql: String =
    s"""WITH wc AS (
       |  SELECT token, COUNT(*) AS r
       |  FROM (SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
       |        FROM documents)
       |  WHERE length(token) > 0 GROUP BY token),
       |ff AS (SELECT r, COUNT(*) AS n_r FROM wc GROUP BY r),
       |led AS (
       |  SELECT r, n_r, SUM(r * n_r) OVER () AS total_tokens,
       |    LEAD(r) OVER (ORDER BY r) AS r_next,
       |    LEAD(n_r) OVER (ORDER BY r) AS n_r_next
       |  FROM ff)
       |SELECT CAST(r AS BIGINT) AS r, CAST(n_r AS BIGINT) AS n_r,
       |  CASE WHEN r_next = r + 1 THEN ${Exact.sqlDround(
           "CAST(r + 1 AS DOUBLE) * CAST(n_r_next AS DOUBLE) / CAST(n_r AS DOUBLE)", 9)}
       |  END AS r_star,
       |  ${Exact.sqlDround(
           "CAST(r * n_r AS DOUBLE) / CAST(total_tokens AS DOUBLE)", 9)} AS mass_share
       |FROM led ORDER BY r""".stripMargin

  // === lm5: stupid backoff scores ==========================================
  /** lm5: stupid-backoff bigram scores (Brants et al. 2007 — the
    * smoothing web-scale n-gram LMs actually shipped) over the grid of
    * the top-5 context × top-5 successor unigrams: S(w2|w1) =
    * c(w1w2)/c(w1·) when the bigram was seen, else α·c(w2)/N with
    * α = 0.4 — unlike lm3's Kneser–Ney, the backoff branch is a real
    * control-flow fork, and the fixed top-k×top-k grid guarantees BOTH
    * branches execute (frequent unigrams that never co-occur back off).
    * Scores are exact-integer divisions, dround 9; `used_backoff`
    * records the branch per cell. Shape at 100 TB: two map-only corpus
    * extractions (unigrams, adjacent pairs) into vocabulary-bounded
    * count tables; the 25-cell grid rides an eager 5-row checkpoint of
    * the top unigrams (one corpus scan for the unigram chain, not two).
    */
  def stupidBackoff(s: SparkSession, dir: String, kTop: Int = 5,
      alpha: Double = 0.4): DataFrame = {
    val uni = dFan(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .withColumn("n_tokens", sum(col("c1")).over(Window.partitionBy()))
      .withColumn("rnk", row_number().over(Window.orderBy(col("c1").desc, col("w"))))
      .filter(col("rnk") <= kTop)
      .localCheckpoint() // 5 rows feed BOTH grid sides — one scan, not two
    val pairs = dFan(s, dir)
      .select(tokens(col("text")).as("toks")).filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_n"))
      .withColumn("ctx_n", sum(col("pair_n")).over(Window.partitionBy(col("w1"))))
    val grid = uni.select(col("w").as("w1"))
      .crossJoin(uni.select(col("w").as("w2"), col("c1").as("c1_w2"), col("n_tokens")))
    grid.join(c2, Seq("w1", "w2"), "left")
      .select(col("w1"), col("w2"),
        coalesce(col("pair_n"), lit(0L)).as("pair_n"),
        coalesce(col("pair_n"), lit(0L)).equalTo(0L).as("used_backoff"),
        Exact.dround(
          when(coalesce(col("pair_n"), lit(0L)) > 0,
            col("pair_n").cast(DoubleType) / col("ctx_n").cast(DoubleType))
            .otherwise(lit(alpha) * col("c1_w2").cast(DoubleType)
              / col("n_tokens").cast(DoubleType)), 9).as("score"))
      .orderedSmall(col("w1"), col("w2"))
  }

  def stupidBackoffSql(kTop: Int = 5, alpha: Double = 0.4): String =
    s"""WITH toksl AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |uniall AS (SELECT UNNEST(t) AS w FROM toksl),
       |uni AS (SELECT w, COUNT(*) AS c1 FROM uniall GROUP BY 1),
       |top AS (SELECT w, c1, SUM(c1) OVER () AS n_tokens,
       |          ROW_NUMBER() OVER (ORDER BY c1 DESC, w) AS rnk
       |        FROM uni QUALIFY rnk <= $kTop),
       |pr AS (SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2
       |       FROM toksl WHERE len(t) >= 2),
       |c2 AS (SELECT w1, w2, COUNT(*) AS pair_n FROM pr GROUP BY 1, 2),
       |cw AS (SELECT *, SUM(pair_n) OVER (PARTITION BY w1) AS ctx_n FROM c2),
       |grid AS (
       |  SELECT a.w AS w1, b.w AS w2, b.c1 AS c1_w2, b.n_tokens
       |  FROM top a CROSS JOIN top b)
       |SELECT grid.w1, grid.w2,
       |  CAST(COALESCE(pair_n, 0) AS BIGINT) AS pair_n,
       |  COALESCE(pair_n, 0) = 0 AS used_backoff,
       |  ${Exact.sqlDround(
         s"""CASE WHEN COALESCE(pair_n, 0) > 0
       |          THEN CAST(pair_n AS DOUBLE) / CAST(ctx_n AS DOUBLE)
       |          ELSE $alpha * CAST(c1_w2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |     END""".stripMargin, 9)} AS score
       |FROM grid LEFT JOIN cw ON cw.w1 = grid.w1 AND cw.w2 = grid.w2
       |ORDER BY grid.w1, grid.w2""".stripMargin

  // === txt18: term burstiness / clumping ===================================
  /** txt18: term burstiness for the top-20 collection-frequency terms —
    * cf/df (mean occurrences per CONTAINING doc, Church & Gale's
    * burstiness) and the ratio of observed df to the Poisson-expected
    * df* = N·(1 − e^(−cf/N)): content words clump (ratio < 1 — far
    * fewer docs contain them than a uniform scatter predicts) while
    * function words don't, the classic stopword-vs-content signal a
    * quality/weighting pipeline reads next to txt12's tf-idf. cf/df are
    * exact integers; e^(−cf/N) is one libm exp over an identical IEEE
    * quotient, micros-rounded (the drift1 ln discipline). Shape at
    * 100 TB: one corpus scan → (term, doc) pairs → two-phase
    * count/countDistinct into a vocabulary-bounded table; N_docs is a
    * second, count-only documents scan broadcast to the 20-row grid
    * (budget ≤ 2 scans).
    */
  def termBurstiness(s: SparkSession, dir: String, kTop: Int = 20): DataFrame = {
    val nDocs = broadcast(dFan(s, dir).agg(count(lit(1)).as("n_docs")))
    val terms = dFan(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("cf").desc, col("w"))))
      .filter(col("rnk") <= kTop)
    val nd = col("n_docs").cast(DoubleType)
    val dfExp = nd * (lit(1.0) - exp(-col("cf").cast(DoubleType) / nd))
    terms.crossJoin(nDocs)
      .select(col("w").as("term"), col("cf"), col("df"),
        Exact.dround(col("cf").cast(DoubleType) / col("df").cast(DoubleType), 9)
          .as("burstiness"),
        Exact.dround(col("df").cast(DoubleType) / dfExp, 6).as("df_vs_poisson"))
      .orderedSmall(col("cf").desc, col("term"))
  }

  def termBurstinessSql(kTop: Int = 20): String =
    s"""WITH td AS (
       |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |terms AS (
       |  SELECT w, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df,
       |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
       |  FROM td GROUP BY w QUALIFY rnk <= $kTop),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT w AS term, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
       |  ${Exact.sqlDround("CAST(cf AS DOUBLE) / CAST(df AS DOUBLE)", 9)} AS burstiness,
       |  ${Exact.sqlDround(
         "CAST(df AS DOUBLE) / (CAST(n_docs AS DOUBLE) * " +
           "(1.0 - exp(-CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE))))", 6)}
       |    AS df_vs_poisson
       |FROM terms CROSS JOIN nd
       |ORDER BY cf DESC, term""".stripMargin

  // === txt19: corpus character-bigram entropy ==============================
  /** txt19: Shannon entropy of the corpus's character-BIGRAM
    * distribution over the whitespace-normalized lower-cased text — the
    * corpus-level compressibility/diversity signal (natural language
    * sits near 3.5–4.5 bits/bigram; machine-generated or template text
    * collapses toward its repeated transitions; random bytes approach
    * log2 of the alphabet²). Complements txt5's per-doc fingerprint and
    * txt13's unigram char classes with the TRANSITION distribution.
    * H = −Σ p·log2(p), p one IEEE division of exact counts, terms
    * micros-rounded into Exact.dsum (the ev26 discipline, so the sum is
    * order-independent and oracle-identical). Shape at 100 TB: map-only
    * bigram explode → one map-side-combinable count shuffle over a
    * bounded key domain (alphabet², a few thousand) → one-row reduce.
    */
  def charBigramEntropy(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    // explode_OUTER, not explode: a plain explode makes the optimizer
    // infer `size(bs) > 0 AND isnotnull(bs)` and push it below the
    // fan-out exchange, substituting the array expression into the
    // filter — the whole bigram transform (regexp_replace inlined into
    // the per-element substring lambda) re-ran per ELEMENT, twice, in
    // ONE task: 28.2 s at sf0.1. With the outer generate no filter is
    // inferred; short docs emit one NULL row dropped right after the
    // generate. Same rows out, 0.35 s (guide §7.2 "duplicated
    // subtrees"; plans/r20/txt19_char_bigram_entropy_{before,after}).
    val counts = dFan(s, dir)
      .select(norm.as("t"))
      .select(expr(
        "CASE WHEN char_length(t) >= 2 THEN " +
          "transform(sequence(1, char_length(t) - 1), i -> substring(t, i, 2)) " +
          "ELSE array() END").as("bs"))
      .select(explode_outer(col("bs")).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy(lit(1))
    val p = col("c").cast(DoubleType) / col("tot").cast(DoubleType)
    // log2 via ln/ln2 on BOTH engines (a native log2 vs ln/ln2 can
    // differ in the last ulp; same-libm-call parity is the ev26 rule)
    counts
      .withColumn("tot", sum(col("c")).over(wAll))
      .select(col("tot"), (-p * log(p) / lit(math.log(2.0))).as("term"))
      .groupBy()
      .agg(max(col("tot")).cast(LongType).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        Exact.dsum(col("term")).as("entropy_bits"))
  }

  val charBigramEntropySql: String =
    s"""WITH nt AS (
       |  SELECT regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
       |bg AS (
       |  SELECT UNNEST(list_transform(range(1, length(t)), i -> substr(t, i, 2))) AS b
       |  FROM nt),
       |cnt AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
       |wt AS (SELECT c, SUM(c) OVER () AS tot FROM cnt),
       |terms AS (
       |  SELECT tot,
       |    -(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
       |      * ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) / ln(2.0) AS term
       |  FROM wt)
       |SELECT CAST(MAX(tot) AS BIGINT) AS n_bigrams,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |  ${Exact.sqlDsum("term")} AS entropy_bits
       |FROM terms""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt19_char_bigram_entropy" -> ((s: SparkSession, d: String) => charBigramEntropy(s, d)),
    "lm5_stupid_backoff" -> ((s: SparkSession, d: String) => stupidBackoff(s, d)),
    "txt18_term_burstiness" -> ((s: SparkSession, d: String) => termBurstiness(s, d)),
    "lm4_good_turing" -> ((s: SparkSession, d: String) => goodTuring(s, d)),
    "fs1_chi2_tokens" -> ((s: SparkSession, d: String) => chi2Tokens(s, d)),
    "tok8_truncation_loss" -> ((s: SparkSession, d: String) => truncationLoss(s, d)),
    "smp5_reservoir_sample" -> ((s: SparkSession, d: String) => reservoirSample(s, d)),
    "gram3_ngram_novelty" -> ((s: SparkSession, d: String) => ngramNovelty(s, d)),
    "pmi1_collocations" -> ((s: SparkSession, d: String) => pmiCollocations(s, d)),
    "mix2_token_allocation" -> tokenAllocation _,
    "mix3_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
    "lm2_trigram_lm" -> ((s: SparkSession, d: String) => trigramLm(s, d)),
    "gram2_char_trigrams" -> ((s: SparkSession, d: String) => charTrigrams(s, d)),
    "shuf1_global_shuffle" -> ((s: SparkSession, d: String) => globalShuffle(s, d)),
    "shuf2_interleave_audit" -> ((s: SparkSession, d: String) => interleaveAudit(s, d)),
    "txt15_readability" -> readability _,
    "tok2_fertility" -> bpeFertility _,
    "js1_source_overlap" -> sourceOverlap _,
    "txt14_sentence_stats" -> sentenceStats _,
    "drift1_source_kl" -> ((s: SparkSession, d: String) => sourceDrift(s, d)),
    "qc1_quality_classifier" -> qualityMargin _,
    "bpe1_pair_counts" -> ((s: SparkSession, d: String) => bpePairCounts(s, d)),
    "bpe2_merge_training" -> ((s: SparkSession, d: String) => bpeMergeTraining(s, d)),
    "tok5_bpe_encode" -> ((s: SparkSession, d: String) => bpeEncode(s, d)),
    "cont3_exact_ngram" -> ((s: SparkSession, d: String) => exactNgramDecontam(s, d)),
    "tok6_heaps_curve" -> heapsCurve _,
    "span2_boilerplate_frac" -> ((s: SparkSession, d: String) => boilerplateFraction(s, d)),
    "zipf1_rank_slope" -> ((s: SparkSession, d: String) => zipfSlope(s, d)),
    "txt13_char_classes" -> docCharClasses _,
    "hist1_token_histogram" -> ((s: SparkSession, d: String) => tokenHistogram(s, d)),
    "red1_pii_scan" -> docPiiScan _,
    "srch1_bm25_topk" -> ((s: SparkSession, d: String) => bm25TopDocs(s, d)),
    "srch3_qlm_topk" -> ((s: SparkSession, d: String) => qlmTopDocs(s, d)),
    "lm3_kneser_ney" -> ((s: SparkSession, d: String) => knBigramLm(s, d)),
    "srch2_hybrid_rrf" -> ((s: SparkSession, d: String) => hybridRetrieval(s, d)),
    "cur1_curriculum_phases" -> curriculumPhases _,
    "qf3_perplexity_filter" -> ((s: SparkSession, d: String) => perplexityFilter(s, d)),
    "tok4_coverage_curve" -> ((s: SparkSession, d: String) => coverageCurve(s, d)),
    "chunk1_doc_spans" -> ((s: SparkSession, d: String) => docChunks(s, d)),
    "span1_repeated_ngrams" -> ((s: SparkSession, d: String) => repeatedSpans(s, d)),
    "mem1_memorization_risk" -> ((s: SparkSession, d: String) => memorizationRisk(s, d)),
    "rep1_corpus_report" -> corpusReport _,
    "smp3_mixture_balance" -> mixtureBalance _,
    "tok1_vocab_coverage" -> ((s: SparkSession, d: String) => vocabCoverage(s, d)),
    "lm1_bigram_topk" -> ((s: SparkSession, d: String) => bigramLm(s, d)),
    "sel1_dsir_weights" -> dsirWeights _,
    "txt11_unigram_logprob" -> docUnigramLogProb _,
    "txt12_tfidf_terms" -> ((s: SparkSession, d: String) => docTfidf(s, d)),
    "txt9_repetition" -> docRepetition _,
    "txt10_vocab_richness" -> docVocabRichness _,
    "smp2_language_cap" -> ((s: SparkSession, d: String) => languageCap(s, d)),
    "pack1_sequence_packing" -> ((s: SparkSession, d: String) => sequencePacking(s, d)),
    "pack2_packing_waste" -> ((s: SparkSession, d: String) => packingWaste(s, d)),
    "cont1_benchmark_overlap" -> benchmarkContamination _,
    "cont2_benchmark_leakage" -> benchmarkLeakage _,
    "smp1_stratified_sample" -> stratifiedSample _,
    "txt1_token_stats" -> docTokenStats _,
    "txt2_lang_id" -> docLangId _,
    "txt3_fingerprint" -> docFingerprint _,
    "txt4_bpe_tokens" -> docBpeTokens _,
    "txt5_rolling_hash" -> docRollingHash _,
    "txt6_quality_filter" -> docQualityFilter _,
    "txt7_top_tokens" -> ((s: SparkSession, d: String) => topTokens(s, d)),
    "txt8_compression_ratio" -> compressionRatio _,
    "mm1_payload_stats" -> mmPayloadStats _)

  val oracles: Map[String, String] = Map(
    "txt19_char_bigram_entropy" -> charBigramEntropySql,
    "lm5_stupid_backoff" -> stupidBackoffSql(),
    "txt18_term_burstiness" -> termBurstinessSql(),
    "lm4_good_turing" -> goodTuringSql,
    "fs1_chi2_tokens" -> chi2TokensSql(),
    "gram3_ngram_novelty" -> ngramNoveltySql(),
    "pmi1_collocations" -> pmiCollocationsSql(),
    "mix2_token_allocation" -> tokenAllocationSql,
    "mix3_temperature_mix" -> temperatureMixSql(),
    "lm2_trigram_lm" -> trigramLmSql(),
    "gram2_char_trigrams" -> charTrigramsSql(),
    "shuf1_global_shuffle" -> globalShuffleSql(),
    "shuf2_interleave_audit" -> interleaveAuditSql(),
    "txt15_readability" -> readabilitySql,
    "tok2_fertility" -> bpeFertilitySql,
    "js1_source_overlap" -> sourceOverlapSql,
    "txt14_sentence_stats" -> sentenceStatsSql,
    "drift1_source_kl" -> sourceDriftSql(),
    "qc1_quality_classifier" -> qualityMarginSql,
    "bpe1_pair_counts" -> bpePairCountsSql(),
    "bpe2_merge_training" -> bpeMergeTrainingSql(),
    "tok5_bpe_encode" -> bpeEncodeSql(),
    "cont3_exact_ngram" -> exactNgramDecontamSql(),
    "tok6_heaps_curve" -> heapsCurveSql,
    "span2_boilerplate_frac" -> boilerplateFractionSql(),
    "zipf1_rank_slope" -> zipfSlopeSql(),
    "txt13_char_classes" -> docCharClassesSql,
    "hist1_token_histogram" -> tokenHistogramSql(),
    "red1_pii_scan" -> docPiiScanSql,
    "srch1_bm25_topk" -> bm25TopDocsSql(),
    "srch3_qlm_topk" -> qlmTopDocsSql(),
    "lm3_kneser_ney" -> knBigramLmSql(),
    "srch2_hybrid_rrf" -> hybridRetrievalSql(),
    "cur1_curriculum_phases" -> curriculumPhasesSql,
    "qf3_perplexity_filter" -> perplexityFilterSql(),
    "tok4_coverage_curve" -> coverageCurveSql(),
    "chunk1_doc_spans" -> docChunksSql(),
    "span1_repeated_ngrams" -> repeatedSpansSql(),
    "mem1_memorization_risk" -> memorizationRiskSql(),
    "rep1_corpus_report" -> corpusReportSql,
    "smp3_mixture_balance" -> mixtureBalanceSql,
    "tok8_truncation_loss" -> truncationLossSql(),
    "smp5_reservoir_sample" -> reservoirSampleSql(),
    "tok1_vocab_coverage" -> vocabCoverageSql(),
    "lm1_bigram_topk" -> bigramLmSql(),
    "sel1_dsir_weights" -> dsirWeightsSql,
    "txt11_unigram_logprob" -> docUnigramLogProbSql,
    "txt12_tfidf_terms" -> docTfidfSql(),
    "txt9_repetition" -> docRepetitionSql,
    "txt10_vocab_richness" -> docVocabRichnessSql,
    "smp2_language_cap" -> languageCapSql(),
    "pack1_sequence_packing" -> sequencePackingSql(),
    "pack2_packing_waste" -> packingWasteSql(),
    "cont1_benchmark_overlap" -> benchmarkContaminationSql,
    "cont2_benchmark_leakage" -> benchmarkLeakageSql,
    "smp1_stratified_sample" -> stratifiedSampleSql,
    "txt1_token_stats" -> docTokenStatsSql,
    "txt2_lang_id" -> docLangIdSql,
    "txt3_fingerprint" -> docFingerprintSql,
    "txt4_bpe_tokens" -> docBpeTokensSql,
    "txt5_rolling_hash" -> docRollingHashSql,
    "txt6_quality_filter" -> docQualityFilterSql,
    "txt7_top_tokens" -> topTokensSql(),
    "mm1_payload_stats" -> mmPayloadStatsSql)
}
