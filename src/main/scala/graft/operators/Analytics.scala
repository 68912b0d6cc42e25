package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Business-analytics operators over the TPC-H-ish star schema and the
  * events stream (beyond-reference additions, SURVEY §7.5): market-basket
  * pair mining, deterministic A/B experiment readout, calendar
  * seasonality, exact higher-moment statistics, session-funnel
  * conversion, and a word-level corpus quality battery.
  *
  * Numeric discipline is the repo-wide Exact scheme: every fractional
  * output is one fixed IEEE expression tree over exactly-representable
  * integer aggregates, mirrored verbatim in the DuckDB oracle, so values
  * are bit-identical across engines (see operators/Exact.scala).
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Engine.table(s, dir, n)

  /** FLOOR day bucket for oracle SQL: DuckDB `//` truncates toward zero
    * on negatives while the Spark side uses pmod/floor (same divergence
    * class the week buckets hit — Relational.sqlWeekOf); subtracting the
    * nonnegative mod first makes the operand an exact multiple, where
    * truncate == floor. Latent for TPC-H dates (1992+), real for any
    * pre-1970 timestamp.
    */
  private def sqlDayOf(e: String): String = {
    val d = "86400000000"
    s"(($e - (($e % $d + $d) % $d)) // $d)"
  }

  // === bsk1: market-basket brand co-occurrence =============================
  /** Top co-purchased brand pairs: for each order, the distinct set of
    * part brands on its lines; count orders containing each unordered
    * brand pair.
    *
    * Shape at 100 TB: ONE shuffle on l_orderkey with map-side partial
    * `collect_set` merge (per-order line count is bounded by the schema,
    * so sets stay tiny); the pair explosion is map-side off the grouped
    * rows (≤ C(brands-per-order, 2) ≤ 78 pairs/order); the pair count
    * aggregate has ≤ C(25,2) = 300 keys — map-side combine collapses it
    * before the exchange. The part dim join auto-broadcasts under the
    * 10 MB threshold and degrades to a shuffle join beyond it.
    */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val part = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val sets = li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("p_brand")).as("bs"))
    sets
      .select(explode(col("bs")).as("brand_a"), col("bs"))
      .select(col("brand_a"), explode(col("bs")).as("brand_b"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  val copurchasePairsSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON p_partkey = l_partkey)
      |SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM ob a JOIN ob b
      |  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, brand_a, brand_b LIMIT 20""".stripMargin

  // === exp1: deterministic A/B experiment readout ==========================
  /** Hash-split experiment readout: every user lands in arm A or B by the
    * repo's deterministic md5 coin (salted 'exp1' so assignment is
    * independent of every sampling operator); per arm — users, converters
    * (first purchase within 24 h of the user's first event), conversion
    * rate, purchase value per user.
    *
    * Shape at 100 TB: one combinable per-user aggregate (two MIN
    * timestamps + a long micros partial), then a 2-key arm aggregate; the
    * per-arm micros total widens to DECIMAL(38,0) only at the final
    * combine, so per-user long partials never overflow and the wide type
    * never touches the per-row path.
    */
  def abTestReadout(s: SparkSession, dir: String): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val perUser = t(s, dir, "events")
      .select(col("user_id"), isPurchase.as("p"), col("value"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"))
      .agg(
        min(col("us")).as("f_us"),
        min(when(col("p"), col("us"))).as("fp_us"),
        sum(when(col("p"), Exact.micros(col("value"))).otherwise(0L)).as("pv_m"))
      .select(
        col("user_id"), col("pv_m"),
        when(col("fp_us").isNotNull && col("fp_us") - col("f_us") <= 86400000000L, 1L)
          .otherwise(0L).as("conv"))
    val arm = when(TextAnalysis.md5Frac(lit("exp1"), col("user_id")) < 0.5, "A").otherwise("B")
    perUser
      .groupBy(arm.as("arm"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("conv")).as("n_converted"),
        (sum(col("conv")).cast(DoubleType) / count(lit(1))).as("conv_rate"),
        (Exact.toUnits(sum(col("pv_m")).cast(Exact.D380)) / count(lit(1)))
          .as("value_per_user"))
      .orderedSmall(col("arm"))
  }

  val abTestReadoutSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'exp1'", "CAST(user_id AS VARCHAR)")
    val micros = Exact.sqlMicros("value")
    s"""WITH agg AS (
       |  SELECT user_id,
       |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS f_us,
       |    MIN(CASE WHEN event_type = 'purchase'
       |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp_us,
       |    SUM(CASE WHEN event_type = 'purchase' THEN $micros ELSE 0 END) AS pv_m
       |  FROM events GROUP BY user_id),
       |pu AS (
       |  SELECT user_id, pv_m,
       |    CASE WHEN fp_us IS NOT NULL AND fp_us - f_us <= 86400000000
       |         THEN 1 ELSE 0 END AS conv
       |  FROM agg)
       |SELECT CASE WHEN $coin < 0.5 THEN 'A' ELSE 'B' END AS arm,
       |  CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(conv) AS BIGINT) AS n_converted,
       |  CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS conv_rate,
       |  ${Exact.sqlToUnits("SUM(pv_m)")} / COUNT(*) AS value_per_user
       |FROM pu GROUP BY 1 ORDER BY arm""".stripMargin
  }

  // === ts2: daily revenue, trailing MA, day-of-week seasonality ============
  /** Calendar analytics over orders: per day — order count, exact
    * revenue, gap-correct trailing 7-day moving average (RANGE frame over
    * the epoch-day integer), day-of-week index (epoch-day mod 7 — the
    * engines' dayofweek() builtins disagree on numbering), and the
    * day-of-week seasonal factor (that weekday's mean daily revenue over
    * the whole-period mean).
    *
    * Shape at 100 TB: one map-side-combinable daily aggregate; every
    * window then runs over the calendar-bounded daily grid (~2.4k rows at
    * ANY scale factor), so the unpartitioned frames are a single tiny
    * task by construction, never a data-volume bottleneck.
    */
  def dailySeasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"), Exact.msum(col("o_totalprice")).as("rev_m"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")).cast(LongType))
      .withColumn("dow_idx", (col("day_num") % 7).cast(IntegerType))
    val w7 = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    val wDow = Window.partitionBy(col("dow_idx"))
    val wAll = Window.partitionBy()
    val dowAvg = Exact.toUnits(sum(col("rev_m")).over(wDow)) / count(lit(1)).over(wDow)
    val allAvg = Exact.toUnits(sum(col("rev_m")).over(wAll)) / count(lit(1)).over(wAll)
    daily
      .select(
        col("day"), col("n_orders"), col("dow_idx"),
        Exact.toUnits(col("rev_m")).as("revenue"),
        Exact.toUnits(sum(col("rev_m")).over(w7)).as("ma7"),
        (dowAvg / allAvg).as("dow_factor"))
      .orderBy(col("day"))
  }

  val dailySeasonalitySql: String = {
    val msum = Exact.sqlMsum("o_totalprice")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders,
       |    $msum AS rev_m,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num
       |  FROM orders GROUP BY 1, 4)
       |SELECT day, n_orders,
       |  CAST(day_num % 7 AS INTEGER) AS dow_idx,
       |  ${Exact.sqlToUnits("rev_m")} AS revenue,
       |  ${Exact.sqlToUnits("SUM(rev_m) OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)")} AS ma7,
       |  (${Exact.sqlToUnits("SUM(rev_m) OVER (PARTITION BY day_num % 7)")} / COUNT(*) OVER (PARTITION BY day_num % 7))
       |    / (${Exact.sqlToUnits("SUM(rev_m) OVER ()")} / COUNT(*) OVER ()) AS dow_factor
       |FROM daily ORDER BY day""".stripMargin
  }

  // === stat3: exact grouped higher moments =================================
  /** Exact population skewness and excess kurtosis of l_quantity per
    * return flag, from integer power sums: l_quantity is integral
    * (domain 1..50), so Σq..Σq³ accumulate as native longs and Σq⁴
    * (the one term that could pass 2^63 past ~10^12 rows/group) as
    * DECIMAL(38,0). Every fractional output is then one fixed IEEE tree
    * over those exact sums — written with full parentheses and mirrored
    * character-for-character in the oracle, so both engines execute the
    * identical operation sequence (sqrt is IEEE-correctly-rounded;
    * library pow is not, hence sqrt(m2)*m2 for m2^1.5).
    */
  def groupedMoments(s: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity").cast(LongType)
    val agg = t(s, dir, "lineitem")
      .select(col("l_returnflag"), q.as("q"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        sum(col("q") * col("q") * col("q")).as("s3"),
        sum((col("q") * col("q") * col("q") * col("q")).cast(Exact.D380)).as("s4"))
    val n = col("n").cast(DoubleType)
    val mean = col("s1").cast(DoubleType) / n
    val ex2 = col("s2").cast(DoubleType) / n
    val ex3 = col("s3").cast(DoubleType) / n
    val ex4 = col("s4").cast(DoubleType) / n
    val m2 = ex2 - (mean * mean)
    val m3 = (ex3 - ((lit(3.0) * mean) * ex2)) + (((lit(2.0) * mean) * mean) * mean)
    val m4 = ((ex4 - ((lit(4.0) * mean) * ex3)) + ((((lit(6.0) * mean) * mean)) * ex2)) -
      ((((lit(3.0) * mean) * mean) * mean) * mean)
    agg
      .select(
        col("l_returnflag"), col("n"),
        mean.as("mean"), m2.as("variance"),
        (m3 / (sqrt(m2) * m2)).as("skewness"),
        ((m4 / (m2 * m2)) - lit(3.0)).as("kurtosis"))
      .orderedSmall(col("l_returnflag"))
  }

  val groupedMomentsSql: String = {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    val n = d("COUNT(*)")
    val mean = s"(${d("SUM(q)")} / $n)"
    val ex2 = s"(${d("SUM(q*q)")} / $n)"
    val ex3 = s"(${d("SUM(q*q*q)")} / $n)"
    val ex4 = s"(${d("SUM(q*q*q*q)")} / $n)"
    val m2 = s"($ex2 - ($mean * $mean))"
    val m3 = s"(($ex3 - ((3.0 * $mean) * $ex2)) + (((2.0 * $mean) * $mean) * $mean))"
    val m4 = s"((($ex4 - ((4.0 * $mean) * $ex3)) + ((((6.0 * $mean) * $mean)) * $ex2)) - ((((3.0 * $mean) * $mean) * $mean) * $mean))"
    s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       |  $mean AS mean,
       |  $m2 AS variance,
       |  ($m3 / (sqrt($m2) * $m2)) AS skewness,
       |  (($m4 / ($m2 * $m2)) - 3.0) AS kurtosis
       |FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem) t
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // === ev20: session-funnel conversion by session length ===================
  /** Gap-sessionized conversion: sessions split at >30 min of user
    * inactivity; each session converts if it contains a purchase;
    * sessions aggregate into length buckets with their conversion rate.
    *
    * Shape at 100 TB: ONE shuffle on user_id feeds both windows (lag and
    * the running boundary sum share the same partitioning/ordering), the
    * per-session rollup combines map-side, and the bucket aggregate has 5
    * keys. Nothing re-sorts and nothing is unpartitioned.
    */
  def sessionConversion(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sessions = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        (col("event_type") === "purchase").as("p"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), max(when(col("p"), 1L).otherwise(0L)).as("conv"))
    val bucket = when(col("n_events") <= 1, "1")
      .when(col("n_events") <= 2, "2")
      .when(col("n_events") <= 5, "3-5")
      .when(col("n_events") <= 10, "6-10")
      .otherwise("11+")
    sessions
      .groupBy(bucket.as("session_len"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("conv")).as("n_converted"),
        (sum(col("conv")).cast(DoubleType) / count(lit(1))).as("conv_rate"))
      .orderedSmall(col("session_len"))
  }

  val sessionConversionSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    (event_type = 'purchase') AS p,
      |    LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
      |  FROM events),
      |b AS (
      |  SELECT user_id, p,
      |    SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g),
      |sess AS (
      |  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    MAX(CASE WHEN p THEN 1 ELSE 0 END) AS conv
      |  FROM b GROUP BY user_id, sid)
      |SELECT CASE WHEN n_events <= 1 THEN '1' WHEN n_events <= 2 THEN '2'
      |            WHEN n_events <= 5 THEN '3-5' WHEN n_events <= 10 THEN '6-10'
      |            ELSE '11+' END AS session_len,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(conv) AS BIGINT) AS n_converted,
      |  CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS conv_rate
      |FROM sess GROUP BY 1 ORDER BY session_len""".stripMargin

  // === qf2: word-level Gopher-style quality battery ========================
  /** Per-document rule battery in the spirit of the public Gopher/Dolma
    * corpus filters, adapted to word level (the synthetic corpus has no
    * line structure): word-count bounds, mean-word-length bounds,
    * distinct-word ratio, ≥2 distinct stopwords, max-word-length cap.
    * Ratio rules compare as cross-multiplied INTEGERS (3n ≤ Σlen, not
    * Σlen/n ≥ 3), so no float is ever formed — the battery is exact on
    * any engine. Map-only, zero shuffle, scales linearly.
    */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Par.fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(
        col("doc_id"),
        size(toks).as("n_words"),
        length(regexp_replace(col("text"), "\\s", "")).as("sum_len"),
        size(array_distinct(toks)).as("n_distinct"),
        size(array_intersect(toks, typedLit(TextAnalysis.stopwords))).as("n_stop"),
        array_max(transform(toks, w => length(w))).as("max_len"))
    base
      .select(
        col("doc_id"),
        col("n_words").cast(IntegerType).as("n_words"),
        (col("n_words") >= 30 && col("n_words") <= 100000).as("r_wordcount"),
        (lit(3) * col("n_words") <= col("sum_len") &&
          col("sum_len") <= lit(10) * col("n_words")).as("r_mean_len"),
        (lit(10) * col("n_distinct") >= lit(6) * col("n_words")).as("r_distinct"),
        (col("n_stop") >= 2).as("r_stopwords"),
        (col("max_len") <= 7).as("r_max_len"))
      .withColumn("keep",
        col("r_wordcount") && col("r_mean_len") && col("r_distinct") &&
          col("r_stopwords") && col("r_max_len"))
      .orderBy(col("doc_id"))
  }

  val gopherRulesSql: String = {
    val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS sum_len,
       |    len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS n_distinct,
       |    len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
       |        [$stopList])) AS n_stop,
       |    list_aggregate(list_transform(string_split_regex(lower(trim(text)), '\\s+'),
       |        w -> length(w)), 'max') AS max_len
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(n_words AS INTEGER) AS n_words,
       |  (n_words >= 30 AND n_words <= 100000) AS r_wordcount,
       |  (3 * n_words <= sum_len AND sum_len <= 10 * n_words) AS r_mean_len,
       |  (10 * n_distinct >= 6 * n_words) AS r_distinct,
       |  (n_stop >= 2) AS r_stopwords,
       |  (max_len <= 7) AS r_max_len,
       |  ((n_words >= 30 AND n_words <= 100000)
       |    AND (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
       |    AND (10 * n_distinct >= 6 * n_words)
       |    AND (n_stop >= 2) AND (max_len <= 7)) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // === bsk2: association rules over brand pairs ============================
  /** Brand association rules: for every co-purchased brand pair —
    * support, both directed confidences, and lift.
    *
    * Single-pass form: pair counts, brand marginals and the order total
    * would be three consumers of the same grouped-set aggregate, and
    * per-branch filter pushdown makes Spark re-execute the whole
    * lineitem⋈part upstream for each (the round-11 star-reuse finding).
    * Instead each order's set emits ALL its count tokens in ONE explode
    * — 'a|b' per pair, 'a' per brand, '*' once — so one scan and one
    * brand-domain-bounded aggregate produce every count; the rule tail
    * then runs on the COLLECTED token table (≤ C(B,2)+B+1 rows for a
    * B-brand catalog — the same domain-bounded-collect tier as pct1's
    * sketch) with the identical IEEE trees the oracle computes in SQL.
    */
  def associationRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pinned orderkey exchange ahead of the grouped-sets aggregate
    // (r21, the stat4 pattern): the naive groupBy plans its partial
    // collect_set inside the single-row-group scan task (serial over
    // every lineitem) and AQE coalesces the ensure exchange to ~3
    // tasks; pinning runs ONE complete aggregate + token explode +
    // count partials parallel above the exchange. A/B sf0.1 warm-min
    // (rebuild, the driver-stepped regime bsk2 is measured in):
    // 2.09 -> 0.81 s; a wideWidth pin measured WORSE (2.65 s) and was
    // rejected.
    val li0 = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val li = li0.repartition(graft.operators.Par.shuffleWidth(li0), col("l_orderkey"))
    val part = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val sets = li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("p_brand")).as("bs"))
    val pairTokens = flatten(transform(col("bs"), a =>
      filter(transform(col("bs"), b => when(a < b, concat(a, lit("|"), b))),
        x => x.isNotNull)))
    val counts = sets
      .select(explode(concat(pairTokens, col("bs"), array(lit("*")))).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts("*").toDouble
    val rules = counts.iterator
      .filter { case (k, _) => k.contains("|") }
      .map { case (k, nAb) =>
        val Array(a, b) = k.split("\\|", 2)
        val na = counts(a).toDouble
        val nb = counts(b).toDouble
        val nab = nAb.toDouble
        (a, b, nAb, nab / na, nab / nb, (nab * n) / (na * nb))
      }
      .toSeq
      .sortBy { case (a, b, _, _, _, lift) => (-lift, a, b) }
      .take(20)
    rules.toDF("brand_a", "brand_b", "n_ab", "conf_a_to_b", "conf_b_to_a", "lift")
  }

  val associationRulesSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
      |m AS (SELECT p_brand, COUNT(*) AS n_b FROM ob GROUP BY 1),
      |pr AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
      |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
      |  (CAST(n_ab AS DOUBLE) / CAST(ma.n_b AS DOUBLE)) AS conf_a_to_b,
      |  (CAST(n_ab AS DOUBLE) / CAST(mb.n_b AS DOUBLE)) AS conf_b_to_a,
      |  ((CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(ma.n_b AS DOUBLE) * CAST(mb.n_b AS DOUBLE))) AS lift
      |FROM pr
      | JOIN m ma ON ma.p_brand = brand_a
      | JOIN m mb ON mb.p_brand = brand_b
      | CROSS JOIN n
      |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin

  // === grow1: month-over-month revenue growth per nation ===================
  /** Monthly revenue per customer nation with month-over-month growth.
    * One shuffled aggregate (orders ⋈ customer ⋈ broadcast nation) down
    * to the calendar×nation-bounded grid (~25 × 80 rows at ANY scale
    * factor); the lag window runs per nation over that grid.
    */
  def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("month"), col("o_totalprice"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("month"))
      .agg(Exact.msum(col("o_totalprice")).as("rev_m"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("month"))
    val rev = Exact.toUnits(col("rev_m"))
    val prev = Exact.toUnits(lag(col("rev_m"), 1).over(w))
    monthly
      .select(col("n_name"), col("month"), rev.as("revenue"),
        ((rev - prev) / prev).as("mom_growth"))
      .orderBy(col("n_name"), col("month"))
  }

  val momGrowthSql: String = {
    val rev = Exact.sqlToUnits("rev_m")
    val prev = Exact.sqlToUnits(
      "LAG(rev_m, 1) OVER (PARTITION BY n_name ORDER BY month)")
    s"""WITH monthly AS (
       |  SELECT n_name, date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
       |    ${Exact.sqlMsum("o_totalprice")} AS rev_m
       |  FROM orders
       |   JOIN customer ON o_custkey = c_custkey
       |   JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2)
       |SELECT n_name, CAST(month AS DATE) AS month, $rev AS revenue,
       |  (($rev - $prev) / $prev) AS mom_growth
       |FROM monthly ORDER BY n_name, month""".stripMargin
  }

  // === top2: top-3 revenue parts per supplier nation =======================
  /** Per-nation part leaderboard: revenue per (supplier nation, part),
    * ranked within nation, top 3 kept, part names joined LATE (onto 75
    * rows, not 600k groups). The rank window is partitioned by nation —
    * partition-parallel at any scale; the late dim join broadcasts.
    */
  def nationTopParts(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("px"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(Exact.msum(col("px")).as("rev_m"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("rev_m").desc, col("l_partkey"))
    rev
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(col("n_name"), col("rank").cast(IntegerType).as("rank"),
        col("l_partkey").as("p_partkey"), col("p_name"),
        Exact.toUnits(col("rev_m")).as("revenue"))
      .orderBy(col("n_name"), col("rank"))
  }

  def nationTopPartsSql(k: Int = 3): String =
    s"""WITH rev AS (
       |  SELECT n_name, l_partkey,
       |    ${Exact.sqlMsum("l_extendedprice*(1-l_discount)")} AS rev_m
       |  FROM lineitem
       |   JOIN supplier ON l_suppkey = s_suppkey
       |   JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT n_name, l_partkey, rev_m,
       |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY rev_m DESC, l_partkey) AS rank
       |  FROM rev)
       |SELECT n_name, CAST(rank AS INTEGER) AS rank,
       |  l_partkey AS p_partkey, p_name,
       |  ${Exact.sqlToUnits("rev_m")} AS revenue
       |FROM r JOIN part ON l_partkey = p_partkey
       |WHERE rank <= $k ORDER BY n_name, rank""".stripMargin

  // === clv1: customer lifetime-value deciles ===============================
  /** Customer spend deciles WITHOUT a global single-task sort: spend is
    * exact integer cents per customer; the global rank over
    * (spend DESC, custkey) comes from a spend-bucket histogram — a
    * domain-bounded aggregate (per-customer spend is bounded by the
    * order-size schema, not data volume, so buckets are a fixed ~9k-row
    * table at any SF) whose cumulative counts give each bucket its rank
    * offset, plus a row_number window PARTITIONED BY BUCKET. Decile
    * membership is then pure arithmetic on the rank, and the summary
    * aggregate is 10 rows. The oracle computes the identical rank with
    * one flat ROW_NUMBER.
    */
  def customerDeciles(s: SparkSession, dir: String): DataFrame = {
    val W = 65536L
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
    val spend = t(s, dir, "orders")
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("c")).as("sp"))
      .withColumn("b", expr(s"sp div $W"))
    // bounded histogram: offsets of each bucket in the global DESC order
    val wDesc = Window.orderBy(col("b").desc).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val hist = spend.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wDesc), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(col("b").as("hb"), col("offset"), col("n"))
    val wInB = Window.partitionBy(col("b")).orderBy(col("sp").desc, col("o_custkey"))
    val ranked = spend
      .join(hist, col("b") === col("hb"))
      .withColumn("rank", col("offset") + row_number().over(wInB))
      .withColumn("decile", expr("((rank - 1) * 10) div n").cast(IntegerType))
    ranked
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("sp")).as("total_cents"),
        ((sum(col("sp")).cast(DoubleType) / count(lit(1))) / lit(100.0)).as("avg_spend"),
        min(col("sp")).as("min_cents"),
        max(col("sp")).as("max_cents"))
      .orderedSmall(col("decile"))
  }

  val customerDecilesSql: String =
    """WITH sp AS (
      |  SELECT o_custkey,
      |    SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS sp
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT o_custkey, sp,
      |    ROW_NUMBER() OVER (ORDER BY sp DESC, o_custkey) AS rank,
      |    COUNT(*) OVER () AS n
      |  FROM sp)
      |SELECT CAST(((rank - 1) * 10) // n AS INTEGER) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(sp) AS BIGINT) AS total_cents,
      |  ((CAST(CAST(SUM(sp) AS VARCHAR) AS DOUBLE) / COUNT(*)) / 100.0) AS avg_spend,
      |  CAST(MIN(sp) AS BIGINT) AS min_cents,
      |  CAST(MAX(sp) AS BIGINT) AS max_cents
      |FROM r GROUP BY 1 ORDER BY decile""".stripMargin

  // === src1: cross-source shingle containment ==============================
  /** Source-level content-sharing matrix: how many distinct 5-gram
    * shingles each SOURCE PAIR shares, with the pair Jaccard. The
    * inverted-index self-join runs on 8-byte shingle hashes (same trick
    * as dd2 — the oracle re-derives identical counts from the strings);
    * candidates exist only where a shingle crosses sources, and the
    * output is bounded by the source-pair count, not data volume.
    */
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val n = 5
    val toks = TextAnalysis.tokens(col("text"))
    val ss = Par.fanOut(t(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k)): _*))
      ).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("sh"))
      .distinct()
    val counts = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val a = ss.select(col("source").as("source_a"), col("sh"))
    val b = ss.select(col("source").as("source_b"), col("sh"))
    a.join(b, "sh")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("source").as("source_a"), col("n_sh").as("n_a")), "source_a")
      .join(counts.select(col("source").as("source_b"), col("n_sh").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) / (col("n_a") + col("n_b") - col("n_shared")))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val crossSourceOverlapSql: String =
    """WITH toks AS (
      |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT source, UNNEST(list_transform(generate_series(1, len(t) - 4),
      |         i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS shingle
      |  FROM toks WHERE len(t) >= 5),
      |counts AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b,
      |  CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) AS jaccard
      |FROM shared
      | JOIN counts ca ON ca.source = source_a
      | JOIN counts cb ON cb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  // === txt16: encoding / script QA =========================================
  /** Per-document encoding health: printable-ASCII vs non-ASCII vs CJK
    * character counts and ratios, plus a replacement-character flag (the
    * mojibake tell). Pure per-row regex folds — map-only, zero shuffle.
    * Both engines count BMP characters identically (Spark counts UTF-16
    * units, DuckDB codepoints; the corpus contract is BMP-only, where
    * they agree).
    */
  def encodingQa(s: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text"))
    val nAscii = length(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
    val nCjk = length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", ""))
    Par.fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(
        col("doc_id"),
        nChars.cast(IntegerType).as("n_chars"),
        nAscii.cast(IntegerType).as("n_ascii"),
        nCjk.cast(IntegerType).as("n_cjk"),
        ((nChars - nAscii).cast(DoubleType) / nChars).as("non_ascii_ratio"),
        col("text").contains("�").as("has_replacement"))
      .orderBy(col("doc_id"))
  }

  val encodingQaSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars,
      |  CAST(length(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) AS INTEGER) AS n_ascii,
      |  CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS INTEGER) AS n_cjk,
      |  (CAST(length(text) - length(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) AS DOUBLE)
      |    / length(text)) AS non_ascii_ratio,
      |  (strpos(text, chr(65533)) > 0) AS has_replacement
      |FROM documents ORDER BY doc_id""".stripMargin

  // === cooc1: skip-gram co-occurrence pairs ================================
  /** Word2vec-style skip-gram inventory: canonical (min,max) token pairs
    * within a ±2 window, top 30 by count. Pair extraction is a map-only
    * in-row zip (two shifted transforms concatenated — no self-join);
    * the count aggregate's key space is vocabulary-bounded, so map-side
    * combine collapses it before the one exchange.
    */
  def skipgramPairs(s: SparkSession, dir: String, k: Int = 30): DataFrame = {
    def el(i: Column) = element_at(col("toks"), i)
    def pairAt(d: Int) = transform(sequence(lit(1), size(col("toks")) - d), i =>
      concat_ws("|", least(el(i), el(i + d)), greatest(el(i), el(i + d))))
    Par.fanOut(t(s, dir, "documents").select(col("text")))
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(concat(pairAt(1), pairAt(2))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  def skipgramPairsSql(k: Int = 30): String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |pr AS (
       |  SELECT UNNEST(list_concat(
       |    list_transform(generate_series(1, len(t) - 1),
       |      i -> concat_ws('|', least(t[i], t[i+1]), greatest(t[i], t[i+1]))),
       |    list_transform(generate_series(1, len(t) - 2),
       |      i -> concat_ws('|', least(t[i], t[i+2]), greatest(t[i], t[i+2]))))) AS pair
       |  FROM toks WHERE len(t) >= 3)
       |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
       |FROM pr GROUP BY pair ORDER BY n DESC, pair LIMIT $k""".stripMargin

  // === neg1: deterministic negative sampling ===============================
  /** Contrastive-training negatives: for every anchor vector, up to 3
    * negatives drawn from 6 deterministic modular candidates
    * ((vec_id + j·97) mod N), keeping those whose label differs. The
    * candidate fan-out is map-side (6 rows per anchor), the label lookup
    * is one shuffle join on cand id, and the per-anchor keep window
    * orders 6 rows — no sampling state, no RNG, reproducible on any
    * cluster.
    */
  def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val total = emb.agg(count(lit(1)).as("n"))
    val cands = emb.crossJoin(total)
      .select(col("vec_id"), col("label").as("a_label"),
        explode(sequence(lit(1), lit(6))).as("j"), col("n"))
      .withColumn("cand", (col("vec_id") + col("j") * 97) % col("n"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("j"))
    cands
      .join(emb.select(col("vec_id").as("neg_id"), col("label").as("neg_label")),
        col("cand") === col("neg_id"))
      .filter(col("neg_label") =!= col("a_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("rank").cast(IntegerType).as("rank"),
        col("neg_id"), col("neg_label"))
      .orderBy(col("vec_id"), col("rank"))
  }

  val negativeSamplingSql: String =
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |cands AS (
      |  SELECT vec_id, label AS a_label, j, (vec_id + j * 97) % n.n AS cand
      |  FROM embeddings CROSS JOIN n
      |  CROSS JOIN generate_series(1, 6) AS g(j)),
      |kept AS (
      |  SELECT c.vec_id, c.j, e.vec_id AS neg_id, e.label AS neg_label,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY c.j) AS rank
      |  FROM cands c JOIN embeddings e ON c.cand = e.vec_id
      |  WHERE e.label <> c.a_label)
      |SELECT vec_id, CAST(rank AS INTEGER) AS rank, neg_id, neg_label
      |FROM kept WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin

  // === fld1: stratified k-fold split =======================================
  /** Cross-validation fold assignment: fold = ⌊5·coin⌋ from the
    * deterministic md5 coin salted 'fld1' and keyed (lang, doc_id) — the
    * same split on any engine, any cluster, any run, with folds
    * approximately balanced within every language stratum. Map-only.
    */
  def kfoldSplit(s: SparkSession, dir: String): DataFrame = {
    val fold = floor(TextAnalysis.md5Frac(lit("fld1"), col("lang"), col("doc_id")) * 5)
      .cast(IntegerType)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), fold.as("fold"))
      .orderBy(col("doc_id"))
  }

  val kfoldSplitSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'fld1'", "lang", "CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang,
       |  CAST(FLOOR($coin * 5) AS INTEGER) AS fold
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // === gini1: per-nation revenue concentration =============================
  /** Exact Gini coefficient of customer spend within each nation —
    * G = 2·Σ(rankᵢ·xᵢ) / (n·Σx) − (n+1)/n with ranks ascending by
    * (spend, custkey). Like clv1, the global-within-nation rank comes
    * from a (nation × spend-bucket) histogram — domain-bounded, so the
    * offset windows run over a fixed-size table at any SF — plus
    * per-bucket row_numbers; rank·x accumulates as DECIMAL(38,0) so the
    * product never overflows. One fixed IEEE tree per nation at the end.
    */
  def revenueGini(s: SparkSession, dir: String): DataFrame = {
    val W = 65536L
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
    // heavy path keys on c_nationkey only — the nation NAME joins onto
    // the 25-row aggregate at the end, not through both rank branches
    val spend = t(s, dir, "orders")
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("sp"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"), col("o_custkey"), col("sp"))
      .withColumn("b", expr(s"sp div $W"))
    val wAsc = Window.partitionBy(col("nk"))
      .orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val hist = spend.groupBy(col("nk"), col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wAsc), lit(0L)))
      .select(col("nk").as("hn"), col("b").as("hb"), col("offset"))
    val wInB = Window.partitionBy(col("nk"), col("b"))
      .orderBy(col("sp"), col("o_custkey"))
    val ranked = spend
      .join(hist, col("nk") === col("hn") && col("b") === col("hb"))
      .withColumn("rank", col("offset") + row_number().over(wInB))
    val agg = ranked.groupBy(col("nk"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("sp")).as("total_cents"),
        sum(col("rank").cast(Exact.D380) * col("sp")).as("rx"))
    val n = col("n_customers").cast(DoubleType)
    val sTot = col("total_cents").cast(DoubleType)
    val rx = col("rx").cast(DoubleType)
    agg
      .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("n_customers"), col("total_cents"),
        (((lit(2.0) * rx) / (n * sTot)) - ((n + lit(1.0)) / n)).as("gini"))
      .orderedSmall(col("n_name"))
  }

  val revenueGiniSql: String = {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    val n = d("COUNT(*)")
    val sTot = d("SUM(sp)")
    val rx = d("SUM(CAST(rank AS HUGEINT) * sp)")
    s"""WITH sp AS (
       |  SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS sp
       |  FROM orders GROUP BY 1),
       |nat AS (
       |  SELECT n_name, o_custkey, sp
       |  FROM sp
       |   JOIN customer ON o_custkey = c_custkey
       |   JOIN nation ON c_nationkey = n_nationkey),
       |r AS (
       |  SELECT n_name, sp,
       |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY sp, o_custkey) AS rank
       |  FROM nat)
       |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       |  CAST(SUM(sp) AS BIGINT) AS total_cents,
       |  (((2.0 * $rx) / ($n * $sTot)) - (($n + 1.0) / $n)) AS gini
       |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  // === cc1: connected components over the mutual-kNN graph ================
  /** Semantic neighborhoods: connected components of the sim6 mutual
    * k-nearest-neighbor graph — every vector labeled with the minimum
    * vec_id of its component plus the component size. Reuses dd7's
    * min-label-propagation/pointer-jumping engine (one shuffle per
    * round, O(log diameter) rounds, driver union-find only under the
    * bounded-edge gate); isolated vectors are their own component. The
    * oracle recomputes the same fixpoint with a recursive reachability
    * CTE — closed-form SQL for an iterative distributed algorithm.
    */
  def knnComponents(s: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.mutualKnn(s, dir)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val comp = Dedup.connectedComponents(edges)
      .select(col("doc_id").as("cid"), col("component"))
    val nodes = t(s, dir, "embeddings").filter(col("vec_id") < 200).select(col("vec_id"))
    val labeled = nodes
      .join(comp, col("vec_id") === col("cid"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("component"))
    val w = Window.partitionBy(col("component"))
    labeled
      .withColumn("comp_size", count(lit(1)).over(w))
      .orderBy(col("vec_id"))
  }

  val knnComponentsSql: String = {
    val knn = Similarity.mutualKnnSql()
    s"""WITH knn AS ($knn),
       |edges AS (
       |  SELECT a AS src, b AS dst FROM knn
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM knn),
       |nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 200),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT vec_id, vec_id FROM nodes
       |    UNION
       |    SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b)
       |  SELECT * FROM r),
       |comp AS (SELECT a AS vec_id, MIN(b) AS component FROM reach GROUP BY a)
       |SELECT vec_id, component,
       |  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS comp_size
       |FROM comp ORDER BY vec_id""".stripMargin
  }

  // === kmv1: KMV distinct-count sketch vs exact ============================
  /** K-minimum-values distinct sketch, the mergeable cardinality
    * estimator — per source, the 64 smallest md5 fractions of its
    * DISTINCT 3-gram shingles give the estimate (k−1)/h₍ₖ₎, reported
    * next to the exact distinct count and the relative error. The md5
    * coin makes the sketch deterministic on any engine, so the oracle
    * regenerates identical sketch values — an approximation whose VALUE
    * is exactly reproducible. Everything after the distinct aggregate
    * rides two windows over the same source partitioning (one shuffle);
    * at 100 TB the per-source k-smallest is the standard bounded-state
    * sketch merge.
    */
  def kmvDistinct(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val sh = TextAnalysis.sourceShingles(s, dir)
      .withColumn("h", TextAnalysis.md5Frac(col("shingle")))
    val wS = Window.partitionBy(col("source"))
    val wOrd = wS.orderBy(col("h"), col("shingle"))
    val est = when(col("n_exact") < k, col("n_exact").cast(DoubleType))
      .otherwise(lit(k - 1).cast(DoubleType) / col("h"))
    sh
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_exact", count(lit(1)).over(wS))
      .filter(col("rn") === least(lit(k.toLong), col("n_exact")))
      .select(col("source"), col("n_exact"), est.as("kmv_estimate"),
        ((est - col("n_exact").cast(DoubleType)) / col("n_exact").cast(DoubleType))
          .as("rel_error"))
      .orderBy(col("source"))
  }

  def kmvDistinctSql(k: Int = 64): String =
    s"""WITH toks AS (
       |  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT source, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
       |  FROM toks WHERE len(t) >= 3),
       |h AS (
       |  SELECT source, shingle,
       |    ${TextAnalysis.sqlMd5Frac("shingle")} AS h
       |  FROM sh),
       |r AS (
       |  SELECT source, h,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, shingle) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n_exact
       |  FROM h)
       |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
       |  CASE WHEN n_exact < $k THEN CAST(n_exact AS DOUBLE)
       |       ELSE CAST(${k - 1} AS DOUBLE) / h END AS kmv_estimate,
       |  ((CASE WHEN n_exact < $k THEN CAST(n_exact AS DOUBLE)
       |         ELSE CAST(${k - 1} AS DOUBLE) / h END) - CAST(n_exact AS DOUBLE))
       |    / CAST(n_exact AS DOUBLE) AS rel_error
       |FROM r WHERE rn = LEAST($k, n_exact) ORDER BY source""".stripMargin

  // === ts3: autocorrelation of daily revenue ===============================
  /** Lag-1..14 autocorrelation of the daily revenue series — the
    * periodicity detector behind ts2's fixed weekly factor. Deviation
    * products round to integer micros and sum as DECIMAL(38,0), so the
    * order-dependence of float summation never appears: both engines
    * aggregate identical integers and divide once. All fourteen lags
    * come from ONE window sort over the calendar-bounded daily grid.
    * Deviation products are ~10¹² so they round to whole UNITS (micros
    * would overflow the per-row long) — exactly representable doubles,
    * identical on both engines, and far below ACF's meaningful digits.
    */
  def revenueAutocorr(s: SparkSession, dir: String, maxLag: Int = 14): DataFrame = {
    val agg = acfMomentsRow(s, dir, maxLag)
    val acfs = (1 to maxLag).map { l =>
      struct(lit(l).as("lag"),
        (col(s"t_$l").cast(DoubleType) / col("t0").cast(DoubleType)).as("acf"))
    }
    agg
      .select(explode(array(acfs: _*)).as("x"))
      .select(col("x.lag").cast(IntegerType).as("lag"), col("x.acf").as("acf"))
      .orderBy(col("lag"))
  }

  /** Shared single-row ACF moment frame — n_days, t0 (Σ dev², unit-
    * rounded exact integers) and t_1..t_maxLag (Σ lagged deviation
    * products): ts3's construction factored out so ts12's
    * Durbin–Levinson recursion and ts13's Ljung–Box statistic consume
    * the IDENTICAL arithmetic (one orders scan + one window sort each).
    */
  private def acfMomentsRow(s: SparkSession, dir: String, maxLag: Int): DataFrame = {
    val daily = t(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      .groupBy(col("day"))
      .agg(Exact.msum(col("o_totalprice")).as("rev_m"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")).cast(LongType))
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy(col("day_num"))
    val r = Exact.toUnits(col("rev_m"))
    val m = Exact.toUnits(sum(col("rev_m")).over(wAll)) / count(lit(1)).over(wAll)
    val base = daily.select(col("day_num"), r.as("r"), m.as("m"))
    val lagCols = (0 to maxLag).map(l => lag(col("r"), l).over(wOrd).as(s"r_$l"))
    val withLags = base.select((col("r") +: col("m") +: lagCols): _*)
    def unitRound(c: Column): Column =
      when(c >= 0, floor(c + 0.5)).otherwise(ceil(c - 0.5)).cast(LongType)
    val terms = (1 to maxLag).map { l =>
      sum(when(col(s"r_$l").isNotNull,
        unitRound((col("r") - col("m")) * (col(s"r_$l") - col("m"))))
        .cast(Exact.D380)).as(s"t_$l")
    }
    val t0 = sum(unitRound((col("r") - col("m")) * (col("r") - col("m"))))
      .cast(Exact.D380).as("t0")
    withLags.agg(count(lit(1)).as("n_days"), (t0 +: terms): _*)
  }

  def revenueAutocorrSql(maxLag: Int = 14): String = {
    val r = Exact.sqlToUnits("rev_m")
    val m = s"(${Exact.sqlToUnits("SUM(rev_m) OVER ()")} / COUNT(*) OVER ())"
    def unitRound(e: String) =
      s"CAST(CASE WHEN ($e) >= 0 THEN FLOOR(($e)+0.5) ELSE CEIL(($e)-0.5) END AS HUGEINT)"
    val devProd = (l: Int) =>
      s"CASE WHEN r_$l IS NOT NULL THEN ${unitRound(s"(r - m) * (r_$l - m)")} END"
    val dev0 = unitRound("(r - m) * (r - m)")
    val lagSelects = (1 to maxLag).map(l =>
      s"LAG(r, $l) OVER (ORDER BY day_num) AS r_$l").mkString(", ")
    val termSelects = (1 to maxLag).map(l =>
      s"SUM(${devProd(l)}) AS t_$l").mkString(", ")
    val unions = (1 to maxLag).map(l =>
      s"SELECT $l AS lag, CAST(CAST(t_$l AS VARCHAR) AS DOUBLE) / CAST(CAST(t0 AS VARCHAR) AS DOUBLE) AS acf FROM a").mkString(" UNION ALL ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    ${Exact.sqlMsum("o_totalprice")} AS rev_m,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num
       |  FROM orders GROUP BY 1, 3),
       |base AS (
       |  SELECT day_num, $r AS r, $m AS m FROM daily),
       |lagged AS (
       |  SELECT r, m, $lagSelects FROM base),
       |a AS (
       |  SELECT SUM($dev0) AS t0, $termSelects FROM lagged)
       |SELECT CAST(lag AS INTEGER) AS lag, acf FROM ($unions) ORDER BY lag""".stripMargin
  }

  // === ts12: partial autocorrelation (Durbin–Levinson) =====================
  /** ts12: partial autocorrelation of the daily revenue series at lags
    * 1–3 via the Durbin–Levinson recursion — the AR-order picker read
    * NEXT to ts3's ACF (an AR(p) process cuts the PACF off after lag p
    * while its ACF tails forever; reading ts3 alone over-orders the
    * model): φ₁₁ = r₁, φ₂₂ = (r₂−r₁²)/(1−r₁²), and φ₃₃ from the
    * level-2 coefficients φ₂₁ = r₁(1−φ₂₂). The r_k ride the SAME
    * unit-rounded exact moment row as ts3 ([[acfMomentsRow]]), so the
    * recursion is one fixed IEEE chain over identical doubles on both
    * engines; zero denominators (and a constant series' t0 = 0) read
    * NULL. Shape at 100 TB: ts3's — one orders scan, one window sort
    * over the calendar-bounded daily grid, one moment row.
    */
  def pacf(s: SparkSession, dir: String): DataFrame = {
    val agg = acfMomentsRow(s, dir, maxLag = 3)
    def rk(l: Int) = when(col("t0") === 0, lit(null).cast(DoubleType))
      .otherwise(col(s"t_$l").cast(DoubleType) / col("t0").cast(DoubleType))
    val v = agg.select(col("n_days"), rk(1).as("r1"), rk(2).as("r2"), rk(3).as("r3"))
    val den2 = lit(1.0) - col("r1") * col("r1")
    val p22 = when(den2 === 0.0, lit(null).cast(DoubleType))
      .otherwise((col("r2") - col("r1") * col("r1")) / den2)
    val v2 = v.select(col("n_days"), col("r1"), col("r2"), col("r3"), p22.as("p22"))
      .withColumn("p21", col("r1") * (lit(1.0) - col("p22")))
    val den3 = lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2")
    val p33 = when(den3 === 0.0, lit(null).cast(DoubleType))
      .otherwise((col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) / den3)
    val rows = Seq(
      struct(lit(1L).as("lag"), Exact.dround(col("r1"), 9).as("pacf")),
      struct(lit(2L).as("lag"), Exact.dround(col("p22"), 9).as("pacf")),
      struct(lit(3L).as("lag"), Exact.dround(p33, 9).as("pacf")))
    v2.select(col("n_days"), explode(array(rows: _*)).as("x"))
      .select(col("x.lag").as("lag"), col("n_days"), col("x.pacf").as("pacf"))
      .orderBy(col("lag"))
  }

  val pacfSql: String = {
    def rk(l: Int) =
      s"CASE WHEN t0 = 0 THEN NULL ELSE CAST(CAST(t_$l AS VARCHAR) AS DOUBLE) / CAST(CAST(t0 AS VARCHAR) AS DOUBLE) END"
    s"""WITH ${acfMomentsSqlCtes(3)},
       |v AS (SELECT n_days, ${rk(1)} AS r1, ${rk(2)} AS r2, ${rk(3)} AS r3 FROM a),
       |p2 AS (SELECT *, CASE WHEN 1.0 - r1 * r1 = 0.0 THEN NULL
       |         ELSE (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22 FROM v),
       |p2b AS (SELECT *, r1 * (1.0 - p22) AS p21 FROM p2),
       |p3 AS (SELECT *, CASE WHEN 1.0 - p21 * r1 - p22 * r2 = 0.0 THEN NULL
       |         ELSE (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)
       |       END AS p33 FROM p2b)
       |SELECT lag, n_days, pacf FROM (
       |  SELECT CAST(1 AS BIGINT) AS lag, n_days, ${Exact.sqlDround("r1", 9)} AS pacf FROM p3
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), n_days, ${Exact.sqlDround("p22", 9)} FROM p3
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), n_days, ${Exact.sqlDround("p33", 9)} FROM p3)
       |ORDER BY lag""".stripMargin
  }

  // === ts13: Ljung–Box portmanteau test =====================================
  /** ts13: the Ljung–Box Q statistic over ts3's first 7 autocorrelation
    * lags — Q = n(n+2)·Σ_k r_k²/(n−k) — the "is this series white
    * noise at all" gate run before any ts2/ts11 seasonality claim (a
    * flat ACF at every lag reads Q below the χ²₀.₀₅,₇ critical value
    * and the seasonality story dies). The seven terms add in fixed
    * ascending-lag order on both engines; r_k come from the SAME
    * unit-rounded moment row as ts3/ts12. A constant series (t0 = 0)
    * or n ≤ 7 reads NULL. Shape at 100 TB: ts3's.
    */
  def ljungBox(s: SparkSession, dir: String, lags: Int = 7): DataFrame = {
    // P(χ²₇ > 14.067140449340169) = 0.05 — the fixed critical value,
    // hardcoded identically in both engines (no p-value libm chain)
    val crit = 14.067140449340169
    val agg = acfMomentsRow(s, dir, maxLag = lags)
    def rk(l: Int) = col(s"t_$l").cast(DoubleType) / col("t0").cast(DoubleType)
    val n = col("n_days").cast(DoubleType)
    val sumTerms = (1 to lags).map(k => rk(k) * rk(k) / (n - k)).reduce(_ + _)
    val q = when(col("t0") === 0 || col("n_days") <= lags, lit(null).cast(DoubleType))
      .otherwise(Exact.dround(n * (n + 2.0) * sumTerms, 6))
    agg.select(col("n_days"), lit(lags.toLong).as("df"), q.as("q_stat"),
      when(q.isNull, lit(null).cast("boolean")).otherwise(q > crit).as("reject_white_noise"))
  }

  val ljungBoxSql: String = {
    val lags = 7
    def rk(l: Int) =
      s"(CAST(CAST(t_$l AS VARCHAR) AS DOUBLE) / CAST(CAST(t0 AS VARCHAR) AS DOUBLE))"
    val sumTerms = (1 to lags).map(k =>
      s"${rk(k)} * ${rk(k)} / (CAST(n_days AS DOUBLE) - $k)").mkString(" + ")
    val q = s"""CASE WHEN t0 = 0 OR n_days <= $lags THEN NULL
       |  ELSE ${Exact.sqlDround(
         s"CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0) * ($sumTerms)", 6)}
       |END""".stripMargin
    s"""WITH ${acfMomentsSqlCtes(lags)}
       |SELECT n_days, CAST($lags AS BIGINT) AS df, $q AS q_stat,
       |  CASE WHEN ($q) IS NULL THEN NULL
       |       ELSE ($q) > 14.067140449340169 END AS reject_white_noise
       |FROM a""".stripMargin
  }

  /** The DuckDB twin of [[acfMomentsRow]] as CTE text ending in `a`
    * (n_days, t0, t_1..t_maxLag) — ONE definition consumed by the ts12
    * and ts13 oracles (ts3's inline copy predates the factoring and
    * carries the identical arithmetic).
    */
  private def acfMomentsSqlCtes(maxLag: Int): String = {
    val r = Exact.sqlToUnits("rev_m")
    val m = s"(${Exact.sqlToUnits("SUM(rev_m) OVER ()")} / COUNT(*) OVER ())"
    def unitRound(e: String) =
      s"CAST(CASE WHEN ($e) >= 0 THEN FLOOR(($e)+0.5) ELSE CEIL(($e)-0.5) END AS HUGEINT)"
    val devProd = (l: Int) =>
      s"CASE WHEN r_$l IS NOT NULL THEN ${unitRound(s"(r - m) * (r_$l - m)")} END"
    val dev0 = unitRound("(r - m) * (r - m)")
    val lagSelects = (1 to maxLag).map(l =>
      s"LAG(r, $l) OVER (ORDER BY day_num) AS r_$l").mkString(", ")
    val termSelects = (1 to maxLag).map(l =>
      s"SUM(${devProd(l)}) AS t_$l").mkString(", ")
    s"""daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    ${Exact.sqlMsum("o_totalprice")} AS rev_m,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num
       |  FROM orders GROUP BY 1, 3),
       |base AS (
       |  SELECT day_num, $r AS r, $m AS m FROM daily),
       |lagged AS (
       |  SELECT r, m, $lagSelects FROM base),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days, SUM($dev0) AS t0, $termSelects
       |  FROM lagged)""".stripMargin
  }

  // === ev21: latest-event-per-key compaction ===============================
  /** The upsert/compaction primitive: the LAST event per (user, day) by
    * (ts, event_id) — one window over one shuffle on the compaction key.
    * At 100 TB it is the standard log-compaction pass,
    * partition-parallel on the key with no global ordering.
    */
  def latestPerKey(s: SparkSession, dir: String): DataFrame = {
    val day = to_date(col("ts")).as("day")
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .select(col("user_id"), day, col("event_id"), col("event_type"), col("value"),
        col("ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"), col("day"))
  }

  val latestPerKeySql: String =
    """WITH r AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, day, event_id, event_type, value
      |FROM r WHERE rn = 1 ORDER BY user_id, day""".stripMargin

  // === rec1: order/lineitem reconciliation =================================
  /** Cross-table reconciliation through a FULL OUTER join: per-order
    * lineitem totals against the order header, classified into
    * both/order_only/lines_only with exact cent-diff statistics per
    * class. The canonical data-quality sweep between a fact table and
    * its rollup — one shuffled aggregate, one full-outer join on the
    * key, three output rows.
    */
  def orderReconcile(s: SparkSession, dir: String): DataFrame = {
    val oCents = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
    val lCents = floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)
    val liSum = t(s, dir, "lineitem")
      .select(col("l_orderkey"), lCents.as("lc"))
      .groupBy(col("l_orderkey")).agg(sum(col("lc")).as("li_cents"))
    val joined = t(s, dir, "orders")
      .select(col("o_orderkey"), oCents.as("o_cents"))
      .join(liSum, col("o_orderkey") === col("l_orderkey"), "full_outer")
    val status = when(col("o_orderkey").isNull, "lines_only")
      .when(col("l_orderkey").isNull, "order_only")
      .otherwise("both")
    val diff = col("o_cents") - col("li_cents")
    joined
      .select(status.as("status"), diff.as("diff"))
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n"),
        min(col("diff")).as("min_diff_cents"),
        max(col("diff")).as("max_diff_cents"),
        (sum(col("diff")).cast(DoubleType) / count(col("diff"))).as("avg_diff_cents"))
      .orderedSmall(col("status"))
  }

  val orderReconcileSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS li_cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents,
      |    l_orderkey, li_cents
      |  FROM orders FULL OUTER JOIN li ON o_orderkey = l_orderkey)
      |SELECT CASE WHEN o_orderkey IS NULL THEN 'lines_only'
      |            WHEN l_orderkey IS NULL THEN 'order_only'
      |            ELSE 'both' END AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(o_cents - li_cents) AS BIGINT) AS min_diff_cents,
      |  CAST(MAX(o_cents - li_cents) AS BIGINT) AS max_diff_cents,
      |  CAST(CAST(SUM(o_cents - li_cents) AS VARCHAR) AS DOUBLE)
      |    / COUNT(o_cents - li_cents) AS avg_diff_cents
      |FROM j GROUP BY 1 ORDER BY status""".stripMargin

  // === exp2: CUPED variance-reduced A/B readout ============================
  /** CUPED on top of exp1: per-user pre-period purchase value (before
    * the cutoff) is the covariate; θ = cov(pre, post)/var(pre) over all
    * users, and each arm reports its raw and adjusted post-period mean
    * (mean-level adjustment — CUPED is linear, so adjusting means equals
    * the mean of adjusted users).
    *
    * Single-scan shape: ONE per-user aggregate (pre/post micros, their
    * squares and cross-product as exact integers), ONE per-arm rollup,
    * and θ's corpus-wide moments ride windows over the 2-ROW arm table —
    * no second pass over events, no global per-user window.
    */
  def cupedReadout(s: SparkSession, dir: String, cutoff: String = "2024-01-16"): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val pre = when(isPurchase && col("ts") < lit(cutoff).cast(TimestampType),
      Exact.micros(col("value"))).otherwise(0L)
    val post = when(isPurchase && col("ts") >= lit(cutoff).cast(TimestampType),
      Exact.micros(col("value"))).otherwise(0L)
    val perUser = t(s, dir, "events")
      .select(col("user_id"), pre.as("pre_m"), post.as("post_m"))
      .groupBy(col("user_id"))
      .agg(sum(col("pre_m")).as("p"), sum(col("post_m")).as("q"))
    val arm = when(TextAnalysis.md5Frac(lit("exp1"), col("user_id")) < 0.5, "A").otherwise("B")
    val armAgg = perUser
      .groupBy(arm.as("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("p")).cast(Exact.D380).as("sp"),
        sum(col("q")).cast(Exact.D380).as("sq"),
        sum((col("p").cast(Exact.D380)) * col("p")).as("spp"),
        sum((col("p").cast(Exact.D380)) * col("q")).as("spq"))
    val wAll = Window.partitionBy()
    val gN = sum(col("n")).over(wAll).cast(DoubleType)
    val gSp = Exact.toUnits(sum(col("sp")).over(wAll))
    val gSq = Exact.toUnits(sum(col("sq")).over(wAll))
    // second moments carry micros²: normalize by 1e12 through two
    // VARCHAR-free unit conversions (decimal -> double is correctly
    // rounded; the /1e6 pair is the identical op sequence both engines)
    val gSpp = Exact.toUnits(sum(col("spp")).over(wAll)) / lit(1000000.0)
    val gSpq = Exact.toUnits(sum(col("spq")).over(wAll)) / lit(1000000.0)
    val muPre = gSp / gN
    val theta = ((gSpq / gN) - (muPre * (gSq / gN))) /
      ((gSpp / gN) - (muPre * muPre))
    val meanPost = Exact.toUnits(col("sq")) / col("n")
    val meanPre = Exact.toUnits(col("sp")) / col("n")
    armAgg
      .select(col("arm"), col("n").as("n_users"),
        meanPost.as("mean_post"),
        (meanPost - (theta * (meanPre - muPre))).as("mean_adjusted"),
        theta.as("theta"))
      .orderedSmall(col("arm"))
  }

  def cupedReadoutSql(cutoff: String = "2024-01-16"): String = {
    val coin = TextAnalysis.sqlMd5Frac("'exp1'", "CAST(user_id AS VARCHAR)")
    val micros = Exact.sqlMicros("value")
    def u(e: String) = Exact.sqlToUnits(e)
    val gN = "CAST(CAST(SUM(n) OVER () AS VARCHAR) AS DOUBLE)"
    val gSp = u("SUM(sp) OVER ()")
    val gSq = u("SUM(sq) OVER ()")
    val gSpp = s"(${u("SUM(spp) OVER ()")} / 1000000.0)"
    val gSpq = s"(${u("SUM(spq) OVER ()")} / 1000000.0)"
    val muPre = s"($gSp / $gN)"
    val theta = s"((($gSpq / $gN) - ($muPre * ($gSq / $gN))) / (($gSpp / $gN) - ($muPre * $muPre)))"
    val meanPost = s"(${u("sq")} / n)"
    val meanPre = s"(${u("sp")} / n)"
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'purchase' AND CAST(ts AS TIMESTAMP) < TIMESTAMP '$cutoff'
       |        THEN $micros ELSE 0 END) AS p,
       |    SUM(CASE WHEN event_type = 'purchase' AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '$cutoff'
       |        THEN $micros ELSE 0 END) AS q
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT CASE WHEN $coin < 0.5 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(p) AS sp, SUM(q) AS sq,
       |    SUM(p * p) AS spp, SUM(p * q) AS spq
       |  FROM pu GROUP BY 1)
       |SELECT arm, n AS n_users,
       |  $meanPost AS mean_post,
       |  ($meanPost - ($theta * ($meanPre - $muPre))) AS mean_adjusted,
       |  $theta AS theta
       |FROM arms ORDER BY arm""".stripMargin
  }

  // === auc1: exact ROC-AUC of the quality classifier =======================
  /** Tie-corrected ROC-AUC of qc1's margin against txt6's rule verdict,
    * computed EXACTLY in integers: scores collapse to per-score groups
    * (nPos, nNeg), the below-group negative count comes from the
    * clv1-style bucket histogram (score micros are DOMAIN-bounded — the
    * margin's range is fixed by the model's coefficients, so buckets are
    * a ~100-row table at any SF), and
    * 2·AUC·P·N = Σ nPosₛ·(2·negBelowₛ + nNegₛ) sums as DECIMAL(38,0).
    * One division at the end. No global single-task sort, no float
    * accumulation.
    */
  def classifierAuc(s: SparkSession, dir: String): DataFrame = {
    val W = 65536L
    val score = Exact.micros(col("quality_margin")) // round6 margin -> exact integer
    val scored = TextAnalysis.qualityMargin(s, dir)
      .select(col("doc_id"), score.as("sc"))
      .join(TextAnalysis.docQualityFilter(s, dir).select(col("doc_id"), col("keep")), "doc_id")
    val groups = scored
      .groupBy(col("sc"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("np"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("nn"))
      .withColumn("b", expr(s"sc div $W"))
    val wBucketsBelow = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val bucketNeg = groups.groupBy(col("b")).agg(sum(col("nn")).as("bn"))
      .withColumn("negOff", coalesce(sum(col("bn")).over(wBucketsBelow), lit(0L)))
      .select(col("b").as("hb"), col("negOff"))
    val wInB = Window.partitionBy(col("b")).orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = groups
      .join(bucketNeg, col("b") === col("hb"))
      .withColumn("negBelow", col("negOff") + coalesce(sum(col("nn")).over(wInB), lit(0L)))
    val agg = terms.agg(
      sum(col("np")).as("n_pos"),
      sum(col("nn")).as("n_neg"),
      sum((col("np").cast(Exact.D380)) * (lit(2L) * col("negBelow") + col("nn"))).as("auc2"))
    agg.select(
      col("n_pos"), col("n_neg"),
      (col("auc2").cast(DoubleType) /
        (lit(2.0) * (col("n_pos").cast(DoubleType) * col("n_neg").cast(DoubleType))))
        .as("auc"))
  }

  val classifierAucSql: String = {
    val margin = "(SELECT doc_id, quality_margin FROM (" + TextAnalysis.qualityMarginSql + ") qm)"
    val label = "(SELECT doc_id, keep FROM (" + TextAnalysis.docQualityFilterSql + ") qf)"
    val sc = Exact.sqlMicros("quality_margin")
    s"""WITH scored AS (
       |  SELECT m.doc_id, $sc AS sc, l.keep
       |  FROM $margin m JOIN $label l ON m.doc_id = l.doc_id),
       |groups AS (
       |  SELECT sc,
       |    SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS np,
       |    SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS nn
       |  FROM scored GROUP BY sc),
       |cum AS (
       |  SELECT np, nn,
       |    COALESCE(SUM(nn) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negBelow
       |  FROM groups)
       |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       |  CAST(SUM(nn) AS BIGINT) AS n_neg,
       |  (CAST(CAST(SUM(np * (2 * negBelow + nn)) AS VARCHAR) AS DOUBLE)
       |    / (2.0 * (CAST(CAST(SUM(np) AS VARCHAR) AS DOUBLE)
       |              * CAST(CAST(SUM(nn) AS VARCHAR) AS DOUBLE)))) AS auc
       |FROM cum""".stripMargin
  }

  // === map1: average precision of label retrieval ==========================
  /** Retrieval quality of the embedding space: for each query vector,
    * AP@20 of same-label neighbors under exact cosine ranking. Precision
    * sums are EXACT integers — Σ cumRelᵢ·(L/i) with L = lcm(1..20) —
    * so no float ever accumulates; AP is one division. The query side
    * broadcasts (50 vectors); relevant-total counts come from the
    * 10-row label table.
    */
  /** The ranked label-retrieval frame shared by map1 (AP) and mrr1
    * (MRR): per query, the top-k neighbors by exact cosine with
    * relevance = label match and the cumulative relevant count.
    */
  private def rankedRetrieval(s: SparkSession, dir: String, k: Int,
      nQueries: Int): DataFrame = {
    val e = Par.fanOut(t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), transform(col("embedding"), x => x.cast(DoubleType)).as("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    val pairs = broadcast(q)
      .join(e.select(col("vec_id").as("n_id"), col("label").as("n_label"), col("v").as("nv")))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    pairs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("rel", when(col("n_label") === col("q_label"), 1L).otherwise(0L))
      .withColumn("cumRel", sum(col("rel")).over(wCum))
  }

  def labelRetrievalAp(s: SparkSession, dir: String, k: Int = 20, nQueries: Int = 50): DataFrame = {
    val L = 232792560L // lcm(1..20)
    val e = Par.fanOut(t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), transform(col("embedding"), x => x.cast(DoubleType)).as("v")))
    val labelTotals = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val ranked = rankedRetrieval(s, dir, k, nQueries)
    val perQuery = ranked
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        sum(col("rel")).as("rel_at_k"),
        sum(when(col("rel") === 1L, col("cumRel") * expr(s"$L div rnk")).otherwise(0L))
          .as("ap_num"))
    perQuery
      .join(labelTotals.select(col("label").as("q_label"), col("n_label")), "q_label")
      .select(col("q_id"), col("q_label"), col("rel_at_k"),
        (col("ap_num").cast(DoubleType) /
          (lit(L.toDouble) * least(col("n_label") - 1, lit(k.toLong)).cast(DoubleType)))
          .as("ap"))
      .orderBy(col("q_id"))
  }

  /** The e/q/p/r/topk CTE chain shared by the map1 and mrr1 oracles —
    * one definition, mirroring `rankedRetrieval`.
    */
  private def sqlRankedRetrieval(k: Int, nQueries: Int): String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e
       |      WHERE vec_id < $nQueries),
       |p AS (
       |  SELECT q_id, q_label, e.vec_id AS n_id, e.label AS n_label,
       |    list_dot_product(qv, v)
       |      / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
       |  FROM q, e WHERE e.vec_id <> q_id),
       |r AS (
       |  SELECT q_id, q_label, n_label, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM p),
       |topk AS (
       |  SELECT q_id, q_label,
       |    CASE WHEN n_label = q_label THEN 1 ELSE 0 END AS rel, rnk,
       |    SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY q_id ORDER BY rnk
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumRel
       |  FROM r WHERE rnk <= $k)""".stripMargin

  def labelRetrievalApSql(k: Int = 20, nQueries: Int = 50): String = {
    val L = 232792560L
    s"""WITH ${sqlRankedRetrieval(k, nQueries)},
       |lt AS (SELECT label, COUNT(*) AS n_label FROM e GROUP BY 1),
       |pq AS (
       |  SELECT q_id, q_label,
       |    CAST(SUM(rel) AS BIGINT) AS rel_at_k,
       |    SUM(CASE WHEN rel = 1 THEN cumRel * ($L // rnk) ELSE 0 END) AS ap_num
       |  FROM topk GROUP BY 1, 2)
       |SELECT q_id, q_label, rel_at_k,
       |  (CAST(CAST(ap_num AS VARCHAR) AS DOUBLE)
       |    / ($L.0 * CAST(LEAST(n_label - 1, $k) AS DOUBLE))) AS ap
       |FROM pq JOIN lt ON lt.label = pq.q_label
       |ORDER BY q_id""".stripMargin
  }

  // === smp4: Neyman allocation for stratified sampling =====================
  val neymanBudget = 1000L

  /** Survey-sampling design: allocate a fixed sample budget across
    * strata (nations) proportionally to N_h * sigma_h — Neyman's
    * variance-optimal allocation over customer account balance. The
    * float hazard is fenced the house way: with the stratum variance
    * over its own population, N_h * sigma_h == sqrt(N_h*S2_h - S1_h^2)
    * where S1/S2 are exact integer micros power sums — so every weight
    * is ONE correctly-rounded sqrt of an exact integer, the weight
    * total is a SEQUENTIAL cumulative sum over the 25-row stratum table
    * (deterministic order => deterministic float sum on both engines),
    * and the integer allocation is floor + largest-remainder, which
    * hits the budget exactly. One customer scan; everything after the
    * per-stratum aggregate is 25 rows.
    */
  def neymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val b = neymanBudget
    val x = Exact.micros(col("c_acctbal"))
    val strata = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_h"),
        sum(x.cast(Exact.D380)).as("s1"),
        // widen BEFORE squaring: acctbal micros ~1e10, squared 1e20
        // overflows BIGINT; DECIMAL(38,0)^2 stays exact
        sum(x.cast(Exact.D380) * x.cast(Exact.D380)).as("s2"))
      // d = N*S2 - S1^2 = N^2 * variance (exact integer, >= 0)
      .withColumn("d", col("n_h") * col("s2") - col("s1") * col("s1"))
      .withColumn("w", sqrt(col("d").cast(DoubleType)))
    val wOrd = Window.orderBy(col("n_name"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val alloc = strata
      // sequential cumulative sum -> the LAST row's value is the total;
      // max over the full window broadcasts it (25-row table)
      .withColumn("cum_w", sum(col("w")).over(wOrd))
      .withColumn("total_w", max(col("cum_w")).over(wAll))
      // total_w == 0 (every stratum zero-variance) would make alloc_real
      // NaN and the floor/cast silently degrade to 0 allocations — fail
      // loudly instead; the budget-exact invariant is meaningless on a
      // degenerate corpus
      .withColumn("alloc_real",
        when(col("total_w") > 0.0, lit(b.toDouble) * col("w") / col("total_w"))
          .otherwise(raise_error(lit(
            "neymanAllocation: total stratum weight is zero (all strata have zero variance)"))))
      .withColumn("base", floor(col("alloc_real")).cast(LongType))
      .withColumn("rem", col("alloc_real") - col("base").cast(DoubleType))
      .withColumn("spare", lit(b) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("n_name"))))
    alloc.select(col("n_name"), col("n_h"),
      Exact.dround(sqrt(col("d").cast(DoubleType)) / col("n_h").cast(DoubleType) / 1000000.0, 6)
        .as("sigma"),
      (col("base") + when(col("rk") <= col("spare"), 1L).otherwise(0L)).as("n_alloc"))
      .orderedSmall(col("n_name"))
  }

  val neymanAllocationSql: String = {
    val b = neymanBudget
    val x = Exact.sqlMicros("c_acctbal")
    s"""WITH strata AS (
       |  SELECT n_name, COUNT(*) AS n_h,
       |    SUM($x) AS s1,
       |    SUM(($x) * ($x)) AS s2
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1),
       |dw AS (
       |  SELECT n_name, n_h, (n_h * s2 - s1 * s1) AS d,
       |    sqrt(CAST(CAST(n_h * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)) AS w
       |  FROM strata),
       |cum AS (
       |  SELECT n_name, n_h, d, w,
       |    SUM(w) OVER (ORDER BY n_name
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
       |  FROM dw),
       |tot AS (
       |  SELECT n_name, n_h, d, w, MAX(cum_w) OVER () AS total_w FROM cum),
       |a AS (
       |  SELECT n_name, n_h, d, w,
       |    CAST($b AS DOUBLE) * w / total_w AS alloc_real
       |  FROM tot),
       |fl AS (
       |  SELECT n_name, n_h, d,
       |    CAST(FLOOR(alloc_real) AS BIGINT) AS base,
       |    alloc_real - CAST(CAST(FLOOR(alloc_real) AS BIGINT) AS DOUBLE) AS rem
       |  FROM a),
       |sp AS (
       |  SELECT n_name, n_h, d, base, rem,
       |    $b - SUM(base) OVER () AS spare,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rk
       |  FROM fl)
       |SELECT n_name, CAST(n_h AS BIGINT) AS n_h,
       |  ${Exact.sqlDround(
        "sqrt(CAST(CAST(d AS VARCHAR) AS DOUBLE)) / CAST(n_h AS DOUBLE) / 1000000.0", 6)}
       |    AS sigma,
       |  CAST(base + CASE WHEN rk <= spare THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
       |FROM sp ORDER BY n_name""".stripMargin
  }

  // === ndcg1: NDCG of label retrieval ======================================
  /** NDCG@20 for the same ranked label-retrieval frame as map1/mrr1 —
    * the third standard retrieval metric. The transcendental discount
    * 1/log2(i+1) follows the house literal-table rule (hll1's ln, bs1's
    * Poisson, dp1's geometric CDF): each weight is precomputed once as
    * round(1e15 / log2(i+1)) and emitted as the SAME integer literal in
    * both engines, so DCG accumulates as an exact BIGINT (max ~2e16,
    * long-safe) and order of summation cannot matter. The ideal DCG is
    * a literal prefix-sum lookup at min(n_label-1, k), and NDCG is one
    * IEEE division.
    */
  def labelRetrievalNdcg(s: SparkSession, dir: String, k: Int = 20,
      nQueries: Int = 50): DataFrame = {
    val C: IndexedSeq[Long] =
      (1 to k).map(i => math.round(1e15 / (math.log(i + 1.0) / math.log(2.0))))
    val prefix: IndexedSeq[Long] = C.scanLeft(0L)(_ + _).tail
    val e = Par.fanOut(t(s, dir, "embeddings").select(col("vec_id"), col("label")))
    val labelTotals = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val perQuery = rankedRetrieval(s, dir, k, nQueries)
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        sum(col("rel")).as("rel_at_k"),
        sum(col("rel") * element_at(array(C.map(lit(_)): _*), col("rnk")))
          .as("dcg_scaled"))
    perQuery
      .join(labelTotals.select(col("label").as("q_label"), col("n_label")), "q_label")
      .withColumn("n_ideal", least(col("n_label") - 1L, lit(k.toLong)))
      .select(col("q_id"), col("q_label"), col("rel_at_k"),
        when(col("n_ideal") > 0,
          col("dcg_scaled").cast(DoubleType) /
            element_at(array(prefix.map(lit(_)): _*), col("n_ideal").cast(IntegerType))
              .cast(DoubleType))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy(col("q_id"))
  }

  def labelRetrievalNdcgSql(k: Int = 20, nQueries: Int = 50): String = {
    val C: IndexedSeq[Long] =
      (1 to k).map(i => math.round(1e15 / (math.log(i + 1.0) / math.log(2.0))))
    val prefix: IndexedSeq[Long] = C.scanLeft(0L)(_ + _).tail
    val cArr = C.mkString("[", ", ", "]")
    val pArr = prefix.mkString("[", ", ", "]")
    s"""WITH ${sqlRankedRetrieval(k, nQueries)},
       |lt AS (SELECT label, COUNT(*) AS n_label FROM e GROUP BY 1),
       |pq AS (
       |  SELECT q_id, q_label,
       |    CAST(SUM(rel) AS BIGINT) AS rel_at_k,
       |    SUM(rel * ($cArr)[rnk]) AS dcg_scaled
       |  FROM topk GROUP BY 1, 2)
       |SELECT q_id, q_label, rel_at_k,
       |  CASE WHEN LEAST(n_label - 1, $k) > 0
       |       THEN CAST(CAST(dcg_scaled AS VARCHAR) AS DOUBLE)
       |            / CAST(($pArr)[CAST(LEAST(n_label - 1, $k) AS INTEGER)] AS DOUBLE)
       |       ELSE 0.0 END AS ndcg
       |FROM pq JOIN lt ON lt.label = pq.q_label
       |ORDER BY q_id""".stripMargin
  }

  // === ev22: discrete conversion-hazard table ==============================
  val hazardWindowDays = 30

  /** Time-to-convert survival analysis, exact: per signup cohort day t,
    * the number of users still at risk (signed up, not yet converted,
    * still under observation) and the number converting exactly at day
    * t — the discrete hazard d_t / n_t whose running complement-product
    * is the Kaplan-Meier curve. The table IS the estimator's sufficient
    * statistics and stays in exact integers + one division per row (the
    * KM product itself is left to the consumer — a float product's
    * value would depend on evaluation order).
    *
    * Censoring: observation ends at the corpus's last event; users
    * whose first at-or-after-signup purchase never arrives are censored
    * at their observation end. Day arithmetic is integral epoch DIV
    * (the fh1/ev16 rule).
    *
    * Shape at 100 TB: one events scan (user-windowed signup min +
    * conditional aggregate), one scalar corpus-end aggregate (a 1-row
    * broadcast — never a global window over raw rows), and a
    * 30-row-grid cross join against the per-user frame: the grid
    * explode is bounded by the window constant, the final aggregate is
    * map-side combinable on t.
    */
  def conversionHazard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy(col("user_id"))
    val perUser = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), us.as("us"))
      .withColumn("s_us", min(when(col("event_type") === "signup", col("us"))).over(w))
      .filter(col("s_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("s_us")).as("s_us"),
        min(when(col("event_type") === "purchase" && col("us") >= col("s_us"), col("us")))
          .as("p_us"))
      .select(col("user_id"),
        expr("s_us DIV 86400000000").as("s_day"),
        expr("p_us DIV 86400000000").as("p_day"))
    val endDay = t(s, dir, "events")
      .agg(expr("MAX(unix_micros(ts)) DIV 86400000000").as("end_day"))
    val framed = perUser.crossJoin(broadcast(endDay))
      .select(col("user_id"),
        (col("p_day") - col("s_day")).as("d"),
        (col("end_day") - col("s_day")).as("obs_days"))
    val grid = s.range(hazardWindowDays).toDF("t")
    framed.crossJoin(broadcast(grid))
      .groupBy(col("t"))
      .agg(
        sum(when(col("obs_days") >= col("t") &&
          (col("d").isNull || col("d") >= col("t")), 1L).otherwise(0L)).as("n_at_risk"),
        sum(when(col("d") === col("t"), 1L).otherwise(0L)).as("n_converted"))
      .filter(col("n_at_risk") > 0)
      .select(col("t"), col("n_at_risk"), col("n_converted"),
        (col("n_converted").cast(DoubleType) / col("n_at_risk").cast(DoubleType))
          .as("hazard"))
      .orderedSmall(col("t")) // window-constant-bounded rows
  }

  val conversionHazardSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
       |      OVER (PARTITION BY user_id) AS s_us
       |  FROM events),
       |per_user AS (
       |  SELECT user_id,
       |    MIN(s_us) // 86400000000 AS s_day,
       |    MIN(CASE WHEN event_type = 'purchase' AND us >= s_us THEN us END)
       |      // 86400000000 AS p_day
       |  FROM marked WHERE s_us IS NOT NULL GROUP BY user_id),
       |end_day AS (
       |  SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000 AS end_day
       |  FROM events),
       |framed AS (
       |  SELECT user_id, p_day - s_day AS d, end_day - s_day AS obs_days
       |  FROM per_user, end_day),
       |grid AS (SELECT UNNEST(generate_series(0, ${hazardWindowDays - 1})) AS t),
       |haz AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN obs_days >= t AND (d IS NULL OR d >= t)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
       |    CAST(SUM(CASE WHEN d = t THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
       |  FROM framed, grid GROUP BY t)
       |SELECT t, n_at_risk, n_converted,
       |  CAST(n_converted AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard
       |FROM haz WHERE n_at_risk > 0 ORDER BY t""".stripMargin

  // === ev23: weekly retention cohort matrix ================================
  /** The classic cohort-retention triangle: users grouped by the epoch
    * week of their first signup event, activity = ANY event in a later
    * week, and the matrix reports per (cohort, week offset) the active
    * count and the retention fraction of the cohort's size. Offset 0 is
    * the cohort itself (signup week is active by construction), bounded
    * at 8 weeks — the dashboard every growth team reads, and the
    * engagement complement of ev22's conversion hazard (activity decay
    * rather than first-conversion timing).
    *
    * Shape at 100 TB: one events scan feeds both the cohort min and the
    * distinct (user, week) activity set (user_id-keyed shuffles); the
    * matrix is weeks x 9 rows, so the cohort-size window is
    * domain-bounded. Epoch-week = epoch_micros div (7 days of micros) —
    * pure integer division, identical on both engines (the ev16 rule:
    * never an engine's calendar builtin).
    */
  def retentionCohorts(s: SparkSession, dir: String, maxOffset: Int = 8): DataFrame = {
    // FLOOR division, not `div`: Spark's div truncates toward zero while
    // the oracle's // floors, and the two diverge on pre-1970 micros (a
    // corrupt or placeholder timestamp would silently split cohorts).
    // pmod is non-negative, so subtracting it lands on the floor multiple.
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 604800000000)) div 604800000000")
          .as("wk"))
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val active = ev.select(col("user_id"), col("wk")).distinct()
    val wC = Window.partitionBy(col("cohort_wk"))
    active.join(cohort, "user_id")
      .withColumn("week_offset", (col("wk") - col("cohort_wk")).cast(IntegerType))
      .filter(col("week_offset") >= 0 && col("week_offset") <= maxOffset)
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(wC))
      .select(col("cohort_wk"), col("week_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast(DoubleType) / col("cohort_size").cast(DoubleType))
          .as("retention"))
      .orderedSmall(col("cohort_wk"), col("week_offset"))
  }

  def retentionCohortsSql(maxOffset: Int = 8): String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
       |  FROM events),
       |cohort AS (
       |  SELECT user_id, MIN(wk) AS cohort_wk FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |active AS (SELECT DISTINCT user_id, wk FROM ev),
       |j AS (
       |  SELECT a.user_id, c.cohort_wk,
       |    CAST(a.wk - c.cohort_wk AS INTEGER) AS week_offset
       |  FROM active a JOIN cohort c USING (user_id)
       |  WHERE a.wk - c.cohort_wk BETWEEN 0 AND $maxOffset),
       |mat AS (
       |  SELECT cohort_wk, week_offset, COUNT(DISTINCT user_id) AS n_active
       |  FROM j GROUP BY 1, 2),
       |w AS (
       |  SELECT cohort_wk, week_offset, n_active,
       |    MAX(CASE WHEN week_offset = 0 THEN n_active END)
       |      OVER (PARTITION BY cohort_wk) AS cohort_size
       |  FROM mat)
       |SELECT cohort_wk, week_offset,
       |  CAST(n_active AS BIGINT) AS n_active,
       |  CAST(cohort_size AS BIGINT) AS cohort_size,
       |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
       |FROM w ORDER BY cohort_wk, week_offset""".stripMargin

  // === mrr1: exact mean-reciprocal-rank ====================================
  /** MRR for the label-retrieval task, per query: the reciprocal rank
    * of the FIRST relevant neighbor in the exact top-20 — the eval
    * every retrieval/RAG stack reports beside map1's AP. 1/rank is the
    * exact rational (lcm DIV rank) / lcm: one correctly-rounded
    * division per query, no float accumulation. Queries with no
    * relevant neighbor in the window score 0 (the standard convention).
    * Shares `rankedRetrieval` (and its SQL CTE chain) with map1.
    */
  def labelRetrievalMrr(s: SparkSession, dir: String, k: Int = 20, nQueries: Int = 50): DataFrame = {
    val L = 232792560L // lcm(1..20)
    rankedRetrieval(s, dir, k, nQueries)
      .groupBy(col("q_id"), col("q_label"))
      .agg(min(when(col("rel") === 1L, col("rnk"))).as("frr"))
      .select(col("q_id"), col("q_label"),
        coalesce(col("frr"), lit(0)).cast(IntegerType).as("first_rel_rank"),
        when(col("frr").isNotNull,
          expr(s"CAST($L DIV frr AS DOUBLE)") / lit(L.toDouble)).otherwise(lit(0.0))
          .as("rr"))
      .orderedSmall(col("q_id")) // nQueries-bounded
  }

  def labelRetrievalMrrSql(k: Int = 20, nQueries: Int = 50): String = {
    val L = 232792560L
    s"""WITH ${sqlRankedRetrieval(k, nQueries)},
       |fr AS (
       |  SELECT q_id, q_label, MIN(CASE WHEN rel = 1 THEN rnk END) AS frr
       |  FROM topk GROUP BY 1, 2)
       |SELECT q_id, q_label,
       |  CAST(COALESCE(frr, 0) AS INTEGER) AS first_rel_rank,
       |  CASE WHEN frr IS NOT NULL
       |    THEN CAST($L // frr AS DOUBLE) / $L.0 ELSE 0.0 END AS rr
       |FROM fr ORDER BY q_id""".stripMargin
  }

  // === exp4: Wilcoxon rank-sum (Mann-Whitney U) ============================
  /** The nonparametric A/B readout completing the experimentation
    * family: users rank by total purchase value (exact micros), arms
    * come from the md5 coin, and the tie-corrected rank-sum statistic
    * stays in exact integers by the doubling trick — the average rank
    * of a tie group, 2*avg = 2*min_rank + ties - 1, is always a whole
    * number. U2 = 2*U and the no-tie normal approximation's z are
    * derived in one deterministic IEEE chain: with u2 = 2U,
    * E[u2] = nT*nC and sd(u2) = sqrt(nT*nC*(N+1)/3), so
    * z = (u2 - nT*nC)/sqrt(nT*nC*(N+1)/3) directly — no further
    * scaling (an earlier draft divided by 2 again, halving every z;
    * AnalyticsSpec now pins z on a hand-computed sample). The
    * tie-corrected variance term is omitted and documented — ties
    * here are rare micro-valued collisions.
    *
    * Shape at 100 TB: rank2 = 2*avg-rank of a tie group is a function
    * of the metric VALUE alone, so the per-row global rank window of
    * the first draft is unnecessary — collapse to per-value arm counts
    * first, then take the clv1 bucket-histogram rank over the
    * distinct-value table: cumulative bucket offsets (window over the
    * domain-bounded bucket histogram) plus a per-BUCKET cumulative
    * count. The only data-sized shuffle is the per-user aggregate;
    * every window runs over value/bucket tables bounded by the metric
    * domain, not data volume.
    */
  def rankSumTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 1L << 24 // micros per rank bucket: domain-bounded bucket count
    val perUser = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(Exact.micros(col("value"))).as("metric"))
      .withColumn("treat",
        TextAnalysis.md5Frac(lit("exp4"), col("user_id")) < 0.5)
    // collapse to the distinct-value table: one row per metric value
    val byVal = perUser.groupBy(col("metric")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("treat"), 1L).otherwise(0L)).as("cnt_t"))
      .withColumn("b", expr(s"metric div $W"))
    // bounded histogram: rows in all strictly-lower buckets
    val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val hist = byVal.groupBy(col("b")).agg(sum(col("cnt")).as("bcnt"))
      .withColumn("offset", coalesce(sum(col("bcnt")).over(wB), lit(0L)))
      .select(col("b").as("hb"), col("offset"))
    // rows in the same bucket with a strictly lower value — PARTITIONED
    val wInB = Window.partitionBy(col("b")).orderBy(col("metric"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal.join(hist, col("b") === col("hb"))
      .withColumn("cum", coalesce(sum(col("cnt")).over(wInB), lit(0L)))
      // min-rank = offset + cum + 1; rank2 = 2*min_rank + ties - 1
      .withColumn("rank2",
        lit(2L) * (col("offset") + col("cum") + 1L) + col("cnt") - 1L)
    val agg = ranked.agg(
      sum(col("cnt_t")).as("n_t"),
      sum(col("cnt") - col("cnt_t")).as("n_c"),
      sum(col("cnt_t") * col("rank2")).as("rank_sum2_t"))
    val u2 = col("rank_sum2_t") - col("n_t") * (col("n_t") + 1L)
    val nT = col("n_t").cast(DoubleType)
    val nC = col("n_c").cast(DoubleType)
    agg.select(col("n_t"), col("n_c"), col("rank_sum2_t"),
      u2.as("u2_stat"),
      ((u2.cast(DoubleType) - nT * nC) /
        sqrt(nT * nC * (nT + nC + 1.0) / 3.0)).as("z_approx"))
  }

  val rankSumTestSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'exp4'", "CAST(user_id AS VARCHAR)")
    s"""WITH per_user AS (
       |  SELECT user_id, CAST(SUM(${Exact.sqlMicros("value")}) AS BIGINT) AS metric
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |armed AS (
       |  SELECT metric, $coin < 0.5 AS treat FROM per_user),
       |ranked AS (
       |  SELECT treat,
       |    2 * RANK() OVER (ORDER BY metric)
       |      + COUNT(*) OVER (PARTITION BY metric) - 1 AS rank2
       |  FROM armed),
       |agg AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(SUM(CASE WHEN treat THEN rank2 ELSE 0 END) AS BIGINT) AS rank_sum2_t
       |  FROM ranked)
       |SELECT n_t, n_c, rank_sum2_t,
       |  rank_sum2_t - n_t * (n_t + 1) AS u2_stat,
       |  (CAST(rank_sum2_t - n_t * (n_t + 1) AS DOUBLE)
       |    - CAST(n_t AS DOUBLE) * CAST(n_c AS DOUBLE))
       |    / sqrt(CAST(n_t AS DOUBLE) * CAST(n_c AS DOUBLE)
       |           * (CAST(n_t AS DOUBLE) + CAST(n_c AS DOUBLE) + 1.0) / 3.0)
       |    AS z_approx
       |FROM agg""".stripMargin
  }

  // === skw2: key-skew profiler =============================================
  /** The skew diagnostic that decides whether skw1's salting is worth
    * its overhead: the distribution of per-key group sizes for a join
    * key — exact p50/p99 (the mad1 doubled-integer percentile
    * discipline is unnecessary here: sizes are integers and both
    * engines interpolate identically), the heaviest key, and the
    * max/avg skew ratio. One combinable count aggregate; the profile
    * itself is a single row.
    */
  def keySkewProfile(s: SparkSession, dir: String): DataFrame = {
    val sizes = t(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("sz"))
    sizes.agg(
      count(lit(1)).as("n_keys"),
      sum(col("sz")).cast(LongType).as("n_rows"),
      percentile(col("sz"), lit(0.5)).as("p50_size"),
      percentile(col("sz"), lit(0.99)).as("p99_size"),
      max(col("sz")).as("max_size"),
      max(struct(col("sz"), (-col("user_id")).as("nk"))).as("mx"))
      .select(col("n_keys"), col("n_rows"), col("p50_size"), col("p99_size"),
        col("max_size"),
        (-col("mx.nk")).as("max_key"),
        (col("max_size").cast(DoubleType) * col("n_keys").cast(DoubleType) /
          col("n_rows").cast(DoubleType)).as("skew_ratio"))
  }

  val keySkewProfileSql: String =
    """WITH sizes AS (
      |  SELECT user_id, COUNT(*) AS sz FROM events GROUP BY user_id),
      |prof AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(sz) AS BIGINT) AS n_rows,
      |    quantile_cont(sz, 0.5) AS p50_size,
      |    quantile_cont(sz, 0.99) AS p99_size,
      |    MAX(sz) AS max_size,
      |    MIN(user_id) FILTER (WHERE sz = (SELECT MAX(sz) FROM sizes)) AS max_key
      |  FROM sizes)
      |SELECT n_keys, n_rows, p50_size, p99_size, max_size, max_key,
      |  CAST(max_size AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
      |    AS skew_ratio
      |FROM prof""".stripMargin

  // === imp1: Horvitz-Thompson estimate off the smp1 sample =================
  /** Sampling calibration: the inverse-probability-weighted token total
    * estimated FROM smp1's kept slice, against the true total — the
    * check that a weighted training mix preserves corpus statistics.
    * Weights are rationals (1/0.5, 1/0.9) scaled by 9 to integers, so
    * the estimator accumulates exactly; ONE conditional-aggregation scan
    * produces both the estimate and the truth (no second pass, no join).
    */
  def htEstimate(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.tokens(col("text"))).cast(LongType)
    val frac = TextAnalysis.md5Frac(col("lang"), col("doc_id"))
    val rate = coalesce(
      element_at(
        map(TextAnalysis.sampleRates.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*),
        col("lang")),
      lit(1.0))
    // 9/rate is integral for every configured rate (18 for 0.5, 10 for 0.9)
    val w9 = (lit(9.0) / rate).cast(LongType)
    val kept = frac < rate
    Par.fanOut(t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")))
      .select(col("lang"), nTok.as("nt"), kept.as("kept"), w9.as("w9"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("nt")).as("true_tokens"),
        sum(when(col("kept"), col("nt") * col("w9")).otherwise(0L)).as("est9"))
      .select(col("lang"), col("n_docs"), col("n_kept"), col("true_tokens"),
        (col("est9").cast(DoubleType) / lit(9.0)).as("ht_estimate"),
        (((col("est9").cast(DoubleType) / lit(9.0)) - col("true_tokens").cast(DoubleType))
          / col("true_tokens").cast(DoubleType)).as("rel_error"))
      .orderedSmall(col("lang"))
  }

  val htEstimateSql: String = {
    val cases = TextAnalysis.sampleRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    val coin = TextAnalysis.sqlMd5Frac("lang", "CAST(doc_id AS VARCHAR)")
    val nTok = raw"CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)"
    s"""WITH f AS (
       |  SELECT lang, $nTok AS nt,
       |    ($coin < (CASE lang $cases ELSE 1.0 END)) AS kept,
       |    CAST(9.0 / (CASE lang $cases ELSE 1.0 END) AS BIGINT) AS w9
       |  FROM documents)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(nt) AS BIGINT) AS true_tokens,
       |  (CAST(CAST(SUM(CASE WHEN kept THEN nt * w9 ELSE 0 END) AS VARCHAR) AS DOUBLE)
       |    / 9.0) AS ht_estimate,
       |  (((CAST(CAST(SUM(CASE WHEN kept THEN nt * w9 ELSE 0 END) AS VARCHAR) AS DOUBLE)
       |    / 9.0) - CAST(CAST(SUM(nt) AS VARCHAR) AS DOUBLE))
       |    / CAST(CAST(SUM(nt) AS VARCHAR) AS DOUBLE)) AS rel_error
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  // === conf1: language-ID confusion matrix =================================
  /** txt2's predictions against the lang metadata label — the confusion
    * matrix plus per-true-class recall riding a window over the
    * class-bounded cell table. One scan (the langId plan), one bounded
    * aggregate.
    */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = TextAnalysis.docLangId(s, dir).select(col("doc_id"), col("pred_lang"))
    val truth = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val wTrue = Window.partitionBy(col("lang"))
    pred.join(truth, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("class_total", sum(col("n")).over(wTrue))
      .withColumn("recall_share",
        col("n").cast(DoubleType) / col("class_total").cast(DoubleType))
      .orderedSmall(col("lang"), col("pred_lang"))
  }

  val langIdConfusionSql: String = {
    val inner = TextAnalysis.docLangIdSql
    s"""WITH pred AS (SELECT doc_id, pred_lang FROM ($inner) p),
       |cells AS (
       |  SELECT d.lang, pred.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pred JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2)
       |SELECT lang, pred_lang, n,
       |  CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS class_total,
       |  (CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE))
       |    AS recall_share
       |FROM cells ORDER BY lang, pred_lang""".stripMargin
  }

  // === priv1: k-anonymity audit ============================================
  val kAnonThreshold = 5L

  /** Data-governance readout before a dataset release: group the
    * customer table by its quasi-identifier tuple (nation, market
    * segment, account-balance thousand-bucket — the attributes a
    * linkage attack joins on) and report the dataset's k-anonymity
    * (the smallest group) plus how many groups/rows fall below k=5 and
    * would need suppression or coarsening. Complements red1's direct-
    * identifier PII scan. One group-by over exact integers; the share
    * is a single division. The QI group count is attribute-domain-
    * bounded, so the aggregate output is small at any corpus scale.
    */
  def kAnonymityAudit(s: SparkSession, dir: String): DataFrame = {
    val k = kAnonThreshold
    val groups = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast(LongType).as("bal_k"))
      .agg(count(lit(1)).as("g"))
    groups.agg(
      sum(col("g")).cast(LongType).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("g")).cast(LongType).as("k_anonymity"),
      sum(when(col("g") < k, 1L).otherwise(0L)).as("groups_below_k"),
      sum(when(col("g") < k, col("g")).otherwise(0L)).cast(LongType).as("rows_below_k"))
      .select(col("n_rows"), col("n_groups"), col("k_anonymity"),
        col("groups_below_k"), col("rows_below_k"),
        (col("rows_below_k").cast(DoubleType) / col("n_rows").cast(DoubleType))
          .as("reident_risk_share"))
  }

  val kAnonymityAuditSql: String = {
    val k = kAnonThreshold
    s"""WITH g AS (
       |  SELECT n_name, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
       |    COUNT(*) AS g
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(SUM(g) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(MIN(g) AS BIGINT) AS k_anonymity,
       |  CAST(SUM(CASE WHEN g < $k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
       |  CAST(SUM(CASE WHEN g < $k THEN g ELSE 0 END) AS BIGINT) AS rows_below_k,
       |  CAST(SUM(CASE WHEN g < $k THEN g ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(g) AS DOUBLE) AS reident_risk_share
       |FROM g""".stripMargin
  }

  // === priv2: l-diversity audit ============================================
  val lDiversityThreshold = 3L

  /** The second leg of the release-governance pair: k-anonymity (priv1)
    * bounds group SIZE, l-diversity bounds what a group REVEALS — a
    * well-populated QI group whose members all share one sensitive value
    * still discloses that value to a linkage attacker. QI tuple =
    * (customer nation, market segment, order year) over the released
    * orders table; sensitive attribute = o_orderpriority. Reports the
    * dataset's l (smallest per-group distinct-sensitive count), the
    * groups/rows below l=3, and the disclosure-risk row share.
    * Shape: orders→customer is the one real shuffle (key-partitioned at
    * any scale), nation broadcasts, the QI rollup is map-combinable and
    * attribute-domain-bounded; counters exact BIGINTs, one division.
    */
  def lDiversityAudit(s: SparkSession, dir: String): DataFrame = {
    val l = lDiversityThreshold
    val groups = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"),
        year(col("o_orderdate")).cast(LongType).as("order_year"))
      .agg(count(lit(1)).as("g"),
        countDistinct(col("o_orderpriority")).as("l_div"))
    groups.agg(
      sum(col("g")).cast(LongType).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("l_div")).cast(LongType).as("l_diversity"),
      sum(when(col("l_div") < l, 1L).otherwise(0L)).as("groups_below_l"),
      sum(when(col("l_div") < l, col("g")).otherwise(0L)).cast(LongType).as("rows_below_l"))
      .select(col("n_rows"), col("n_groups"), col("l_diversity"),
        col("groups_below_l"), col("rows_below_l"),
        (col("rows_below_l").cast(DoubleType) / col("n_rows").cast(DoubleType))
          .as("disclosure_risk_share"))
  }

  val lDiversityAuditSql: String = {
    val l = lDiversityThreshold
    s"""WITH g AS (
       |  SELECT n_name, c_mktsegment,
       |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       |    COUNT(*) AS g,
       |    COUNT(DISTINCT o_orderpriority) AS l_div
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(SUM(g) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(MIN(l_div) AS BIGINT) AS l_diversity,
       |  CAST(SUM(CASE WHEN l_div < $l THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_l,
       |  CAST(SUM(CASE WHEN l_div < $l THEN g ELSE 0 END) AS BIGINT) AS rows_below_l,
       |  CAST(SUM(CASE WHEN l_div < $l THEN g ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(g) AS DOUBLE) AS disclosure_risk_share
       |FROM g""".stripMargin
  }

  // === iaa1: inter-annotator agreement (Cohen's kappa) =====================
  /** Cohen's kappa between the stored `lang` label (annotator A) and
    * txt2's n-gram prediction (annotator B) — the annotation-QA readout
    * every labeling pipeline runs before trusting a label column.
    * Exactness: kappa = (n·agree − Σ_k nA_k·nB_k) / (n² − Σ_k nA_k·nB_k)
    * is a ratio of two EXACT integers (marginal products in
    * DECIMAL(38,0) — n² at 100 TB overflows BIGINT), so both engines
    * divide the same two numbers once. Shape: one corpus scan (the
    * langId plan) into a class-bounded cell table; marginals and the
    * chance term are label-cardinality-sized aggregates.
    */
  def labelAgreement(s: SparkSession, dir: String): DataFrame = {
    val pred = TextAnalysis.docLangId(s, dir).select(col("doc_id"), col("pred_lang"))
    val truth = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val cells = pred.join(truth, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    // chance agreement: Σ over LABELS of (truth marginal × prediction
    // marginal); the inner join drops labels missing from either side,
    // whose product term is 0 anyway
    val mA = cells.groupBy(col("lang").as("label")).agg(sum(col("n")).as("na"))
    val mB = cells.groupBy(col("pred_lang").as("label")).agg(sum(col("n")).as("nb"))
    val chance = mA.join(mB, "label")
      .agg(coalesce(sum(col("na").cast(Exact.D380) * col("nb").cast(Exact.D380)),
        lit(0L).cast(Exact.D380)).as("pe_num"))
    val agree = cells.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L)).as("n_agree"))
    agree.crossJoin(chance)
      .select(
        col("n_docs").cast(LongType).as("n_docs"),
        col("n_agree").cast(LongType).as("n_agree"),
        (col("n_agree").cast(DoubleType) / col("n_docs").cast(DoubleType)).as("po"),
        (col("pe_num").cast(DoubleType) /
          (col("n_docs").cast(Exact.D380) * col("n_docs").cast(Exact.D380))
            .cast(DoubleType)).as("pe"),
        {
          val num = (col("n_docs").cast(Exact.D380) * col("n_agree").cast(Exact.D380)
            - col("pe_num")).cast(DoubleType)
          val den = (col("n_docs").cast(Exact.D380) * col("n_docs").cast(Exact.D380)
            - col("pe_num")).cast(DoubleType)
          // degenerate single-label corpus with a constant predictor:
          // pe == 1 makes kappa 0/0 — NULL on both engines, not NaN
          when(den =!= 0.0, num / den).otherwise(lit(null).cast(DoubleType)).as("kappa")
        })
  }

  val labelAgreementSql: String = {
    val inner = TextAnalysis.docLangIdSql
    s"""WITH pred AS (SELECT doc_id, pred_lang FROM ($inner) p),
       |cells AS (
       |  SELECT d.lang, pred.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pred JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2),
       |ma AS (SELECT lang AS label, SUM(n) AS na FROM cells GROUP BY 1),
       |mb AS (SELECT pred_lang AS label, SUM(n) AS nb FROM cells GROUP BY 1),
       |chance AS (
       |  SELECT COALESCE(SUM(CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))),
       |                  CAST(0 AS DECIMAL(38,0))) AS pe_num
       |  FROM ma JOIN mb USING (label)),
       |agree AS (
       |  SELECT SUM(n) AS n_docs,
       |    SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS n_agree
       |  FROM cells)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_agree AS BIGINT) AS n_agree,
       |  CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
       |  CAST(CAST(pe_num AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(CAST(n_docs AS DECIMAL(38,0)) * CAST(n_docs AS DECIMAL(38,0))
       |        AS VARCHAR) AS DOUBLE) AS pe,
       |  CASE WHEN CAST(CAST(CAST(n_docs AS DECIMAL(38,0)) * CAST(n_docs AS DECIMAL(38,0))
       |         - pe_num AS VARCHAR) AS DOUBLE) <> 0 THEN
       |    CAST(CAST(CAST(n_docs AS DECIMAL(38,0)) * CAST(n_agree AS DECIMAL(38,0)) - pe_num
       |        AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(CAST(n_docs AS DECIMAL(38,0)) * CAST(n_docs AS DECIMAL(38,0)) - pe_num
       |          AS VARCHAR) AS DOUBLE)
       |  END AS kappa
       |FROM agree, chance""".stripMargin
  }

  // === ts4: CUSUM changepoint over daily revenue ===========================
  /** The mean-shift detector: the day with the maximum |CUSUM| of daily
    * revenue. The statistic is kept exact by scaling: n·S_t = n·cum_t −
    * t·total is pure integer arithmetic in DECIMAL(38,0) micros, so the
    * argmax is unambiguous on any engine; the reported magnitude divides
    * back once at the end. All windows run over the calendar-bounded
    * daily grid.
    */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      .groupBy(col("day"))
      .agg(Exact.msum(col("o_totalprice")).as("rev_m"))
    val wOrd = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val scored = daily
      .withColumn("t", count(lit(1)).over(wOrd))
      .withColumn("cum", sum(col("rev_m")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("rev_m")).over(wAll))
      .withColumn("sn", col("n") * col("cum") - col("t") * col("total"))
      .withColumn("abs_sn", abs(col("sn")))
    scored
      .orderBy(col("abs_sn").desc, col("day"))
      .limit(1)
      .select(col("day").as("changepoint_day"),
        ((col("sn").cast(DoubleType) / col("n").cast(DoubleType)) / lit(1000000.0))
          .as("cusum"),
        col("n").as("n_days"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    SUM(CAST(CASE WHEN (o_totalprice) >= 0 THEN FLOOR((o_totalprice)*1000000+0.5)
      |             ELSE CEIL((o_totalprice)*1000000-0.5) END AS HUGEINT)) AS rev_m
      |  FROM orders GROUP BY 1),
      |sc AS (
      |  SELECT day,
      |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
      |    SUM(rev_m) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    COUNT(*) OVER () AS n,
      |    SUM(rev_m) OVER () AS total
      |  FROM daily),
      |s2 AS (SELECT day, n, (n * cum - t * total) AS sn FROM sc)
      |SELECT day AS changepoint_day,
      |  ((CAST(CAST(sn AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0) AS cusum,
      |  CAST(n AS BIGINT) AS n_days
      |FROM s2 ORDER BY abs(sn) DESC, day LIMIT 1""".stripMargin

  // === shared daily-revenue frame (ts5/ts6) ================================
  /** The exact-micros daily revenue series — ONE definition for the
    * smoother/decomposition family so the aggregation (and its SQL
    * twin) can never drift between them.
    */
  private def dailyRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      .groupBy(col("day"))
      .agg(Exact.msum(col("o_totalprice")).as("rev_m"))

  private def dailyRevenueSql: String =
    s"""SELECT CAST(o_orderdate AS DATE) AS day,
       |    ${Exact.sqlMsum("o_totalprice")} AS rev_m
       |  FROM orders GROUP BY 1""".stripMargin

  // === ts5: exact truncated EWMA ===========================================
  val ewmaLags = 15 // 16 observations, weights 2^-0 .. 2^-15

  /** Exponentially weighted moving average of daily revenue with the
    * float recurrence replaced by exact integer arithmetic: alpha = 1/2
    * makes every weight a power of two, so the 16-observation truncated
    * EWMA numerator sum_(j=0..15) rev[t-j] * 2^(15-j) is an exact
    * DECIMAL(38,0) over integer micros (truncation error <= 2^-16 of
    * the oldest term — below double resolution of the result), the
    * boundary-normalizing denominator is an exact integer, and the
    * division happens ONCE in IEEE — both engines follow the identical
    * sequence. The standard smoother, made hash-checkable.
    *
    * Shape at 100 TB: one map-side-combinable day aggregate, one
    * window sort over the calendar-bounded daily series (a few
    * thousand rows at ANY data volume), map-only weighting.
    */
  def revenueEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyRevenue(s, dir)
    val wOrd = Window.orderBy(col("day"))
    val lagCols = (0 to ewmaLags).map(j => lag(col("rev_m"), j).over(wOrd).as(s"r_$j"))
    val withLags = daily.select((col("day") +: col("rev_m") +: lagCols): _*)
    val num = (0 to ewmaLags).map { j =>
      when(col(s"r_$j").isNotNull, col(s"r_$j") * lit(1L << (ewmaLags - j))).otherwise(lit(0L).cast(Exact.D380))
    }.reduce(_ + _)
    val den = (0 to ewmaLags).map { j =>
      when(col(s"r_$j").isNotNull, lit(1L << (ewmaLags - j))).otherwise(lit(0L))
    }.reduce(_ + _)
    withLags
      .select(col("day"), Exact.toUnits(col("rev_m")).as("revenue"),
        (num.cast(DoubleType) / den.cast(DoubleType) / lit(1000000.0)).as("ewma"))
      .orderedSmall(col("day")) // calendar-bounded series
  }

  def revenueEwmaSql: String = {
    val lagSelects = (0 to ewmaLags).map(j =>
      s"LAG(rev_m, $j) OVER (ORDER BY day) AS r_$j").mkString(", ")
    val num = (0 to ewmaLags).map(j =>
      s"CASE WHEN r_$j IS NOT NULL THEN CAST(r_$j AS HUGEINT) * ${1L << (ewmaLags - j)} ELSE 0 END")
      .mkString(" + ")
    val den = (0 to ewmaLags).map(j =>
      s"CASE WHEN r_$j IS NOT NULL THEN ${1L << (ewmaLags - j)} ELSE 0 END").mkString(" + ")
    s"""WITH daily AS (
       |  $dailyRevenueSql),
       |lagged AS (
       |  SELECT day, rev_m, $lagSelects FROM daily)
       |SELECT day, ${Exact.sqlToUnits("rev_m")} AS revenue,
       |  CAST(CAST(($num) AS VARCHAR) AS DOUBLE)
       |    / CAST(($den) AS DOUBLE) / 1000000.0 AS ewma
       |FROM lagged ORDER BY day""".stripMargin
  }

  // === ts6: STL-style decomposition + residual outliers ====================
  /** Trend + seasonal + residual decomposition of daily revenue with a
    * 3-sigma residual outlier flag — the anomaly detector ev11 runs
    * hourly, upgraded with a gap-correct centered trend and a
    * day-of-week seasonal component.
    *
    * Determinism: the trend is an exact-integer RANGE-frame mean (one
    * double division); detrended values round back to integer micros
    * before the seasonal mean (so the per-dow aggregation is
    * order-independent); residual variance sums unit-rounded squares
    * as DECIMAL(38,0) (the ts3 pattern — exact at 100 TB magnitudes);
    * day-of-week is pure epoch arithmetic ((day_num + 4) % 7), never
    * the engines' disagreeing dayofweek() builtins.
    *
    * Shape at 100 TB: ONE orders scan into the day aggregate; every
    * subsequent step (trend window, dow seasonal window, global sigma
    * window) runs over the calendar-bounded daily series — a few
    * thousand rows at ANY data volume, so the unpartitioned windows
    * are bounded work, not a scale risk.
    */
  def stlResiduals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyRevenue(s, dir)
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")).cast(LongType))
      .withColumn("dow", (col("day_num") + 4) % 7)
    val wTrend = Window.orderBy(col("day_num")).rangeBetween(-3, 3)
    val wDow = Window.partitionBy(col("dow"))
    val wAll = Window.partitionBy()
    def unitRound(c: org.apache.spark.sql.Column) =
      when(c >= 0, floor(c + 0.5)).otherwise(ceil(c - 0.5)).cast(LongType)
    val trend = Exact.toUnits(sum(col("rev_m")).over(wTrend)) / count(lit(1)).over(wTrend)
    val detr = Exact.toUnits(col("rev_m")) - col("trend")
    val seasonal = Exact.toUnits(sum(col("d_m").cast(Exact.D380)).over(wDow)) /
      count(lit(1)).over(wDow)
    val resid = col("detr") - col("seasonal")
    val sigma = sqrt(
      sum(unitRound(col("resid") * col("resid")).cast(Exact.D380)).over(wAll)
        .cast(DoubleType) / count(lit(1)).over(wAll))
    daily
      .withColumn("trend", trend)
      .withColumn("detr", detr)
      .withColumn("d_m", Exact.micros(col("detr")))
      .withColumn("seasonal", seasonal)
      .withColumn("resid", resid)
      .withColumn("sigma", sigma)
      .select(col("day"), Exact.toUnits(col("rev_m")).as("revenue"),
        col("trend"), col("seasonal"), col("resid").as("residual"),
        (abs(col("resid")) > lit(3.0) * col("sigma")).cast(IntegerType).as("is_outlier"))
      .orderedSmall(col("day")) // calendar-bounded series
  }

  def stlResidualsSql: String = {
    def unitRound(e: String) =
      s"CAST(CASE WHEN ($e) >= 0 THEN FLOOR(($e)+0.5) ELSE CEIL(($e)-0.5) END AS BIGINT)"
    s"""WITH daily_rev AS (
       |  $dailyRevenueSql),
       |daily AS (
       |  SELECT day, rev_m,
       |    date_diff('day', DATE '1970-01-01', day) AS day_num,
       |    (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow
       |  FROM daily_rev),
       |trended AS (
       |  SELECT day, dow, rev_m,
       |    ${Exact.sqlToUnits("SUM(rev_m) OVER wt")}
       |      / COUNT(*) OVER wt AS trend
       |  FROM daily
       |  WINDOW wt AS (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |detrended AS (
       |  SELECT day, dow, rev_m, trend,
       |    ${Exact.sqlToUnits("rev_m")} - trend AS detr
       |  FROM trended),
       |dm AS (
       |  SELECT *, ${Exact.sqlMicros("detr")} AS d_m FROM detrended),
       |seasoned AS (
       |  SELECT day, rev_m, trend, detr,
       |    ${Exact.sqlToUnits("SUM(CAST(d_m AS HUGEINT)) OVER wd")}
       |      / COUNT(*) OVER wd AS seasonal
       |  FROM dm
       |  WINDOW wd AS (PARTITION BY dow)),
       |resided AS (
       |  SELECT *, detr - seasonal AS resid FROM seasoned),
       |sig AS (
       |  SELECT *,
       |    sqrt(CAST(CAST(SUM(CAST(${unitRound("resid * resid")} AS HUGEINT)) OVER () AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) OVER ()) AS sigma
       |  FROM resided)
       |SELECT day, ${Exact.sqlToUnits("rev_m")} AS revenue, trend, seasonal,
       |  resid AS residual,
       |  CAST(CASE WHEN ABS(resid) > 3.0 * sigma THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
       |FROM sig ORDER BY day""".stripMargin
  }

  // === exp3: difference-in-differences =====================================
  val didSplit = "2024-01-16 00:00:00"

  /** DiD readout completing the experimentation family (exp1 readout,
    * exp2 CUPED): the md5-coin arm crossed with a pre/post period
    * split, per-user purchase-value means in each of the four cells
    * from ONE conditional-aggregation scan, and the
    * difference-in-differences estimate as a single deterministic IEEE
    * chain over the four exact-integer-derived means.
    *
    * Shape at 100 TB: one events scan into one row — every cell metric
    * is a conditional aggregate (the distinct-user counts shuffle on
    * user_id once via Spark's count-distinct expansion); no joins, no
    * second pass.
    */
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val treat = TextAnalysis.md5Frac(lit("did"), col("user_id")) < 0.5
    val post = col("ts") >= lit(didSplit).cast(TimestampType)
    val p = col("event_type") === "purchase"
    val base = t(s, dir, "events")
      .select(col("user_id"), treat.as("treat"), post.as("post"),
        when(p, Exact.micros(col("value"))).otherwise(0L).as("pv_m"))
    def users(c: org.apache.spark.sql.Column) = countDistinct(when(c, col("user_id")))
    def valSum(c: org.apache.spark.sql.Column) =
      sum(when(c, col("pv_m")).otherwise(0L)).cast(Exact.D380)
    val cells = Seq(
      ("t_pre", col("treat") && !col("post")), ("t_post", col("treat") && col("post")),
      ("c_pre", !col("treat") && !col("post")), ("c_post", !col("treat") && col("post")))
    val aggs = cells.flatMap { case (n, c) =>
      Seq(users(c).as(s"n_$n"), valSum(c).as(s"m_$n"))
    }
    val agg = base.agg(aggs.head, aggs.tail: _*)
    def mean(n: String) = (Exact.toUnits(col(s"m_$n")) / col(s"n_$n")).as(s"v_$n")
    agg.select(
      (col("n_t_pre") +: cells.tail.map(c => col(s"n_${c._1}"))) ++
        cells.map(c => mean(c._1)): _*)
      .withColumn("did",
        (col("v_t_post") - col("v_t_pre")) - (col("v_c_post") - col("v_c_pre")))
  }

  val diffInDiffSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'did'", "CAST(user_id AS VARCHAR)")
    val cells = Seq(
      ("t_pre", "treat AND NOT post"), ("t_post", "treat AND post"),
      ("c_pre", "NOT treat AND NOT post"), ("c_post", "NOT treat AND post"))
    val nCols = cells.map { case (n, c) =>
      s"CAST(COUNT(DISTINCT CASE WHEN $c THEN user_id END) AS BIGINT) AS n_$n"
    }.mkString(",\n  ")
    val vCols = cells.map { case (n, c) =>
      s"${Exact.sqlToUnits(s"SUM(CASE WHEN $c THEN pv_m ELSE 0 END)")} / COUNT(DISTINCT CASE WHEN $c THEN user_id END) AS v_$n"
    }.mkString(",\n  ")
    s"""WITH base AS (
       |  SELECT user_id,
       |    $coin < 0.5 AS treat,
       |    CAST(ts AS TIMESTAMP) >= TIMESTAMP '$didSplit' AS post,
       |    CASE WHEN event_type = 'purchase' THEN ${Exact.sqlMicros("value")} ELSE 0 END AS pv_m
       |  FROM events),
       |agg AS (
       |  SELECT
       |  $nCols,
       |  $vCols
       |  FROM base)
       |SELECT *,
       |  (v_t_post - v_t_pre) - (v_c_post - v_c_pre) AS did
       |FROM agg""".stripMargin
  }

  // === bs1: Poisson bootstrap ==============================================
  val bootReplicas = 32

  /** Cumulative Poisson(1) thresholds P(X <= k), k = 0..6 — precomputed
    * once and emitted as shortest-repr literals into BOTH engines (the
    * hll1 lcTable trick), so the replica weights derived from the md5
    * uniform are bit-identical everywhere. P(X <= 6) leaves ~8e-5 mass
    * at weight 7 — the standard truncation.
    */
  private val poisCdf: IndexedSeq[Double] = {
    val pmf = (0 to 6).scanLeft(math.exp(-1.0)) { case (p, k) => p / (k + 1) }.take(7)
    pmf.toIndexedSeq.scanLeft(0.0)(_ + _).tail
  }

  /** Poisson bootstrap of mean order value: the resampling method that
    * actually works on distributed data — instead of drawing n rows
    * with replacement (which needs global coordination), every row
    * draws an independent Poisson(1) weight per replica, and all B=32
    * replicas accumulate in ONE scan as 2B map-side-combinable
    * aggregate columns (no row explosion). Replica means round to
    * integer micros before the across-replica moment pass, so the
    * bootstrap SE is exact-integer-derived and engine-identical.
    *
    * Output: point mean, bootstrap SE, and the 2.5/97.5 percentile
    * band of the replica means.
    */
  def poissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    // one md5 yields FOUR 32-bit uniforms (8 hex chars each) — 8 hashes
    // per row serve all 32 replicas; the weighted sums run as NATIVE
    // LONG aggregates over the value's units/micros split (the
    // Exact.dsum argument: per-partition long partials stay far below
    // 2^63 at any scale) and combine into DECIMAL(38,0) once per group
    val hexCols = (0 until bootReplicas / 4).map(g =>
      md5(concat_ws("#", lit("bs"), lit(g), col("o_orderkey"))).as(s"hx_$g"))
    // fan the single-split bench scan out BEFORE the 8 md5s + 32 hex
    // parses per row: computed inside the scan stage they ran in ONE
    // task (5.1 s warm at sf0.1; guide §2.5 input skew / §1.2 step 1).
    // Only (o_orderkey, m) cross the exchange; identity at scale.
    val base = Par.fanOutWide(t(s, dir, "orders")
        .select(col("o_orderkey"), Exact.micros(col("o_totalprice")).as("m")))
      .select(Seq(col("o_orderkey"), col("m")) ++ hexCols: _*)
      .withColumn("mu", expr("m DIV 1000000"))
      .withColumn("mf", expr("m % 1000000"))
    // the uniforms PROJECT once per row: inside the Poisson CASE chain
    // a raw hash expression would re-run conv(substring(..)) in every
    // one of the 21 branches (common-subexpression elimination does not
    // reach across when() branches) — ~670 hex parses per row instead
    // of 32
    val withU = base.select(Seq(col("mu"), col("mf")) ++
      (0 until bootReplicas).map { b =>
        (conv(substring(col(s"hx_${b / 4}"), 1 + 8 * (b % 4), 8), 16, 10)
          .cast(LongType).cast(DoubleType) / lit(4294967296.0)).as(s"u_$b")
      }: _*)
    def weight(b: Int): org.apache.spark.sql.Column =
      poisCdf.zipWithIndex.reverse.foldLeft(lit(7L)) { case (acc, (thr, k)) =>
        when(col(s"u_$b") < thr, k.toLong).otherwise(acc)
      }
    // EXPLODE the 33 weights (index 0 = the identity replica carrying
    // the unweighted totals) instead of 98 wide aggregate columns: a
    // 98-buffer aggregate exceeds Spark's codegen field limit and
    // falls back to interpreted evaluation; the 3-aggregate
    // groupBy(replica) below stays fully codegen'd and map-side
    // combinable (33 output rows).
    val weighted = withU.select(col("mu"), col("mf"),
      posexplode(array((lit(1L) +: (0 until bootReplicas).map(weight)): _*))
        .as(Seq("b", "wt")))
    val sums = weighted.groupBy(col("b"))
      .agg(sum(col("wt") * col("mu")).as("wu"),
        sum(col("wt") * col("mf")).as("wf"),
        sum(col("wt")).as("w"))
      .withColumn("wm", col("wu").cast(Exact.D380) * lit(1000000L) + col("wf"))
      .withColumn("bm", Exact.micros(Exact.toUnits(col("wm")) / col("w")))
    // one conditional pass over the 33 rows: identity -> n/tm, replicas
    // -> exact integer moments + percentile band of the bm means
    val rep = col("b") > 0
    val bD = lit(bootReplicas.toLong)
    val mean2 = sum(when(rep, col("bm").cast(Exact.D380) * col("bm"))).cast(DoubleType)
    val mean1 = sum(when(rep, col("bm").cast(Exact.D380))).cast(DoubleType)
    sums.agg(
      max(when(!rep, col("w"))).as("n"),
      max(when(!rep, col("wm"))).as("tm"),
      sqrt((mean2 / bD - (mean1 / bD) * (mean1 / bD)) *
        (bD / (bD - 1L))).as("se_micros"),
      percentile(when(rep, col("bm")), lit(0.025)).as("lo_m"),
      percentile(when(rep, col("bm")), lit(0.975)).as("hi_m"))
      .select(col("n"),
        (Exact.toUnits(col("tm")) / col("n")).as("point_mean"),
        (col("se_micros") / 1000000.0).as("boot_se"),
        (col("lo_m") / 1000000.0).as("ci_lo"),
        (col("hi_m") / 1000000.0).as("ci_hi"))
  }

  val poissonBootstrapSql: String = {
    val hexCols = (0 until bootReplicas / 4).map(g =>
      s"md5(concat_ws('#', 'bs', '$g', CAST(o_orderkey AS VARCHAR))) AS hx_$g")
      .mkString(",\n    ")
    val weight = (b: Int) => {
      val u = s"(CAST(('0x' || substring(hx_${b / 4}, ${1 + 8 * (b % 4)}, 8))::BIGINT AS DOUBLE) / 4294967296.0)"
      val cases = poisCdf.zipWithIndex
        .map { case (thr, k) => s"WHEN $u < $thr THEN $k" }.mkString(" ")
      s"(CASE $cases ELSE 7 END)"
    }
    val aggs = (0 until bootReplicas).map { b =>
      s"SUM(CAST(${weight(b)} * mu AS HUGEINT)) AS wu_$b, " +
        s"SUM(CAST(${weight(b)} * mf AS HUGEINT)) AS wf_$b, SUM(${weight(b)}) AS w_$b"
    }.mkString(",\n  ")
    val wms = (0 until bootReplicas).map { b =>
      s"wu_$b * 1000000 + wf_$b AS wm_$b, w_$b"
    }.mkString(",\n  ")
    val bms = (0 until bootReplicas).map { b =>
      Exact.sqlMicros(s"${Exact.sqlToUnits(s"wm_$b")} / w_$b")
    }.mkString(", ")
    s"""WITH base AS (
       |  SELECT o_orderkey, ${Exact.sqlMicros("o_totalprice")} AS m,
       |    ${Exact.sqlMicros("o_totalprice")} // 1000000 AS mu,
       |    ${Exact.sqlMicros("o_totalprice")} % 1000000 AS mf,
       |    $hexCols
       |  FROM orders),
       |sums AS (
       |  SELECT COUNT(*) AS n, SUM(CAST(m AS HUGEINT)) AS tm,
       |  $aggs
       |  FROM base),
       |wide AS (
       |  SELECT n, tm,
       |  $wms
       |  FROM sums),
       |stacked AS (
       |  SELECT n, tm, UNNEST([$bms]) AS bm FROM wide),
       |agg AS (
       |  SELECT n, tm,
       |    sqrt((CAST(CAST(SUM(CAST(bm AS HUGEINT) * bm) AS VARCHAR) AS DOUBLE) / $bootReplicas
       |          - (CAST(SUM(CAST(bm AS HUGEINT)) AS DOUBLE) / $bootReplicas)
       |            * (CAST(SUM(CAST(bm AS HUGEINT)) AS DOUBLE) / $bootReplicas))
       |         * (CAST($bootReplicas AS DOUBLE) / ${bootReplicas - 1})) AS se_micros,
       |    quantile_cont(bm, 0.025) AS lo_m,
       |    quantile_cont(bm, 0.975) AS hi_m
       |  FROM stacked GROUP BY n, tm)
       |SELECT n, ${Exact.sqlToUnits("tm")} / n AS point_mean,
       |  se_micros / 1000000.0 AS boot_se,
       |  lo_m / 1000000.0 AS ci_lo, hi_m / 1000000.0 AS ci_hi
       |FROM agg""".stripMargin
  }

  // === cal1: classifier calibration (reliability diagram) ==================
  val calBinWidth = 0.25
  val calBinLo = -1.0
  val calBins = 16

  /** The reliability diagram for qc1's margin against txt6's verdict —
    * completing the eval family (auc1 ranking, map1 retrieval, cal1
    * calibration): fixed margin bins, observed positive rate and exact
    * mean margin per bin. A calibrated classifier's positive rate
    * rises monotonically with the margin; the bins are fixed-bound so
    * they merge across shards (the prof3 histogram argument).
    * Everything is integer counts + micros sums until one final
    * division per column.
    */
  def marginCalibration(s: SparkSession, dir: String): DataFrame = {
    val m = TextAnalysis.qualityMargin(s, dir)
      .select(col("doc_id"), col("quality_margin"))
    val l = TextAnalysis.docQualityFilter(s, dir).select(col("doc_id"), col("keep"))
    m.join(l, "doc_id")
      .withColumn("bin",
        least(greatest(floor((col("quality_margin") - calBinLo) / calBinWidth), lit(0.0)),
          lit(calBins - 1.0)).cast(IntegerType))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Exact.micros(col("quality_margin")).cast(Exact.D380)).as("mm"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"),
        (lit(calBinLo) + col("bin").cast(DoubleType) * calBinWidth).as("bin_lo"),
        col("n_docs"),
        (Exact.toUnits(col("mm")) / col("n_docs")).as("mean_margin"),
        col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n_docs").cast(DoubleType)).as("pos_rate"))
      .orderedSmall(col("bin"))
  }

  val marginCalibrationSql: String = {
    val micros = Exact.sqlMicros("quality_margin")
    s"""WITH m AS (${TextAnalysis.qualityMarginSql}),
       |l AS (SELECT doc_id, keep FROM (${TextAnalysis.docQualityFilterSql}) q),
       |j AS (
       |  SELECT m.doc_id, quality_margin, keep,
       |    CAST(LEAST(GREATEST(FLOOR((quality_margin - $calBinLo) / $calBinWidth), 0.0),
       |      ${calBins - 1}.0) AS INTEGER) AS bin
       |  FROM m JOIN l ON m.doc_id = l.doc_id)
       |SELECT bin, $calBinLo + CAST(bin AS DOUBLE) * $calBinWidth AS bin_lo,
       |  COUNT(*) AS n_docs,
       |  ${Exact.sqlToUnits(s"SUM(CAST($micros AS HUGEINT))")} / COUNT(*) AS mean_margin,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS pos_rate
       |FROM j GROUP BY bin ORDER BY bin""".stripMargin
  }

  // === fair1: per-group metric parity audit ================================
  /** The bias audit every production classifier ships with: per
    * language, the qc1-vs-txt6 agreement rate, both positive rates,
    * and each group's gap from the corpus-wide classifier rate. The
    * per-group aggregate is one scan; the corpus-wide reference rides
    * a window over the group table (integer sums, one division) — no
    * second pass, no driver collect.
    */
  def groupParity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = TextAnalysis.qualityMargin(s, dir)
      .select(col("doc_id"), col("quality_pass"))
    val l = TextAnalysis.docQualityFilter(s, dir).select(col("doc_id"), col("keep"))
    val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val grouped = m.join(l, "doc_id").join(langs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("quality_pass") === col("keep"), 1L).otherwise(0L)).as("n_agree"),
        sum(when(col("quality_pass"), 1L).otherwise(0L)).as("n_clf_pos"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_label_pos"))
    val wAll = Window.partitionBy()
    val overall = sum(col("n_clf_pos")).over(wAll).cast(DoubleType) /
      sum(col("n")).over(wAll).cast(DoubleType)
    grouped
      .withColumn("clf_rate", col("n_clf_pos").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("parity_gap", col("clf_rate") - overall)
      .select(col("lang"), col("n"),
        (col("n_agree").cast(DoubleType) / col("n").cast(DoubleType)).as("agreement"),
        col("clf_rate"),
        (col("n_label_pos").cast(DoubleType) / col("n").cast(DoubleType)).as("label_rate"),
        col("parity_gap"))
      .orderedSmall(col("lang"))
  }

  val groupParitySql: String =
    s"""WITH m AS (${TextAnalysis.qualityMarginSql}),
       |l AS (SELECT doc_id, keep FROM (${TextAnalysis.docQualityFilterSql}) q),
       |grouped AS (
       |  SELECT d.lang, COUNT(*) AS n,
       |    SUM(CASE WHEN quality_pass = keep THEN 1 ELSE 0 END) AS n_agree,
       |    SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS n_clf_pos,
       |    SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_label_pos
       |  FROM m JOIN l ON m.doc_id = l.doc_id
       |  JOIN documents d ON d.doc_id = m.doc_id
       |  GROUP BY d.lang)
       |SELECT lang, n,
       |  CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS agreement,
       |  CAST(n_clf_pos AS DOUBLE) / CAST(n AS DOUBLE) AS clf_rate,
       |  CAST(n_label_pos AS DOUBLE) / CAST(n AS DOUBLE) AS label_rate,
       |  CAST(n_clf_pos AS DOUBLE) / CAST(n AS DOUBLE)
       |    - CAST(SUM(n_clf_pos) OVER () AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
       |    AS parity_gap
       |FROM grouped ORDER BY lang""".stripMargin

  // === fh1: feature hashing (the hash trick) ===============================
  val fhDims = 64

  /** The hash-trick featurizer: each event contributes categorical
    * features ("et:<type>", "dow:<d>", "hr:<bucket>") whose md5 index
    * mod 64 lands them in a fixed-width sparse vector per user, hash
    * collisions summing — exactly how large-scale linear models and
    * GBDT pipelines featurize unbounded categorical vocabularies
    * without a dictionary (no global vocab build, no second pass, no
    * driver state). Time features use pure integer epoch arithmetic
    * (the ev16 rule). Output is the sparse COO form (user, idx, value);
    * one map-side-combinable shuffle on (user, idx).
    */
  def featureHashing(s: SparkSession, dir: String): DataFrame = {
    // DIV, not `/`: Column `/` on longs is a DOUBLE division whose floor
    // can flip at exact bucket boundaries — integral division matches
    // DuckDB's `//` exactly
    val dow = expr("(unix_micros(ts) DIV 86400000000 + 4) % 7")
    val hourBucket = expr("(unix_micros(ts) DIV 3600000000) % 24 DIV 6") // 4 six-hour buckets
    val feats = array(
      concat(lit("et:"), col("event_type")),
      concat(lit("dow:"), dow.cast(StringType)),
      concat(lit("hr:"), hourBucket.cast(StringType)))
    val idx = conv(substring(md5(concat_ws("#", lit("fh"), col("f"))), 1, 8), 16, 10)
      .cast(LongType) % fhDims
    t(s, dir, "events")
      .select(col("user_id"), explode(feats).as("f"))
      .select(col("user_id"), idx.as("feature_idx"))
      .groupBy(col("user_id"), col("feature_idx"))
      .agg(count(lit(1)).as("value"))
      .orderBy(col("user_id"), col("feature_idx"))
  }

  val featureHashingSql: String =
    s"""WITH feats AS (
       |  SELECT user_id, UNNEST([
       |    'et:' || event_type,
       |    'dow:' || CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS VARCHAR),
       |    'hr:' || CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 // 6 AS VARCHAR)
       |  ]) AS f
       |  FROM events),
       |keyed AS (
       |  SELECT user_id,
       |    ('0x' || substring(md5(concat_ws('#', 'fh', f)), 1, 8))::BIGINT % $fhDims
       |      AS feature_idx
       |  FROM feats)
       |SELECT user_id, feature_idx, COUNT(*) AS value
       |FROM keyed GROUP BY user_id, feature_idx
       |ORDER BY user_id, feature_idx""".stripMargin

  // === dp1: differentially-private counts (geometric mechanism) ============
  val dpMaxNoise = 10

  /** Two-sided-geometric CDF thresholds for alpha = 1/2 (the discrete
    * Laplace / geometric mechanism at epsilon = ln 2):
    * P(K = k) = (1/3) * (1/2)^(|k|) for k != 0, P(0) = 1/3; truncated
    * at |k| <= 10 (residual mass ~6.5e-4 folded into the extremes).
    * Like hll1's lcTable and bs1's Poisson thresholds, the CDF is
    * precomputed and emitted as shortest-repr literals so both engines
    * draw identical noise from the md5 uniform.
    */
  private val dpCdf: IndexedSeq[(Int, Double)] = {
    val ks = (-dpMaxNoise to dpMaxNoise)
    val mass = ks.map(k => if (k == 0) 1.0 / 3.0 else (1.0 / 3.0) * math.pow(0.5, math.abs(k)))
    val total = mass.sum
    val cum = mass.map(_ / total).scanLeft(0.0)(_ + _).tail
    ks.zip(cum).toIndexedSeq
  }

  /** Differentially-private per-nation customer counts: the geometric
    * mechanism (epsilon = ln 2 discrete Laplace) over exact counts.
    *
    * ==== WARNING — the default mode provides NO PRIVACY ====
    * With `secretSalt = None` (the test-harness default) the noise is
    * drawn deterministically from md5 of the PUBLIC group name, and the
    * exact `true_count` is emitted beside `dp_count` as the utility
    * baseline. That mode exists ONLY so the release is reproducible and
    * oracle-checkable; an adversary can recompute the noise and recover
    * every count. A real release MUST (a) pass a `secretSalt` drawn
    * from a CSPRNG and kept out of the release, and (b) drop the
    * `true_count` and `noise` columns before publication. The epsilon
    * guarantee holds only under (a)+(b).
    *
    * Shape at 100 TB: one map-side-combinable count aggregate; the
    * noise is a per-GROUP literal-table lookup — privacy releases cost
    * one scan.
    */
  def dpCounts(s: SparkSession, dir: String,
               secretSalt: Option[String] = None): DataFrame = {
    val seed = secretSalt match {
      case Some(salt) => concat(lit("dp1#"), lit(salt))
      case None       => lit("dp1") // TEST-ONLY: noise recomputable from public data
    }
    val u = TextAnalysis.md5Frac(seed, col("n_name"))
    val noise = dpCdf.reverse.foldLeft(lit(dpMaxNoise)) { case (acc, (k, thr)) =>
      when(u < thr, k).otherwise(acc)
    }
    t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("true_count"))
      .withColumn("noise", noise.cast(LongType))
      .select(col("n_name"), col("true_count"),
        greatest(col("true_count") + col("noise"), lit(0L)).as("dp_count"),
        col("noise"))
      .orderedSmall(col("n_name"))
  }

  val dpCountsSql: String = {
    val u = TextAnalysis.sqlMd5Frac("'dp1'", "n_name")
    val cases = dpCdf.map { case (k, thr) => s"WHEN $u < $thr THEN $k" }.mkString(" ")
    s"""WITH counts AS (
       |  SELECT n_name, COUNT(*) AS true_count
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name),
       |noisy AS (
       |  SELECT n_name, true_count,
       |    CAST((CASE $cases ELSE $dpMaxNoise END) AS BIGINT) AS noise
       |  FROM counts)
       |SELECT n_name, true_count,
       |  GREATEST(true_count + noise, 0) AS dp_count, noise
       |FROM noisy ORDER BY n_name""".stripMargin
  }

  // === ks1: Kolmogorov–Smirnov source drift =================================
  /** Two-sample KS distance over document length (`n_chars`) for every
    * source pair — the rank-based drift test that complements drift1's
    * KL over token distributions (KS needs no smoothing or vocabulary
    * cut and sees distribution-SHAPE drift that token KL misses; a new
    * crawl slice whose length distribution jumps is truncated,
    * boilerplate-heavy, or mis-extracted).
    *
    * D = max over observed values of |CDF_a − CDF_b| (evaluating at the
    * pair's own jump points; points outside the union add no new
    * difference, so this equals the full-grid definition). Shape at
    * 100 TB: the heavy pass is ONE (source, value) count aggregate
    * referenced ONCE — each aggregated row fans out map-side to the
    * (≤ sources−1) pairs it participates in, per-pair CDFs are one
    * cumulative window over value, and D reduces the pair-keyed stream.
    * (A first cut materialized a per-source CDF grid and self-joined it;
    * the grid's three references re-scanned the corpus nine times —
    * plan-pinned now.) Engine parity: each CDF point is one IEEE
    * division of exact integers and D is a max (order-independent, no
    * summation), so the doubles match bit-for-bit with no rounding step.
    */
  def sourceKs(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("source"), col("n_chars").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    // the source list rides the aggregate as a broadcast scalar — the
    // one extra reference reuses the counts exchange (identical subtree)
    val sourceSet = counts.agg(collect_set(col("source")).as("ss"))
    val lo = least(col("source"), col("other"))
    val hi = greatest(col("source"), col("other"))
    val perPair = counts.crossJoin(broadcast(sourceSet))
      .select(col("source"), col("v"), col("c"), explode(col("ss")).as("other"))
      .filter(col("other") =!= col("source"))
      .select(lo.as("source_a"), hi.as("source_b"), col("v"),
        when(col("source") < col("other"), col("c")).otherwise(lit(0L)).as("ca"),
        when(col("source") > col("other"), col("c")).otherwise(lit(0L)).as("cb"))
      .groupBy(col("source_a"), col("source_b"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val wCdf = Window.partitionBy(col("source_a"), col("source_b")).orderBy(col("v"))
    val wPair = Window.partitionBy(col("source_a"), col("source_b"))
    perPair
      .withColumn("cuma", sum(col("ca")).over(wCdf))
      .withColumn("cumb", sum(col("cb")).over(wCdf))
      .withColumn("na", sum(col("ca")).over(wPair))
      .withColumn("nb", sum(col("cb")).over(wPair))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        abs(col("cuma").cast(DoubleType) / col("na").cast(DoubleType)
          - col("cumb").cast(DoubleType) / col("nb").cast(DoubleType)).as("d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"), max(col("d")).as("ks_d"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceKsSql: String =
    """WITH d AS (SELECT source, n_chars AS v FROM documents),
      |counts AS (SELECT source, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, vv.v
      |  FROM (SELECT DISTINCT source FROM d) s
      |  CROSS JOIN (SELECT DISTINCT v FROM d) vv),
      |cdf AS (
      |  SELECT g.source, g.v,
      |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source ORDER BY g.v) AS cum,
      |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source) AS n
      |  FROM grid g LEFT JOIN counts c ON c.source = g.source AND c.v = g.v),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b, a.n AS na, b.n AS nb,
      |    ABS(CAST(a.cum AS DOUBLE) / CAST(a.n AS DOUBLE)
      |      - CAST(b.cum AS DOUBLE) / CAST(b.n AS DOUBLE)) AS dd
      |  FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source)
      |SELECT source_a, source_b,
      |  CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  MAX(dd) AS ks_d
      |FROM pairs GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** cal2: Brier-score calibration decomposition of the quality
    * classifier, per reliability bin (Murphy 1973): the forecast
    * probability is the PIECEWISE-LINEAR map of qc1's margin onto [0,1]
    * (pure arithmetic — a logistic map would drag libm exp() ulp
    * differences across engines), the outcome is txt6's rule verdict.
    * Per bin: exact-micros mean forecast, observed rate, the bin's own
    * mean Brier score, and its reliability term (mean_p - pos_rate)² —
    * the calibration audit the bin-level sums of which give Murphy's
    * reliability/resolution split. Same bin grid as cal1.
    */
  def brierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val span = calBins * calBinWidth
    val m = TextAnalysis.qualityMargin(s, dir)
      .select(col("doc_id"), col("quality_margin"))
    val l = TextAnalysis.docQualityFilter(s, dir).select(col("doc_id"), col("keep"))
    val p = least(greatest((col("quality_margin") - calBinLo) / span, lit(0.0)), lit(1.0))
    val perBin = m.join(l, "doc_id")
      .withColumn("p", p)
      .withColumn("y", when(col("keep"), 1.0).otherwise(0.0))
      .withColumn("bin",
        least(greatest(floor((col("quality_margin") - calBinLo) / calBinWidth), lit(0.0)),
          lit(calBins - 1.0)).cast(IntegerType))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Exact.micros(col("p")).cast(Exact.D380)).as("pm"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"),
        sum(Exact.micros((col("p") - col("y")) * (col("p") - col("y")))
          .cast(Exact.D380)).as("bm"))
    val meanP = Exact.toUnits(col("pm")) / col("n_docs")
    val posRate = col("n_pos").cast(DoubleType) / col("n_docs").cast(DoubleType)
    perBin.select(col("bin"), col("n_docs"),
        meanP.as("mean_p"), posRate.as("pos_rate"),
        (Exact.toUnits(col("bm")) / col("n_docs")).as("brier"),
        Exact.dround((meanP - posRate) * (meanP - posRate), 9).as("reliability"))
      .orderedSmall(col("bin"))
  }

  val brierDecompositionSql: String = {
    val span = calBins * calBinWidth
    val pExpr = s"LEAST(GREATEST((quality_margin - $calBinLo) / $span, 0.0), 1.0)"
    val meanP = s"(${Exact.sqlToUnits("pm")} / CAST(n_docs AS DOUBLE))"
    val posRate = "(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    s"""WITH m AS (${TextAnalysis.qualityMarginSql}),
       |l AS (SELECT doc_id, keep FROM (${TextAnalysis.docQualityFilterSql}) q),
       |j AS (
       |  SELECT m.doc_id, keep, $pExpr AS p,
       |    CASE WHEN keep THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(LEAST(GREATEST(FLOOR((quality_margin - $calBinLo) / $calBinWidth), 0.0),
       |      ${calBins - 1}.0) AS INTEGER) AS bin
       |  FROM m JOIN l ON m.doc_id = l.doc_id),
       |b AS (
       |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    SUM(CAST(${Exact.sqlMicros("p")} AS HUGEINT)) AS pm,
       |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    SUM(CAST(${Exact.sqlMicros("(p - y) * (p - y)")} AS HUGEINT)) AS bm
       |  FROM j GROUP BY bin)
       |SELECT bin, n_docs, $meanP AS mean_p, $posRate AS pos_rate,
       |  (${Exact.sqlToUnits("bm")} / CAST(n_docs AS DOUBLE)) AS brier,
       |  ${Exact.sqlDround(s"(($meanP - $posRate) * ($meanP - $posRate))", 9)} AS reliability
       |FROM b ORDER BY bin""".stripMargin
  }

  /** ts8: Theil–Sen robust trend of daily total event value — the
    * median of all pairwise slopes over the per-day exact-micros sums
    * (reg1's OLS twin that one outlier day cannot move). The pair set is
    * C(days, 2) over an ALREADY-AGGREGATED ~hundreds-row frame, never
    * the raw events. "Median" is the LOWER-MIDDLE element of the
    * totally-ordered slope list ((m+1)/2 by (slope, x1, x2)) — exact and
    * engine-portable where interpolated quantiles are not.
    */
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dayUs = 86400000000L
    // ONE events scan; the per-day frame is BOUNDED driver state (one
    // row per day in the data — the centroids/BPE-merges discipline), so
    // the four plan subtrees that would each re-scan events at 100 TB
    // (d0, both self-join sides, the count) instead read a LocalRelation
    // (plan-pinned: PlanQualitySpec caught the 4-scan first cut)
    // a day whose every value is NULL sums to a NULL total — dropped on
    // BOTH sides (review r16: NULL slopes rank NULLS FIRST in Spark but
    // NULLS LAST in DuckDB, shifting the rank-selected median); a NULL
    // ts yields a NULL day group — dropped on BOTH sides too (ADVICE
    // r16: getLong on a NULL day would silently unbox to epoch day 0)
    val daily = t(s, dir, "events")
      .select(expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $dayUs)) div $dayUs").as("day"),
        Exact.micros(col("value")).as("ym"))
      .filter(col("day").isNotNull)
      .groupBy(col("day")).agg(sum(col("ym").cast(Exact.D380)).as("sym"))
      .filter(col("sym").isNotNull)
      .collect()
    val outSchema = StructType(Seq(
      StructField("n_days", LongType), StructField("n_pairs", LongType),
      StructField("ts_slope_per_day", DoubleType)))
    if (daily.length < 2)
      return s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val minDay = daily.map(_.getLong(0)).min
    val baseSchema = StructType(Seq(
      StructField("x", LongType), StructField("sym", Exact.D380)))
    val base = s.createDataFrame(
      daily.map(r => org.apache.spark.sql.Row(r.getLong(0) - minDay, r.getDecimal(1)))
        .toSeq.asJava, baseSchema)
    val pairs = base.as("a").join(base.as("b"), col("a.x") < col("b.x"))
      .select(col("a.x").as("x1"), col("b.x").as("x2"),
        ((col("b.sym") - col("a.sym")).cast(DoubleType)
          / (col("b.x") - col("a.x")).cast(DoubleType) / lit(1000000.0)).as("slope"))
    val w = Window.orderBy(col("slope"), col("x1"), col("x2"))
    val counts = pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(base.agg(count(lit(1)).as("n_days")))
    pairs.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(counts))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("n_days"), col("n_pairs"),
        Exact.dround(col("slope"), 6).as("ts_slope_per_day"))
  }

  val theilSenTrendSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    SUM(CAST(${Exact.sqlMicros("value")} AS HUGEINT)) AS sym
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |  HAVING SUM(CAST(${Exact.sqlMicros("value")} AS HUGEINT)) IS NOT NULL),
       |d0 AS (SELECT MIN(day) AS d0 FROM daily),
       |base AS (SELECT day - d0 AS x, sym FROM daily CROSS JOIN d0),
       |pairs AS (
       |  SELECT a.x AS x1, b.x AS x2,
       |    CAST(CAST(b.sym - a.sym AS VARCHAR) AS DOUBLE)
       |      / CAST(b.x - a.x AS DOUBLE) / 1000000.0 AS slope
       |  FROM base a JOIN base b ON a.x < b.x),
       |ranked AS (
       |  SELECT slope, row_number() OVER (ORDER BY slope, x1, x2) AS rn FROM pairs),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM base)
       |SELECT n_days, n_pairs, ${Exact.sqlDround("slope", 6)} AS ts_slope_per_day
       |FROM ranked, m, nd WHERE rn = (n_pairs + 1) // 2""".stripMargin

  /** ev24: longest consecutive-day activity streak per user, reported
    * as a distribution (streak length -> user count) — the classic
    * gaps-and-islands shape: within a user, day minus its row_number is
    * constant across a consecutive run. Day bucketing floors like the
    * other event ops (pmod subtraction = the oracle's // floor).
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val day = expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) div 86400000000")
    val days = t(s, dir, "events").select(col("user_id"), day.as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id")).agg(max(col("len")).as("max_streak"))
      .groupBy(col("max_streak")).agg(count(lit(1)).as("n_users"))
      .orderedSmall(col("max_streak"))
  }

  def activityStreaksSql(): String =
    s"""WITH d AS (
       |  SELECT DISTINCT user_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
       |  FROM events),
       |g AS (SELECT user_id, day,
       |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d),
       |l AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len FROM g GROUP BY user_id, grp),
       |m AS (SELECT user_id, MAX(len) AS max_streak FROM l GROUP BY user_id)
       |SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_users
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** ts9: Mann–Kendall monotonic-trend test over ts8's daily frame —
    * the nonparametric significance companion to the Theil–Sen slope
    * (Mann 1945, Kendall 1975): S = Σ_{i<j} sign(y_j − y_i) over the
    * day-ordered per-day exact-micros sums, with the tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 and the
    * continuity-corrected z = (S ∓ 1)/√Var(S). S, n and the variance
    * NUMERATOR (var_s_x18 = 18·Var(S)) are pure integers — bit-equal
    * across engines by construction; z is a fixed IEEE sequence
    * (exact-int→double, /18.0, sqrt, one division), 9-dp rounded.
    * All-tied series (Var = 0) report NULL z.
    * Shape at 100 TB: ONE events scan into the bounded per-day
    * aggregate (one row per calendar day — the ts8/BPE driver-state
    * discipline); the C(days,2) sign pairs and the tie groups run over
    * a LocalRelation, never the raw events.
    */
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dayUs = 86400000000L
    val daily = t(s, dir, "events")
      .select(expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $dayUs)) div $dayUs").as("day"),
        Exact.micros(col("value")).as("ym"))
      .filter(col("day").isNotNull) // NULL ts ⇒ NULL day: no calendar day (ts8 parity)
      .groupBy(col("day")).agg(sum(col("ym").cast(Exact.D380)).as("sym"))
      .filter(col("sym").isNotNull) // all-NULL day sums drop on both engines
      .collect()
    val outSchema = StructType(Seq(
      StructField("n_days", LongType), StructField("s_stat", LongType),
      StructField("var_s_x18", LongType), StructField("mk_z", DoubleType)))
    if (daily.length < 2)
      return s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val baseSchema = StructType(Seq(
      StructField("x", LongType), StructField("sym", Exact.D380)))
    val base = s.createDataFrame(
      daily.map(r => org.apache.spark.sql.Row(r.getLong(0), r.getDecimal(1))).toSeq.asJava,
      baseSchema)
    val sgn = when(col("b.sym") > col("a.sym"), lit(1L))
      .when(col("b.sym") < col("a.sym"), lit(-1L)).otherwise(lit(0L))
    val sRow = base.as("a").join(base.as("b"), col("a.x") < col("b.x"))
      .agg(coalesce(sum(sgn), lit(0L)).as("s_stat"))
    val tieRow = base.groupBy(col("sym")).agg(count(lit(1)).as("tt"))
      .agg(coalesce(sum(col("tt") * (col("tt") - 1) * (col("tt") * 2 + 5)), lit(0L))
        .as("tie_x18"))
    val nRow = base.agg(count(lit(1)).as("n_days"))
    val n = col("n_days")
    val zRaw = (when(col("s_stat") > 0, col("s_stat") - 1)
      .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(lit(0L))).cast(DoubleType) /
      sqrt(col("var_s_x18").cast(DoubleType) / lit(18.0))
    nRow.crossJoin(sRow).crossJoin(tieRow)
      .withColumn("var_s_x18", n * (n - 1) * (n * 2 + 5) - col("tie_x18"))
      .select(col("n_days"), col("s_stat"), col("var_s_x18"),
        when(col("var_s_x18") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(zRaw, 9)).as("mk_z"))
  }

  val mannKendallSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    SUM(CAST(${Exact.sqlMicros("value")} AS HUGEINT)) AS sym
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |  HAVING SUM(CAST(${Exact.sqlMicros("value")} AS HUGEINT)) IS NOT NULL),
       |sp AS (
       |  SELECT COALESCE(SUM(CASE WHEN b.sym > a.sym THEN 1
       |                           WHEN b.sym < a.sym THEN -1 ELSE 0 END), 0) AS s_stat
       |  FROM daily a JOIN daily b ON a.day < b.day),
       |tg AS (SELECT sym, COUNT(*) AS tt FROM daily GROUP BY 1),
       |tie AS (SELECT COALESCE(SUM(tt*(tt-1)*(2*tt+5)), 0) AS tie_x18 FROM tg),
       |nn AS (SELECT COUNT(*) AS n FROM daily),
       |v AS (SELECT n, s_stat, n*(n-1)*(2*n+5) - tie_x18 AS var_x18
       |      FROM nn CROSS JOIN sp CROSS JOIN tie)
       |SELECT CAST(n AS BIGINT) AS n_days, CAST(s_stat AS BIGINT) AS s_stat,
       |  CAST(var_x18 AS BIGINT) AS var_s_x18,
       |  CASE WHEN var_x18 = 0 THEN NULL ELSE ${Exact.sqlDround(
           "(CASE WHEN s_stat > 0 THEN s_stat - 1 WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END)" +
             " / sqrt(CAST(var_x18 AS DOUBLE) / 18.0)", 9)} END AS mk_z
       |FROM v WHERE n >= 2""".stripMargin

  /** exp5: Welch's unequal-variance t-test on per-user purchase value
    * between exp1's md5-coin arms — the parametric significance readout
    * for the experiment exp1 reports rates for (and exp4 tests
    * nonparametrically). The SAME 'exp1'-salted coin splits users, so
    * the three operators describe ONE experiment. Per-arm moments are
    * exact integers (micros sums, micros² squares in DECIMAL(38,0));
    * the t statistic, Welch–Satterthwaite df, and means are ONE fixed
    * IEEE sequence over their correctly-rounded double images —
    * bit-identical across engines. Degenerate arms (n < 2 or zero
    * pooled variance) report NULL t/df.
    * Shape at 100 TB: one events scan → user aggregate (map-side
    * combinable) → ONE conditional-aggregation pass to a single moments
    * row (the exp2/exp3 discipline); no window, no join.
    */
  def welchTTest(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .select(col("user_id"),
        when(col("event_type") === "purchase", Exact.micros(col("value"))).otherwise(0L).as("vm"))
      .groupBy(col("user_id")).agg(sum(col("vm")).as("x"))
    val a = TextAnalysis.md5Frac(lit("exp1"), col("user_id")) < 0.5
    val xd = col("x").cast(Exact.D380)
    val m = perUser.agg(
      coalesce(sum(when(a, 1L).otherwise(0L)), lit(0L)).as("n_a"),
      coalesce(sum(when(!a, 1L).otherwise(0L)), lit(0L)).as("n_b"),
      sum(when(a, xd).otherwise(lit(0).cast(Exact.D380))).as("sxa"),
      sum(when(!a, xd).otherwise(lit(0).cast(Exact.D380))).as("sxb"),
      sum(when(a, xd * xd).otherwise(lit(0).cast(Exact.D380))).as("sxxa"),
      sum(when(!a, xd * xd).otherwise(lit(0).cast(Exact.D380))).as("sxxb"))
    def units(c: Column) = Exact.toUnits(c)
    def units2(c: Column) = c.cast(DoubleType) / lit(1000000000000.0)
    m.select({
      val na = col("n_a").cast(DoubleType); val nb = col("n_b").cast(DoubleType)
      val ma = units(col("sxa")) / na; val mb = units(col("sxb")) / nb
      val va = (units2(col("sxxa")) - units(col("sxa")) * units(col("sxa")) / na) / (na - 1)
      val vb = (units2(col("sxxb")) - units(col("sxb")) * units(col("sxb")) / nb) / (nb - 1)
      val se2 = va / na + vb / nb
      val tStat = (ma - mb) / sqrt(se2)
      val df = (se2 * se2) / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
      val degenerate = col("n_a") < 2 || col("n_b") < 2 || se2 <= 0.0
      // an EMPTY arm means 0/0 = NaN: Spark's non-ANSI NaN->long cast
      // inside dround reads 0.0 while DuckDB's CAST(NaN AS BIGINT)
      // errors — both sides must agree on NULL instead (the ts9/corr3
      // NULL-parity discipline)
      Seq(col("n_a"), col("n_b"),
        when(col("n_a") < 1, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(ma, 6)).as("mean_a"),
        when(col("n_b") < 1, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(mb, 6)).as("mean_b"),
        when(degenerate, lit(null).cast(DoubleType)).otherwise(Exact.dround(tStat, 6)).as("t_stat"),
        when(degenerate, lit(null).cast(DoubleType)).otherwise(Exact.dround(df, 3)).as("welch_df"))
    }: _*)
  }

  val welchTTestSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'exp1'", "CAST(user_id AS VARCHAR)")
    val micros = Exact.sqlMicros("value")
    def u(c: String) = Exact.sqlToUnits(c)
    def u2(c: String) = s"(CAST(CAST($c AS VARCHAR) AS DOUBLE)/1000000000000.0)"
    val na = "CAST(n_a AS DOUBLE)"; val nb = "CAST(n_b AS DOUBLE)"
    val ma = s"(${u("sxa")} / $na)"; val mb = s"(${u("sxb")} / $nb)"
    val va = s"((${u2("sxxa")} - ${u("sxa")} * ${u("sxa")} / $na) / ($na - 1))"
    val vb = s"((${u2("sxxb")} - ${u("sxb")} * ${u("sxb")} / $nb) / ($nb - 1))"
    val se2 = s"($va / $na + $vb / $nb)"
    val tStat = s"(($ma - $mb) / sqrt($se2))"
    val df = s"(($se2 * $se2) / (($va/$na)*($va/$na)/($na-1) + ($vb/$nb)*($vb/$nb)/($nb-1)))"
    val degen = s"(n_a < 2 OR n_b < 2 OR $se2 <= 0.0)"
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'purchase' THEN $micros ELSE 0 END) AS x
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT
       |    COALESCE(SUM(CASE WHEN $coin < 0.5 THEN 1 ELSE 0 END), 0) AS n_a,
       |    COALESCE(SUM(CASE WHEN $coin < 0.5 THEN 0 ELSE 1 END), 0) AS n_b,
       |    SUM(CASE WHEN $coin < 0.5 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxa,
       |    SUM(CASE WHEN $coin < 0.5 THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxb,
       |    SUM(CASE WHEN $coin < 0.5 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxa,
       |    SUM(CASE WHEN $coin < 0.5 THEN 0 ELSE CAST(x AS HUGEINT) * x END) AS sxxb
       |  FROM pu)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CASE WHEN n_a < 1 THEN NULL ELSE ${Exact.sqlDround(ma, 6)} END AS mean_a,
       |  CASE WHEN n_b < 1 THEN NULL ELSE ${Exact.sqlDround(mb, 6)} END AS mean_b,
       |  CASE WHEN $degen THEN NULL ELSE ${Exact.sqlDround(tStat, 6)} END AS t_stat,
       |  CASE WHEN $degen THEN NULL ELSE ${Exact.sqlDround(df, 3)} END AS welch_df
       |FROM m""".stripMargin
  }

  /** corr3: Spearman rank correlation between the two daily business
    * series — per-day event value total vs per-day order revenue
    * (inner-joined on calendar day). Ties use standard AVERAGE ranks,
    * kept exact by the doubling trick (exp4's): 2·avgrank over a tie
    * group spanning ranks [lo, lo+t−1] is lo + (lo+t−1) = 2·rank() +
    * count(*)−1 — an INTEGER. Spearman = Pearson over the doubled ranks
    * (rank correlation is affine-invariant), from exact integer power
    * sums with stat2's fixed IEEE tail (convert, multiply, sqrt,
    * divide — bit-identical across engines). Degenerate series (either
    * variable constant) report NULL.
    * Shape at 100 TB: two independent one-scan per-day aggregates
    * (events, orders), joined on the calendar-bounded day key; the rank
    * windows order the ≤days-row joined frame (the ts8 discipline —
    * bounded by calendar days, not corpus bytes).
    */
  def spearmanDaily(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    val ev = t(s, dir, "events")
      .select(day(col("ts")).as("day"), Exact.micros(col("value")).as("vm"))
      .filter(col("day").isNotNull)
      .groupBy(col("day")).agg(sum(col("vm").cast(Exact.D380)).as("xv"))
      .filter(col("xv").isNotNull)
    val or = t(s, dir, "orders")
      .select(day(col("o_orderdate")).as("day"), Exact.micros(col("o_totalprice")).as("pm"))
      .filter(col("day").isNotNull)
      .groupBy(col("day")).agg(sum(col("pm").cast(Exact.D380)).as("yv"))
      .filter(col("yv").isNotNull)
    spearmanOf(ev.join(or, "day"))
  }

  /** Shared Spearman tail over a (day, xv, yv) daily frame — doubled
    * average ranks (exact integers via exp4's trick), Pearson over the
    * doubled ranks from exact integer power sums, stat2's fixed IEEE
    * tail. Used by [[spearmanDaily]] (cross-table fixture variant) and
    * [[spearmanOrders]] (the registry siting).
    */
  private def spearmanOf(joined: DataFrame): DataFrame = {
    def r2(v: String) = // doubled average rank: 2*rank + (tiecount - 1)
      rank().over(Window.orderBy(col(v))) * 2 +
        count(lit(1)).over(Window.partitionBy(col(v))) - 1
    val ranked = joined
      .select(col("day"), r2("xv").cast(LongType).as("rx"), r2("yv").cast(LongType).as("ry"))
    ranked.agg(
      count(lit(1)).as("n_days"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx") * col("ry")).as("sxy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"))
      .select(col("n_days"), {
        val nd = col("n_days").cast(DoubleType)
        def d(c: String) = col(c).cast(DoubleType)
        val d1 = nd * d("sxx") - d("sx") * d("sx")
        val d2 = nd * d("syy") - d("sy") * d("sy")
        when(col("n_days") < 2 || d1 === 0.0 || d2 === 0.0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            (nd * d("sxy") - d("sx") * d("sy")) / (sqrt(d1) * sqrt(d2)), 9))
          .as("spearman_rho")
      })
  }

  /** corr3 registry siting (r19, the corr4 discipline): the
    * events×orders day join is EMPTY on the testdata calendars
    * (2025-era event timestamps vs 1992–1998 order dates), so the
    * registry row was a degenerate n=0 / NULL-ρ match — both engines
    * agreeing on nothing. Re-sited on series that overlap BY
    * CONSTRUCTION: Spearman ρ between daily ORDER COUNT and daily
    * ORDER REVENUE across the full orders calendar (~2.4k days; the
    * integer counts carry heavy ties, so the doubled-average-rank leg
    * is exercised for real). [[spearmanDaily]] stays as the cross-table
    * variant the hand fixtures anchor; both ride [[spearmanOf]].
    */
  def spearmanOrders(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    spearmanOf(t(s, dir, "orders")
      .filter(col("o_orderdate").isNotNull)
      .select(day(col("o_orderdate")).as("day"), Exact.micros(col("o_totalprice")).as("pm"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("xv"), sum(col("pm").cast(Exact.D380)).as("yv")))
  }

  val spearmanOrdersSql: String =
    s"""WITH j AS (
       |  SELECT ${sqlDayOf("epoch_us(CAST(o_orderdate AS TIMESTAMP))")} AS day,
       |    COUNT(*) AS xv,
       |    SUM(CAST(${Exact.sqlMicros("o_totalprice")} AS HUGEINT)) AS yv
       |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
       |ranked AS (
       |  SELECT day,
       |    CAST(2 * rank() OVER (ORDER BY xv) + COUNT(*) OVER (PARTITION BY xv) - 1 AS BIGINT) AS rx,
       |    CAST(2 * rank() OVER (ORDER BY yv) + COUNT(*) OVER (PARTITION BY yv) - 1 AS BIGINT) AS ry
       |  FROM j),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
       |    CAST(SUM(rx * ry) AS BIGINT) AS sxy,
       |    CAST(SUM(rx * rx) AS BIGINT) AS sxx,
       |    CAST(SUM(ry * ry) AS BIGINT) AS syy
       |  FROM ranked)
       |SELECT n_days,
       |  CASE WHEN n_days < 2
       |         OR CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
       |         OR CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
       |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0
       |    THEN NULL ELSE ${Exact.sqlDround(
           """(CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |       / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
       |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |          * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
       |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin, 9)}
       |  END AS spearman_rho
       |FROM agg""".stripMargin

  /** cal3: expected / maximum calibration error of the quality
    * classifier — the single-number summary the cal1 reliability
    * diagram and cal2's Brier split feed (Naeini et al. 2015): ECE =
    * Σ_b (n_b/N)·|acc_b − conf_b|, MCE = max_b |acc_b − conf_b|, over
    * the same fixed bin grid and piecewise-linear forecast map as cal2.
    * The per-bin gap |n_pos·1e6 − Σp_micros| is an exact integer, so
    * ECE is ONE double division at the very end (Σ|gap| / (N·1e6)) —
    * no cross-engine drift to round away; MCE divides each bin's exact
    * gap once. Shape at 100 TB: one margin scan, one 16-bin aggregate,
    * one 16-row reduce.
    */
  def calibrationError(s: SparkSession, dir: String): DataFrame = {
    val span = calBins * calBinWidth
    val m = TextAnalysis.qualityMargin(s, dir)
      .select(col("doc_id"), col("quality_margin"))
    val l = TextAnalysis.docQualityFilter(s, dir).select(col("doc_id"), col("keep"))
    val p = least(greatest((col("quality_margin") - calBinLo) / span, lit(0.0)), lit(1.0))
    val perBin = m.join(l, "doc_id")
      .withColumn("p", p)
      .withColumn("bin",
        least(greatest(floor((col("quality_margin") - calBinLo) / calBinWidth), lit(0.0)),
          lit(calBins - 1.0)).cast(IntegerType))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(Exact.micros(col("p")).cast(Exact.D380)).as("pm"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"))
    // exact per-bin gap in micros: |n_pos * 1e6 - Σ p_micros|
    val gap = abs(col("n_pos").cast(Exact.D380) * lit(1000000L) - col("pm"))
    perBin
      .select(col("n"), gap.as("gap"),
        (Exact.toUnits(gap) / col("n").cast(DoubleType)).as("bin_gap"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n")).as("n_docs"),
        sum(col("gap")).as("gap_sum"), max(col("bin_gap")).as("mce_raw"))
      .select(col("n_bins"), col("n_docs").cast(LongType).as("n_docs"),
        Exact.dround(Exact.toUnits(col("gap_sum")) / col("n_docs").cast(DoubleType), 9).as("ece"),
        Exact.dround(col("mce_raw"), 9).as("mce"))
  }

  val calibrationErrorSql: String = {
    val span = calBins * calBinWidth
    val pExpr = s"LEAST(GREATEST((quality_margin - $calBinLo) / $span, 0.0), 1.0)"
    s"""WITH m AS (${TextAnalysis.qualityMarginSql}),
       |l AS (SELECT doc_id, keep FROM (${TextAnalysis.docQualityFilterSql}) q),
       |j AS (
       |  SELECT m.doc_id, keep, $pExpr AS p,
       |    CAST(LEAST(GREATEST(FLOOR((quality_margin - $calBinLo) / $calBinWidth), 0.0),
       |      ${calBins - 1}.0) AS INTEGER) AS bin
       |  FROM m JOIN l ON m.doc_id = l.doc_id),
       |b AS (
       |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(${Exact.sqlMicros("p")} AS HUGEINT)) AS pm,
       |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM j GROUP BY bin),
       |g AS (
       |  SELECT n, ABS(CAST(n_pos AS HUGEINT) * 1000000 - pm) AS gap,
       |    (${Exact.sqlToUnits("ABS(CAST(n_pos AS HUGEINT) * 1000000 - pm)")}
       |      / CAST(n AS DOUBLE)) AS bin_gap
       |  FROM b)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins, CAST(SUM(n) AS BIGINT) AS n_docs,
       |  ${Exact.sqlDround(s"(${Exact.sqlToUnits("SUM(gap)")} / CAST(SUM(n) AS DOUBLE))", 9)} AS ece,
       |  ${Exact.sqlDround("MAX(bin_gap)", 9)} AS mce
       |FROM g""".stripMargin
  }

  /** fd3: inclusion-dependency profiling across the warehouse's FK
    * graph — the data-profiling twin of fd2's candidate keys (Metanome-
    * style IND discovery, restricted to the declared candidate edges):
    * per (child column → parent column) pair, non-null child rows,
    * distinct child values, distinct ORPHAN values (absent from the
    * parent), and the containment ratio. events.user_id → customer is
    * deliberately in the list as the violation-shaped candidate.
    * Shape at 100 TB: each pair is a column-pruned scan + a distinct
    * shuffle + a LEFT ANTI join on the value (broadcast when the parent
    * key side is small, SMJ otherwise) — never a row-level join of the
    * fact tables.
    */
  private val inclusionPairs = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"))

  def inclusionDeps(s: SparkSession, dir: String): DataFrame = {
    val perPair = inclusionPairs.map { case (ct, cc, pt, pc) =>
      // ONE scan of the child per pair (r21): the old shape scanned the
      // child twice (row/type counts + the anti-join orphan count) and
      // crossJoined two 1-row aggregates — 22 scans / 38 exchanges for
      // ~7 pairs, almost all per-stage overhead. Grouping the child by
      // value first carries the row count alongside the type row, and
      // the left join marks orphans in the same pass: child_rows =
      // Σcnt (count(cc) ignores NULLs, matching the NULL filter),
      // child_types = type rows, orphan_types = unmatched type rows.
      val byVal = t(s, dir, ct).select(col(cc).as("v")).filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      byVal
        .join(t(s, dir, pt).select(col(pc).as("pv")).distinct(),
          col("v") === col("pv"), "left")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("child_rows"),
          count(lit(1)).as("child_types"),
          coalesce(sum(when(col("pv").isNull, 1L).otherwise(0L)), lit(0L)).as("orphan_types"))
        .select(lit(s"$ct.$cc -> $pt.$pc").as("dep"),
          col("child_rows").cast(LongType).as("child_rows"),
          col("child_types").cast(LongType).as("child_types"),
          col("orphan_types").cast(LongType).as("orphan_types"))
    }
    perPair.reduce(_.union(_))
      .select(col("dep"), col("child_rows"), col("child_types"), col("orphan_types"),
        (col("orphan_types") === 0L).as("contained"),
        // no child values: 0/0 is NULL, as in the oracle (ANSI would throw)
        Exact.dround(lit(1.0) - col("orphan_types").cast(DoubleType)
          / when(col("child_types") =!= 0L, col("child_types").cast(DoubleType)), 9)
          .as("containment_ratio"))
      .orderedSmall(col("dep"))
  }

  val inclusionDepsSql: String = {
    val pairSelects = inclusionPairs.map { case (ct, cc, pt, pc) =>
      s"""  SELECT '$ct.$cc -> $pt.$pc' AS dep,
         |    (SELECT CAST(COUNT($cc) AS BIGINT) FROM $ct) AS child_rows,
         |    (SELECT CAST(COUNT(DISTINCT $cc) AS BIGINT) FROM $ct) AS child_types,
         |    (SELECT CAST(COUNT(*) AS BIGINT)
         |     FROM (SELECT DISTINCT $cc AS v FROM $ct WHERE $cc IS NOT NULL) d
         |     WHERE NOT EXISTS (SELECT 1 FROM $pt WHERE $pc = d.v)) AS orphan_types""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH pairs AS (
       |$pairSelects)
       |SELECT dep, child_rows, child_types, orphan_types,
       |  orphan_types = 0 AS contained,
       |  ${Exact.sqlDround("(1.0 - CAST(orphan_types AS DOUBLE) / CAST(child_types AS DOUBLE))", 9)}
       |    AS containment_ratio
       |FROM pairs ORDER BY dep""".stripMargin
  }

  /** ev25: stationary distribution of the event-type Markov chain —
    * where user behavior settles long-run (the steady-state companion
    * of ev10's one-step transition matrix). Power iteration, made
    * engine-exact: transition probabilities are integer micros via
    * integer rounding ((n·1e6 + tot/2) div tot), the state vector stays
    * integer micros, and each of the 12 fixed iterations is
    * v'(t) = (Σ_f v(f)·p(f,t) + 5e5) div 1e6 — INTEGER arithmetic end
    * to end, so Spark and the oracle agree bit-for-bit with no libm and
    * no FP addition-order anywhere. States are the event types with
    * outgoing transitions; the reported distribution is the final
    * vector normalized once (one double division, 9-dp rounded).
    * Shape at 100 TB: ONE events scan into a (user-partitioned lead +
    * k²-bounded pair aggregate); the k×k matrix is bounded driver
    * state (the ts8/BPE discipline) and the iteration is k²·12 driver
    * multiplies.
    */
  def markovStationary(s: SparkSession, dir: String, iters: Int = 12): DataFrame = {
    import scala.jdk.CollectionConverters._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c2 = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      // a NULL event_type would NPE the driver's sorted state list (and
      // is no Markov state anyway) — dropped identically on both sides
      .filter(col("event_type").isNotNull && col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect() // k² rows, k = |event types| — bounded driver state
    val counts = c2.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val tot = counts.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val states = tot.keys.toSeq.sorted
    val outSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("n_out", LongType),
      StructField("stationary_micro", LongType), StructField("stationary", DoubleType)))
    if (states.isEmpty)
      return s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val pMicro = counts.map { case ((f, tto), n) =>
      (f, tto) -> ((BigInt(n) * 1000000 + tot(f) / 2) / tot(f)).toLong
    }
    var v = states.map(_ => 1000000L / states.size)
    (1 to iters).foreach { _ =>
      val cur = states.zip(v).toMap
      v = states.map { tt =>
        val sum = states.map(f => cur(f) * pMicro.getOrElse((f, tt), 0L)).sum
        (sum + 500000L) / 1000000L
      }
    }
    val mass = v.sum.toDouble
    def rnd9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    // zero mass (every state's inflow rounded away — a chain whose
    // successors all leave the state space) normalizes to NULL, not
    // NaN, matching the oracle's CASE guard
    val rows = states.zip(v).map { case (st, m) =>
      org.apache.spark.sql.Row(st, tot(st), m,
        if (mass > 0) rnd9(m / mass) else null)
    }
    s.createDataFrame(rows.asJava, outSchema)
  }

  def markovStationarySql(iters: Int = 12): String = {
    val chain = (1 to iters).map { i =>
      s"""v$i AS (
         |  SELECT p.to_type AS t, (SUM(v${i - 1}.m * p.p_micro) + 500000) // 1000000 AS m
         |  FROM v${i - 1} JOIN p ON v${i - 1}.t = p.from_type
         |  WHERE p.to_type IN (SELECT from_type FROM tt)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |c2 AS (SELECT from_type, to_type, COUNT(*) AS n FROM pr
       |       WHERE from_type IS NOT NULL AND to_type IS NOT NULL GROUP BY 1, 2),
       |tt AS (SELECT from_type, SUM(n) AS tot FROM c2 GROUP BY 1),
       |p AS (SELECT c2.from_type, c2.to_type,
       |        (CAST(n AS HUGEINT) * 1000000 + tot // 2) // tot AS p_micro
       |      FROM c2 JOIN tt ON c2.from_type = tt.from_type),
       |v0 AS (SELECT from_type AS t,
       |         1000000 // (SELECT COUNT(*) FROM tt) AS m FROM tt),
       |$chain,
       |ms AS (SELECT SUM(m) AS mass FROM v$iters)
       |SELECT tt.from_type AS event_type, CAST(tot AS BIGINT) AS n_out,
       |  CAST(COALESCE(v$iters.m, 0) AS BIGINT) AS stationary_micro,
       |  CASE WHEN mass > 0 THEN ${Exact.sqlDround(
            s"(CAST(COALESCE(v$iters.m, 0) AS DOUBLE) / CAST(mass AS DOUBLE))", 9)}
       |    ELSE NULL END AS stationary
       |FROM tt LEFT JOIN v$iters ON tt.from_type = v$iters.t CROSS JOIN ms
       |ORDER BY event_type""".stripMargin
  }

  // === priv3: t-closeness audit ============================================
  val tCloseThreshold = 0.2 // the classic Li et al. 2007 working value

  /** The third leg of the release-governance battery: k-anonymity
    * (priv1) bounds group size, l-diversity (priv2) bounds distinct
    * sensitive values, t-closeness bounds how much a QI group's
    * sensitive DISTRIBUTION deviates from the table-wide one — an
    * l-diverse group whose priorities skew 90/10 against a 50/50 global
    * still leaks. Same QI tuple as priv2 (customer nation, market
    * segment, order year); sensitive attribute = o_orderpriority, whose
    * '1-URGENT'..'5-LOW' encoding makes lexicographic order the semantic
    * order, so the ordered-attribute EMD applies: for m ordered values,
    * EMD(p, q) = (Σ_i |Σ_{j<=i}(p_j − q_j)|) / (m − 1).
    * Exactness: p and q are single IEEE divisions of exact counts, the
    * cumulative diff is a window sum in the SAME fixed order on both
    * engines, and the per-group |cum| total rides Exact.dsum (micros-
    * rounded terms, order-independent), so the threshold compare can
    * never disagree across engines. Output: one governance row —
    * dataset t (max group EMD), groups/rows above t=0.2, risk share.
    * Shape at 100 TB: orders→customer is the one real shuffle; the
    * grid is QI-domain × m, attribute-domain-bounded.
    */
  def tClosenessAudit(s: SparkSession, dir: String): DataFrame = {
    // the (QI, prio) count table is attribute-domain-bounded (~900 × m
    // rows) and feeds THREE consumers (group list, sensitive marginals,
    // the zero-fill join) — eager localCheckpoint pays the orders scan
    // ONCE instead of per consumer (the ts1/lm3 pattern; the round-11
    // star-shape lesson)
    val cnt = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val wAll = Window.partitionBy()
    val wGrp = Window.partitionBy(col("n_name"), col("c_mktsegment"), col("order_year"))
    // zero-fill grid: every QI group × every sensitive value (a missing
    // cell is a REAL 0-vs-global divergence the EMD must see)
    val groups = cnt.select(col("n_name"), col("c_mktsegment"), col("order_year")).distinct()
    val prios = cnt.groupBy(col("prio")).agg(sum(col("c")).as("gc"))
      .withColumn("n_total", sum(col("gc")).over(wAll))
      .withColumn("m", count(lit(1)).over(wAll))
    val grid = groups.crossJoin(broadcast(prios))
      .join(cnt, Seq("n_name", "c_mktsegment", "order_year", "prio"), "left")
      .select(col("n_name"), col("c_mktsegment"), col("order_year"), col("prio"),
        col("gc"), col("n_total"), col("m"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("g_n", sum(col("c")).over(wGrp))
    val diff = col("c").cast(DoubleType) / col("g_n").cast(DoubleType) -
      col("gc").cast(DoubleType) / col("n_total").cast(DoubleType)
    val cum = sum(diff).over(wGrp.orderBy(col("prio"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val perGroup = grid
      .withColumn("cum_abs", abs(cum))
      .groupBy(col("n_name"), col("c_mktsegment"), col("order_year"))
      .agg(max(col("g_n")).as("g_n"), max(col("m")).as("m"),
        Exact.dsum(col("cum_abs")).as("emd_raw"))
      // m = 1 would divide 0 by 0: one sensitive value means every
      // group's distribution IS the global one — EMD is exactly 0
      .select(col("g_n"), when(col("m") === 1, lit(0.0))
        .otherwise(col("emd_raw") / (col("m") - 1).cast(DoubleType)).as("emd"))
    perGroup.agg(
      count(lit(1)).as("n_groups"),
      sum(col("g_n")).cast(LongType).as("n_rows"),
      max(col("emd")).as("t_closeness"),
      sum(when(col("emd") > tCloseThreshold, 1L).otherwise(0L)).as("groups_above_t"),
      sum(when(col("emd") > tCloseThreshold, col("g_n")).otherwise(0L))
        .cast(LongType).as("rows_above_t"))
      .select(col("n_groups"), col("n_rows"), col("t_closeness"),
        col("groups_above_t"), col("rows_above_t"),
        (col("rows_above_t").cast(DoubleType) / col("n_rows").cast(DoubleType))
          .as("leak_risk_share"))
  }

  val tClosenessAuditSql: String =
    s"""WITH cnt AS (
       |  SELECT n_name, c_mktsegment,
       |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       |    o_orderpriority AS prio, COUNT(*) AS c
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2, 3, 4),
       |prios AS (
       |  SELECT prio, SUM(c) AS gc, SUM(SUM(c)) OVER () AS n_total,
       |    COUNT(*) OVER () AS m
       |  FROM cnt GROUP BY prio),
       |grid AS (
       |  SELECT g.n_name, g.c_mktsegment, g.order_year, p.prio, p.gc,
       |    p.n_total, p.m, COALESCE(cnt.c, 0) AS c
       |  FROM (SELECT DISTINCT n_name, c_mktsegment, order_year FROM cnt) g
       |  CROSS JOIN prios p
       |  LEFT JOIN cnt ON cnt.n_name = g.n_name
       |    AND cnt.c_mktsegment = g.c_mktsegment
       |    AND cnt.order_year = g.order_year AND cnt.prio = p.prio),
       |gt AS (
       |  SELECT *, SUM(c) OVER (PARTITION BY n_name, c_mktsegment, order_year) AS g_n
       |  FROM grid),
       |cm AS (
       |  SELECT *, ABS(SUM(CAST(c AS DOUBLE) / CAST(g_n AS DOUBLE)
       |      - CAST(gc AS DOUBLE) / CAST(n_total AS DOUBLE))
       |    OVER (PARTITION BY n_name, c_mktsegment, order_year ORDER BY prio
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cum_abs
       |  FROM gt),
       |pg AS (
       |  SELECT MAX(g_n) AS g_n,
       |    CASE WHEN MAX(m) = 1 THEN 0.0
       |         ELSE ${Exact.sqlDsum("cum_abs")} / CAST(MAX(m) - 1 AS DOUBLE)
       |    END AS emd
       |  FROM cm GROUP BY n_name, c_mktsegment, order_year)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(SUM(g_n) AS BIGINT) AS n_rows,
       |  MAX(emd) AS t_closeness,
       |  CAST(SUM(CASE WHEN emd > $tCloseThreshold THEN 1 ELSE 0 END) AS BIGINT)
       |    AS groups_above_t,
       |  CAST(SUM(CASE WHEN emd > $tCloseThreshold THEN g_n ELSE 0 END) AS BIGINT)
       |    AS rows_above_t,
       |  CAST(SUM(CASE WHEN emd > $tCloseThreshold THEN g_n ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(g_n) AS DOUBLE) AS leak_risk_share
       |FROM pg""".stripMargin

  // === corr4: Kendall tau-b between the daily business series =============
  /** corr4: Kendall's τ_b between daily event value and daily order
    * revenue — the concordance-based third leg of the correlation trio
    * (stat2 Pearson on exact moments, corr3 Spearman on ranks, corr4 on
    * pair concordance; τ is the robust choice when the series have
    * heavy ties or outliers): S = Σ_{i<j} sgn(x_i−x_j)·sgn(y_i−y_j),
    * τ_b = S / √((n₀−n₁)(n₀−n₂)) with n₀ = n(n−1)/2 and n₁/n₂ the tie
    * pair counts. S and the tie counts are exact integers over the
    * SAME bounded daily frame ts9/corr3 use (collected at construction
    * — the LocalRelation tier, so the pair join never touches a
    * corpus-scale table); the τ value is one sqrt + one division.
    */
  /** Shared τ_b core over a (m, day, xv, yv) frame — ONE definition of
    * the concordance sum, doubled tie-pair counts, and the dround-9 τ
    * formula (r19 review: an inlined copy in the monthly variant could
    * silently desync from the daily one and break oracle parity, the
    * Exact.scala warning class). Per group m: S via the day-ordered
    * pair join, n₀/n₁/n₂ kept DOUBLED (n(n−1), tt(tt−1)) so every
    * value is an exact integer without a /2 — the √ divides the
    * product by 2·2. A 1-day group has no pairs: S is 0, τ is NULL.
    * [[kendallDaily]] runs it with a constant group;
    * [[kendallMonthly]] groups by calendar month.
    */
  private def kendallOf(base: DataFrame): DataFrame = {
    def sgn(a: Column, b: Column) =
      when(b > a, lit(1L)).when(b < a, lit(-1L)).otherwise(lit(0L))
    val sStat = base.as("a").join(base.as("b"),
        col("a.m") === col("b.m") && col("a.day") < col("b.day"))
      .groupBy(col("a.m").as("m"))
      .agg(sum(sgn(col("a.xv"), col("b.xv")) * sgn(col("a.yv"), col("b.yv"))).as("s_stat"))
    def tiePairs(v: String, out: String) = base.groupBy(col("m"), col(v))
      .agg(count(lit(1)).as("tt"))
      .groupBy(col("m"))
      .agg(coalesce(sum(col("tt") * (col("tt") - 1)), lit(0L)).as(out))
    val n = col("n_days")
    base.groupBy(col("m")).agg(count(lit(1)).as("n_days"))
      .join(sStat, Seq("m"), "left")
      .join(tiePairs("xv", "tx2"), Seq("m"))
      .join(tiePairs("yv", "ty2"), Seq("m"))
      .withColumn("s_stat", coalesce(col("s_stat"), lit(0L)))
      .withColumn("d1", n * (n - 1) - col("tx2"))
      .withColumn("d2", n * (n - 1) - col("ty2"))
      .select(col("m"), col("n_days"), col("s_stat"),
        (col("tx2") / 2).cast(LongType).as("tie_pairs_x"),
        (col("ty2") / 2).cast(LongType).as("tie_pairs_y"),
        when(col("d1") <= 0 || col("d2") <= 0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            col("s_stat").cast(DoubleType) * 2.0 /
              sqrt(col("d1").cast(DoubleType) * col("d2").cast(DoubleType)), 9))
          .as("kendall_tau"))
  }

  def kendallDaily(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    val ev = t(s, dir, "events")
      .select(day(col("ts")).as("day"), Exact.micros(col("value")).as("vm"))
      .filter(col("day").isNotNull)
      .groupBy(col("day")).agg(sum(col("vm").cast(Exact.D380)).as("xv"))
      .filter(col("xv").isNotNull)
    val or = t(s, dir, "orders")
      .select(day(col("o_orderdate")).as("day"), Exact.micros(col("o_totalprice")).as("pm"))
      .filter(col("day").isNotNull)
      .groupBy(col("day")).agg(sum(col("pm").cast(Exact.D380)).as("yv"))
      .filter(col("yv").isNotNull)
    val daily = ev.join(or, "day").collect()
    val outSchema = StructType(Seq(
      StructField("n_days", LongType), StructField("s_stat", LongType),
      StructField("tie_pairs_x", LongType), StructField("tie_pairs_y", LongType),
      StructField("kendall_tau", DoubleType)))
    if (daily.length < 2)
      return s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val baseSchema = StructType(Seq(StructField("m", LongType), StructField("day", LongType),
      StructField("xv", Exact.D380), StructField("yv", Exact.D380)))
    val base = s.createDataFrame(
      daily.map(r => org.apache.spark.sql.Row(0L, r.getLong(0), r.getDecimal(1), r.getDecimal(2)))
        .toSeq.asJava, baseSchema)
    kendallOf(base).drop("m")
  }

  /** corr4 registry siting (VERDICT r18 #2): [[kendallDaily]]'s
    * events×orders day join is EMPTY on the testdata calendars
    * (2025-era event timestamps vs 1992–1998 order dates), so its
    * oracle row was a vacuous 0-row match — both engines agreed on
    * nothing. The registry query re-sites τ_b on series that overlap
    * BY CONSTRUCTION: per calendar month, daily ORDER COUNT vs daily
    * ORDER REVENUE (both from orders; integer counts carry heavy ties,
    * so the tie-pair legs of τ_b are exercised for real, and the
    * ~84-month output gives the oracle a non-trivial frame). Same math
    * and same bounded-daily-frame tier as [[kendallDaily]] (collected
    * at construction; the pair join reads the LocalRelation, ≤31 days
    * per month ⇒ ≤465 pairs per group). [[kendallDaily]] stays as the
    * cross-table variant the hand fixtures anchor.
    */
  def kendallMonthly(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    val mi = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).cast(LongType)
    val daily = t(s, dir, "orders")
      .filter(col("o_orderdate").isNotNull)
      .select(mi.as("m"), day(col("o_orderdate")).as("day"),
        Exact.micros(col("o_totalprice")).as("pm"))
      .groupBy(col("m"), col("day"))
      .agg(count(lit(1)).as("xv"), sum(col("pm").cast(Exact.D380)).as("yv"))
      .collect()
    val outSchema = StructType(Seq(
      StructField("month_idx", LongType), StructField("n_days", LongType),
      StructField("s_stat", LongType),
      StructField("tie_pairs_x", LongType), StructField("tie_pairs_y", LongType),
      StructField("kendall_tau", DoubleType)))
    if (daily.isEmpty)
      return s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val baseSchema = StructType(Seq(StructField("m", LongType), StructField("day", LongType),
      StructField("xv", LongType), StructField("yv", Exact.D380)))
    val base = s.createDataFrame(
      daily.map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
        .toSeq.asJava, baseSchema)
    kendallOf(base)
      .withColumnRenamed("m", "month_idx")
      .orderedSmall(col("month_idx"))
  }

  val kendallMonthlySql: String =
    s"""WITH d AS (
       |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
       |              + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS m,
       |    ${sqlDayOf("epoch_us(CAST(o_orderdate AS TIMESTAMP))")} AS day,
       |    COUNT(*) AS xv,
       |    SUM(CAST(${Exact.sqlMicros("o_totalprice")} AS HUGEINT)) AS yv
       |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
       |sp AS (
       |  SELECT a.m AS m, SUM(
       |    (CASE WHEN b.xv > a.xv THEN 1 WHEN b.xv < a.xv THEN -1 ELSE 0 END)
       |    * (CASE WHEN b.yv > a.yv THEN 1 WHEN b.yv < a.yv THEN -1 ELSE 0 END)) AS s_stat
       |  FROM d a JOIN d b ON a.m = b.m AND a.day < b.day GROUP BY 1),
       |tx AS (SELECT m, SUM(tt*(tt-1)) AS tx2
       |       FROM (SELECT m, xv, COUNT(*) AS tt FROM d GROUP BY 1, 2) GROUP BY m),
       |ty AS (SELECT m, SUM(tt*(tt-1)) AS ty2
       |       FROM (SELECT m, yv, COUNT(*) AS tt FROM d GROUP BY 1, 2) GROUP BY m),
       |nn AS (SELECT m, COUNT(*) AS n FROM d GROUP BY m),
       |v AS (SELECT nn.m AS m, n, COALESCE(s_stat, 0) AS s_stat, tx2, ty2,
       |        n*(n-1) - tx2 AS d1, n*(n-1) - ty2 AS d2
       |      FROM nn LEFT JOIN sp ON sp.m = nn.m
       |        JOIN tx ON tx.m = nn.m JOIN ty ON ty.m = nn.m)
       |SELECT CAST(m AS BIGINT) AS month_idx, CAST(n AS BIGINT) AS n_days,
       |  CAST(s_stat AS BIGINT) AS s_stat,
       |  CAST(tx2 / 2 AS BIGINT) AS tie_pairs_x, CAST(ty2 / 2 AS BIGINT) AS tie_pairs_y,
       |  CASE WHEN d1 <= 0 OR d2 <= 0 THEN NULL
       |       ELSE ${Exact.sqlDround(
             "CAST(s_stat AS DOUBLE) * 2.0 / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))", 9)}
       |  END AS kendall_tau
       |FROM v ORDER BY month_idx""".stripMargin

  // === drift2: month-over-month PSI of the order-value distribution =======
  /** drift2: Population Stability Index of the order-value distribution,
    * month over month — the industry drift gate (PSI > 0.2 ⇒ retrain /
    * investigate) complementing drift1's vocabulary KL and ks1's rank
    * test: PSI_m = Σ_b (p_b − q_b)·ln(p_b/q_b) over 10 fixed-width
    * value buckets, q = the PREVIOUS calendar month, add-one smoothed
    * (zero buckets stay finite). Only adjacent calendar months compare
    * (a gap month breaks the chain rather than silently comparing
    * across it). p/q are IEEE divisions of exact counts; each term is
    * micros-rounded into Exact.dsum, absorbing last-ulp libm ln skew.
    * Shape at 100 TB: ONE orders scan → (month, bucket) counts
    * (map-side combinable, calendar × 10 keys) → zero-fill grid →
    * adjacent-month self-join of the BOUNDED grid.
    */
  def psiMonthly(s: SparkSession, dir: String): DataFrame = {
    val bucket = least(floor(col("o_totalprice") / 60000.0), lit(9.0)).cast(LongType)
    val mi = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
      .cast(LongType)
    // the (month, bucket) count table is calendar-bounded and feeds the
    // month list, the zero-fill join, and both sides of the adjacent-
    // month self-join — eager localCheckpoint pays the orders scan ONCE
    // (the ts1/lm3/priv3 pattern)
    val cnt = t(s, dir, "orders")
      .filter(col("o_orderdate").isNotNull)
      .groupBy(mi.as("mi"), bucket.as("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val months = cnt.select(col("mi")).distinct()
    val grid = months
      .select(col("mi"), explode(sequence(lit(0L), lit(9L))).as("b"))
      .join(cnt, Seq("mi", "b"), "left")
      .select(col("mi"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("mn", sum(col("c")).over(Window.partitionBy(col("mi"))))
    val cur = grid.select(col("mi"), col("b"), col("c"), col("mn"))
    val prev = grid.select((col("mi") + 1).as("mi"), col("b"),
      col("c").as("qc"), col("mn").as("qn"))
    val p = (col("c") + 1).cast(DoubleType) / (col("mn") + 10).cast(DoubleType)
    val q = (col("qc") + 1).cast(DoubleType) / (col("qn") + 10).cast(DoubleType)
    cur.join(prev, Seq("mi", "b"))
      .select(col("mi"), col("mn"), ((p - q) * log(p / q)).as("term"))
      .groupBy(col("mi"))
      .agg(max(col("mn")).cast(LongType).as("n_orders"),
        Exact.dsum(col("term")).as("psi"))
      .select(col("mi").as("month_index"), col("n_orders"), col("psi"),
        (col("psi") > 0.2).as("drift_alert"))
      .orderedSmall(col("month_index"))
  }

  val psiMonthlySql: String =
    s"""WITH cnt AS (
       |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
       |              + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS mi,
       |    CAST(LEAST(FLOOR(o_totalprice / 60000.0), 9.0) AS BIGINT) AS b,
       |    COUNT(*) AS c
       |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
       |grid AS (
       |  SELECT m.mi, gb.b, COALESCE(cnt.c, 0) AS c
       |  FROM (SELECT DISTINCT mi FROM cnt) m
       |  CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS b) gb
       |  LEFT JOIN cnt ON cnt.mi = m.mi AND cnt.b = gb.b),
       |gt AS (SELECT *, SUM(c) OVER (PARTITION BY mi) AS mn FROM grid),
       |j AS (
       |  SELECT cur.mi, cur.mn,
       |    (CAST(cur.c + 1 AS DOUBLE) / CAST(cur.mn + 10 AS DOUBLE)
       |     - CAST(prv.c + 1 AS DOUBLE) / CAST(prv.mn + 10 AS DOUBLE))
       |    * ln((CAST(cur.c + 1 AS DOUBLE) / CAST(cur.mn + 10 AS DOUBLE))
       |         / (CAST(prv.c + 1 AS DOUBLE) / CAST(prv.mn + 10 AS DOUBLE))) AS term
       |  FROM gt cur JOIN gt prv ON prv.mi = cur.mi - 1 AND prv.b = cur.b)
       |SELECT mi AS month_index, CAST(MAX(mn) AS BIGINT) AS n_orders,
       |  ${Exact.sqlDsum("term")} AS psi,
       |  ${Exact.sqlDsum("term")} > 0.2 AS drift_alert
       |FROM j GROUP BY mi ORDER BY month_index""".stripMargin

  // === ev26: per-user event-type entropy ===================================
  /** ev26: Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity feature (a 0-entropy user does one thing; a
    * log(k)-entropy user does everything equally) that feeds churn and
    * bot models alongside ev13's RFM. H = −Σ p·ln(p) with p = one IEEE
    * division of exact counts, terms micros-rounded into Exact.dsum.
    * Shape at 100 TB: ONE events scan → (user, type) counts (map-side
    * combinable) → per-user window totals — no join; per-user output,
    * the ev13 contract.
    */
  def typeEntropy(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val cnt = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      .withColumn("un", sum(col("c")).over(wUser))
    val p = col("c").cast(DoubleType) / col("un").cast(DoubleType)
    cnt
      .select(col("user_id"), col("un"), (-p * log(p)).as("term"))
      .groupBy(col("user_id"))
      .agg(max(col("un")).cast(LongType).as("n_events"),
        count(lit(1)).as("n_types"),
        Exact.dsum(col("term")).as("type_entropy"))
      .orderBy(col("user_id"))
  }

  val typeEntropySql: String =
    s"""WITH cnt AS (
       |  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
       |gt AS (SELECT *, SUM(c) OVER (PARTITION BY user_id) AS un FROM cnt),
       |terms AS (
       |  SELECT user_id, un,
       |    -(CAST(c AS DOUBLE) / CAST(un AS DOUBLE))
       |      * ln(CAST(c AS DOUBLE) / CAST(un AS DOUBLE)) AS term
       |  FROM gt)
       |SELECT user_id, CAST(MAX(un) AS BIGINT) AS n_events,
       |  CAST(COUNT(*) AS BIGINT) AS n_types,
       |  ${Exact.sqlDsum("term")} AS type_entropy
       |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin

  // === ev27: Kaplan–Meier time-to-first-purchase ===========================
  /** ev27: the Kaplan–Meier survival estimator over time-to-first-
    * purchase — the censoring-aware complement of ev22's conversion
    * hazard (a user who never purchases is CENSORED at the corpus
    * horizon, not dropped; dropping them biases conversion time low).
    * Per user: entry = first event day, event = first purchase day,
    * censor = the global max day. Per duration day i (events precede
    * same-day censors, the standard convention): risk set
    * n_i = N − Σ_{j<i}(d_j + c_j), survival S_k = Π_{i≤k}(1 − d_i/n_i).
    * Exactness: d/n are exact integers; the product is a chain of IEEE
    * multiplies in ascending-duration order — computed in the DRIVER
    * over the collected duration table (bounded by the corpus day span,
    * the ts9 LocalRelation tier) and mirrored in the oracle by a
    * recursive CTE multiplying in the SAME order, so both engines run
    * the identical IEEE sequence with no libm exp/ln (the qc1
    * discipline). Output: one row per EVENT day.
    */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    val perUser = t(s, dir, "events")
      .select(col("user_id"), day(col("ts")).as("day"), col("event_type"))
      .filter(col("day").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("t0"),
        min(when(col("event_type") === "purchase", col("day"))).as("tp"))
    // the censor horizon is the global max EVENT day — its own one-row
    // aggregate (a per-user max would single-task a corpus-wide window);
    // the second narrow scan reads one column (the corr3 2-scan budget)
    val durations = t(s, dir, "events")
      .select(day(col("ts")).as("d")).filter(col("d").isNotNull)
      .agg(max(col("d")).as("tmax"))
      .crossJoin(perUser)
      .select(
        when(col("tp").isNotNull, col("tp") - col("t0"))
          .otherwise(col("tmax") - col("t0")).as("dur"),
        col("tp").isNotNull.as("evented"))
      .groupBy(col("dur"))
      .agg(sum(when(col("evented"), 1L).otherwise(0L)).as("d"),
        sum(when(col("evented"), 0L).otherwise(1L)).as("c"))
      .orderBy(col("dur"))
      .collect()
    val outSchema = StructType(Seq(
      StructField("duration_day", LongType), StructField("n_risk", LongType),
      StructField("n_events", LongType), StructField("n_censored", LongType),
      StructField("survival", DoubleType)))
    val total = durations.map(r => r.getLong(1) + r.getLong(2)).sum
    var atRisk = total
    var surv = 1.0
    val rows = durations.flatMap { r =>
      val (dur, d, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val n = atRisk
      surv *= (1.0 - d.toDouble / n.toDouble) // same IEEE chain as the oracle's recursive CTE
      atRisk -= d + c
      if (d > 0)
        Some(org.apache.spark.sql.Row(dur, n, d, c,
          math.floor(surv * 1e9 + 0.5).toLong.toDouble / 1e9)) // dround(9), survival >= 0
      else None
    }
    s.createDataFrame(rows.toSeq.asJava, outSchema)
  }

  val kaplanMeierSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, event_type
       |  FROM events WHERE ts IS NOT NULL),
       |tm AS (SELECT MAX(day) AS tmax FROM ev),
       |u AS (
       |  SELECT user_id, MIN(day) AS t0,
       |    MIN(CASE WHEN event_type = 'purchase' THEN day END) AS tp
       |  FROM ev GROUP BY 1),
       |durs AS (
       |  SELECT CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE tmax - t0 END AS dur,
       |    (tp IS NOT NULL) AS evented
       |  FROM u CROSS JOIN tm),
       |g AS (
       |  SELECT dur, SUM(CASE WHEN evented THEN 1 ELSE 0 END) AS d,
       |    SUM(CASE WHEN evented THEN 0 ELSE 1 END) AS c
       |  FROM durs GROUP BY dur),
       |km AS (
       |  SELECT dur, d, c,
       |    SUM(d + c) OVER () -
       |      COALESCE(SUM(d + c) OVER (ORDER BY dur
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
       |    ROW_NUMBER() OVER (ORDER BY dur) AS rn
       |  FROM g),
       |surv AS (
       |  SELECT rn, dur, d, c, n,
       |    1.0 * (1 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS sv
       |  FROM km WHERE rn = 1
       |  UNION ALL
       |  SELECT km.rn, km.dur, km.d, km.c, km.n,
       |    surv.sv * (1 - CAST(km.d AS DOUBLE) / CAST(km.n AS DOUBLE))
       |  FROM surv JOIN km ON km.rn = surv.rn + 1)
       |SELECT dur AS duration_day, CAST(n AS BIGINT) AS n_risk,
       |  CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
       |  ${Exact.sqlDround("sv", 9)} AS survival
       |FROM surv WHERE d > 0 ORDER BY duration_day""".stripMargin

  // === ts10: seasonal-naive backtest (MASE) ================================
  /** ts10: mean absolute error of the lag-7 seasonal-naive forecast of
    * daily order revenue, scaled by the lag-1 naive's MAE — the MASE
    * reading (Hyndman 2006) that tells a pipeline whether weekly
    * seasonality carries real signal (mase < 1) before anyone trains a
    * model. CALENDAR lags, not row lags: a gap day must not silently
    * shift the season — the lagged value rides a RANGE frame pinned to
    * exactly day−k, which both engines evaluate identically. Every
    * |error| is an exact integer micros difference; the two MAEs and
    * their ratio are the only IEEE steps. Shape at 100 TB: ONE orders
    * scan → bounded daily aggregate → two window passes — no join, no
    * second scan.
    */
  def seasonalNaiveMase(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    val daily = t(s, dir, "orders")
      .select(day(col("o_orderdate")).as("day"), Exact.micros(col("o_totalprice")).as("pm"))
      .filter(col("day").isNotNull)
      .groupBy(col("day")).agg(sum(col("pm").cast(Exact.D380)).as("rev"))
    def lagAt(k: Int) =
      max(col("rev")).over(Window.orderBy(col("day")).rangeBetween(-k, -k))
    val err = daily
      .withColumn("l1", lagAt(1)).withColumn("l7", lagAt(7))
      .select(
        when(col("l1").isNotNull, abs(col("rev") - col("l1"))).as("e1"),
        when(col("l7").isNotNull, abs(col("rev") - col("l7"))).as("e7"))
    err.agg(
      count(col("e1")).as("n_lag1"), count(col("e7")).as("n_lag7"),
      sum(col("e1")).as("s1"), sum(col("e7")).as("s7"))
      .select(col("n_lag1"), col("n_lag7"),
        when(col("n_lag1") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.toUnits(col("s1")) / col("n_lag1")).as("mae_naive1"),
        when(col("n_lag7") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.toUnits(col("s7")) / col("n_lag7")).as("mae_seasonal7"),
        when(col("n_lag1") === 0 || col("n_lag7") === 0 || col("s1") === 0,
          lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            (Exact.toUnits(col("s7")) / col("n_lag7")) /
              (Exact.toUnits(col("s1")) / col("n_lag1")), 9)).as("mase"))
  }

  val seasonalNaiveMaseSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
       |    SUM(CAST(${Exact.sqlMicros("o_totalprice")} AS HUGEINT)) AS rev
       |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
       |lagged AS (
       |  SELECT rev,
       |    MAX(rev) OVER (ORDER BY day RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS l1,
       |    MAX(rev) OVER (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS l7
       |  FROM daily),
       |err AS (
       |  SELECT CASE WHEN l1 IS NOT NULL THEN ABS(rev - l1) END AS e1,
       |    CASE WHEN l7 IS NOT NULL THEN ABS(rev - l7) END AS e7
       |  FROM lagged),
       |agg AS (
       |  SELECT CAST(COUNT(e1) AS BIGINT) AS n_lag1, CAST(COUNT(e7) AS BIGINT) AS n_lag7,
       |    SUM(e1) AS s1, SUM(e7) AS s7
       |  FROM err)
       |SELECT n_lag1, n_lag7,
       |  CASE WHEN n_lag1 = 0 THEN NULL
       |       ELSE CAST(s1 AS DOUBLE) / 1000000.0 / n_lag1 END AS mae_naive1,
       |  CASE WHEN n_lag7 = 0 THEN NULL
       |       ELSE CAST(s7 AS DOUBLE) / 1000000.0 / n_lag7 END AS mae_seasonal7,
       |  CASE WHEN n_lag1 = 0 OR n_lag7 = 0 OR s1 = 0 THEN NULL
       |       ELSE ${Exact.sqlDround(
             "(CAST(s7 AS DOUBLE) / 1000000.0 / n_lag7) / (CAST(s1 AS DOUBLE) / 1000000.0 / n_lag1)", 9)}
       |  END AS mase
       |FROM agg""".stripMargin

  // === imp2: ratio estimator vs Horvitz–Thompson ===========================
  /** imp2: survey-sampling estimators of total order revenue from a
    * deterministic 20% md5-coin order sample — the Horvitz–Thompson
    * expansion (Σ_s y / f) against the RATIO estimator
    * (Σ_s y / Σ_s x) · X with lineitem count per order as the auxiliary
    * whose population total X IS known (the planner's row counts) — the
    * classic variance-reduction pair imp1's HT leg lacks a benchmark
    * for. Everything is exact integers (micros sums, HUGEINT counts)
    * until the final divisions; relative errors are single IEEE
    * expressions vs the exact full total. Shape at 100 TB: one orders
    * scan + one lineitem scan joined on the order key (map-side
    * combinable count), ONE conditional-aggregation row.
    */
  def ratioEstimate(s: SparkSession, dir: String): DataFrame = {
    val f = 0.2
    val items = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey")).agg(count(lit(1)).as("x"))
    val joined = t(s, dir, "orders")
      .select(col("o_orderkey"), Exact.micros(col("o_totalprice")).as("ym"))
      .join(items, Seq("o_orderkey"), "left")
      .select(col("ym"), coalesce(col("x"), lit(0L)).as("x"),
        (TextAnalysis.md5Frac(lit("imp2"), col("o_orderkey")) < f).as("in_s"))
    joined.agg(
      sum(when(col("in_s"), 1L).otherwise(0L)).as("n_sample"),
      count(lit(1)).as("n_orders"),
      sum(col("x")).as("x_total"),
      sum(when(col("in_s"), col("x")).otherwise(0L)).as("x_sample"),
      sum(col("ym").cast(Exact.D380)).as("y_true_m"),
      sum(when(col("in_s"), col("ym")).otherwise(0L).cast(Exact.D380)).as("y_sample_m"))
      .select(col("n_sample"), col("n_orders"),
        col("x_total").cast(LongType).as("x_total"),
        Exact.toUnits(col("y_true_m")).as("y_true"),
        (Exact.toUnits(col("y_sample_m")) / f).as("y_ht"),
        when(col("x_sample") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.toUnits(col("y_sample_m")) / col("x_sample") * col("x_total"))
          .as("y_ratio"),
        when(col("y_true_m") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            abs(Exact.toUnits(col("y_sample_m")) / f - Exact.toUnits(col("y_true_m")))
              / Exact.toUnits(col("y_true_m")), 9)).as("ht_rel_err"),
        when(col("y_true_m") === 0 || col("x_sample") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            abs(Exact.toUnits(col("y_sample_m")) / col("x_sample") * col("x_total")
              - Exact.toUnits(col("y_true_m"))) / Exact.toUnits(col("y_true_m")), 9))
          .as("ratio_rel_err"))
  }

  val ratioEstimateSql: String = {
    val f = "0.2"
    // parenthesized: these splice into larger expressions, and a bare
    // `a / CAST(..) / 1000000.0` would divide by 1e6 a second time
    val yS = "(CAST(y_sample_m AS DOUBLE) / 1000000.0)"
    val yT = "(CAST(y_true_m AS DOUBLE) / 1000000.0)"
    s"""WITH items AS (
       |  SELECT l_orderkey AS o_orderkey, COUNT(*) AS x FROM lineitem GROUP BY 1),
       |j AS (
       |  SELECT ${Exact.sqlMicros("o_totalprice")} AS ym, COALESCE(items.x, 0) AS x,
       |    (${TextAnalysis.sqlMd5Frac("'imp2'", "o_orderkey")} < $f) AS in_s
       |  FROM orders LEFT JOIN items USING (o_orderkey)),
       |agg AS (
       |  SELECT CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders,
       |    SUM(x) AS x_total,
       |    SUM(CASE WHEN in_s THEN x ELSE 0 END) AS x_sample,
       |    SUM(CAST(ym AS HUGEINT)) AS y_true_m,
       |    SUM(CASE WHEN in_s THEN CAST(ym AS HUGEINT) ELSE 0 END) AS y_sample_m
       |  FROM j)
       |SELECT n_sample, n_orders, CAST(x_total AS BIGINT) AS x_total,
       |  $yT AS y_true,
       |  $yS / $f AS y_ht,
       |  CASE WHEN x_sample = 0 THEN NULL ELSE $yS / x_sample * x_total END AS y_ratio,
       |  CASE WHEN y_true_m = 0 THEN NULL
       |       ELSE ${Exact.sqlDround(s"ABS($yS / $f - $yT) / $yT", 9)} END AS ht_rel_err,
       |  CASE WHEN y_true_m = 0 OR x_sample = 0 THEN NULL
       |       ELSE ${Exact.sqlDround(s"ABS($yS / x_sample * x_total - $yT) / $yT", 9)}
       |  END AS ratio_rel_err
       |FROM agg""".stripMargin
  }

  // === bs2: grouped delete-one jackknife ===================================
  /** bs2: the delete-one-group jackknife standard error of the mean
    * purchase value over k=32 deterministic md5 user buckets — the
    * closed-form uncertainty companion to bs1's Poisson bootstrap
    * (same md5-coin determinism, no resampling replicas): leave-one-
    * bucket-out means θ_(i) = (S − s_i)/(N − n_i),
    * var_jack = (k−1)/k · Σ_i (θ_(i) − θ̄)². Bucket sums are exact
    * integer micros; θ values are single IEEE expressions whose
    * (θ−θ̄)² terms ride the micros-rounded exact sum, so the variance
    * is order-independent and bit-portable. Shape at 100 TB: ONE events
    * scan → 32-bucket aggregate (map-side combinable, eager
    * localCheckpoint — three bounded consumers) → one summary row.
    */
  def jackknifeVariance(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val bucket = floor(TextAnalysis.md5Frac(lit("bs2"), col("user_id")) * k).cast(LongType)
    val perBucket = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(bucket.as("b"))
      .agg(sum(Exact.micros(col("value")).cast(Exact.D380)).as("sm"),
        count(lit(1)).as("n"))
      .localCheckpoint()
    val wAll = Window.partitionBy()
    val loo = perBucket
      .withColumn("s_all", sum(col("sm")).over(wAll))
      .withColumn("n_all", sum(col("n")).over(wAll))
      .withColumn("theta",
        when(col("n_all") === col("n"), lit(null).cast(DoubleType)) // lone bucket: no LOO mean
          .otherwise(Exact.toUnits(col("s_all") - col("sm"))
            / (col("n_all") - col("n")).cast(DoubleType)))
    val tb = loo.agg(Exact.davg(col("theta")).as("theta_bar"))
    loo.crossJoin(broadcast(tb))
      .select(col("n_all"), col("s_all"), col("theta_bar"),
        ((col("theta") - col("theta_bar")) * (col("theta") - col("theta_bar"))).as("term"))
      .agg(count(lit(1)).as("k_buckets"),
        max(col("n_all")).cast(LongType).as("n_purchases"),
        max(Exact.toUnits(col("s_all")) / col("n_all").cast(DoubleType)).as("mean_value"),
        max(col("theta_bar")).as("theta_bar"),
        Exact.dsum(col("term")).as("ssq"))
      .select(col("k_buckets"), col("n_purchases"), col("mean_value"), col("theta_bar"),
        when(col("k_buckets") < 2, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(
            (col("k_buckets") - 1).cast(DoubleType) / col("k_buckets").cast(DoubleType)
              * col("ssq"), 9)).as("jack_var"),
        when(col("k_buckets") < 2, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(sqrt(
            (col("k_buckets") - 1).cast(DoubleType) / col("k_buckets").cast(DoubleType)
              * col("ssq")), 9)).as("jack_se"))
  }

  val jackknifeVarianceSql: String = {
    val theta = "CASE WHEN n_all = n THEN NULL ELSE " +
      "CAST(s_all - sm AS DOUBLE) / 1000000.0 / CAST(n_all - n AS DOUBLE) END"
    s"""WITH pb AS (
       |  SELECT CAST(FLOOR(${TextAnalysis.sqlMd5Frac("'bs2'", "user_id")} * 32) AS BIGINT) AS b,
       |    SUM(CAST(${Exact.sqlMicros("value")} AS HUGEINT)) AS sm, COUNT(*) AS n
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |w AS (SELECT *, SUM(sm) OVER () AS s_all, SUM(n) OVER () AS n_all FROM pb),
       |loo AS (SELECT b, sm, n, s_all, n_all, $theta AS theta FROM w),
       |tb AS (SELECT ${Exact.sqlDavg("theta")} AS theta_bar FROM loo),
       |terms AS (
       |  SELECT n_all, s_all, theta_bar,
       |    (theta - theta_bar) * (theta - theta_bar) AS term
       |  FROM loo CROSS JOIN tb),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k_buckets,
       |    CAST(MAX(n_all) AS BIGINT) AS n_purchases,
       |    MAX(CAST(s_all AS DOUBLE) / 1000000.0 / CAST(n_all AS DOUBLE)) AS mean_value,
       |    MAX(theta_bar) AS theta_bar,
       |    ${Exact.sqlDsum("term")} AS ssq
       |  FROM terms)
       |SELECT k_buckets, n_purchases, mean_value, theta_bar,
       |  CASE WHEN k_buckets < 2 THEN NULL ELSE ${Exact.sqlDround(
           "CAST(k_buckets - 1 AS DOUBLE) / CAST(k_buckets AS DOUBLE) * ssq", 9)}
       |  END AS jack_var,
       |  CASE WHEN k_buckets < 2 THEN NULL ELSE ${Exact.sqlDround(
           "sqrt(CAST(k_buckets - 1 AS DOUBLE) / CAST(k_buckets AS DOUBLE) * ssq)", 9)}
       |  END AS jack_se
       |FROM agg""".stripMargin
  }

  // === ts11: fixed-grid periodogram of the daily revenue series ===========
  /** ts11: spectral power of the mean-centered daily order revenue at
    * candidate periods 2..14 days — the periodicity SCREEN that ts2's
    * day-of-week profile assumes and ts10's lag-7 MASE hard-codes
    * (weekly seasonality should dominate the grid; the scan proves it
    * instead of presuming it). For period p: c = Σ_d v'_d·cos(2πd/p),
    * s = Σ_d v'_d·sin(2πd/p), I(p) = (c² + s²)/n — the classical
    * Schuster periodogram on a fixed grid. Exactness: v' = toUnits of
    * the exact daily micros sum minus toUnits(exact total)/n — one IEEE
    * sequence over correctly-rounded images; the cos/sin argument uses
    * (d mod p)/p so the libm input stays in [0, 2π); each trig TERM is
    * micros-rounded into Exact.dsum (the drift1/zipf1 libm-skew
    * discipline — a 1-ulp cos divergence is ~1e-10 at these magnitudes,
    * far under the rounding grain). Shape at 100 TB: ONE orders scan →
    * calendar-bounded daily frame → ×13 periods via explode (bounded) →
    * 13-row aggregate.
    */
  def periodogram(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    def day(c: Column) = expr(s"(unix_micros(${c.toString}) - pmod(unix_micros(${c.toString}), $dayUs)) div $dayUs")
    val daily = t(s, dir, "orders")
      .filter(col("o_orderdate").isNotNull)
      .select(day(col("o_orderdate")).as("day"), Exact.micros(col("o_totalprice")).as("pm"))
      .groupBy(col("day")).agg(sum(col("pm").cast(Exact.D380)).as("vm"))
    val wAll = Window.partitionBy()
    val centered = daily
      .withColumn("vtot", sum(col("vm")).over(wAll))
      .withColumn("nd", count(lit(1)).over(wAll))
      .select(col("day"), col("nd"),
        (Exact.toUnits(col("vm")) - Exact.toUnits(col("vtot")) / col("nd").cast(DoubleType))
          .as("vc"))
    val theta = lit(2.0 * math.Pi) *
      pmod(col("day"), col("p")).cast(DoubleType) / col("p").cast(DoubleType)
    centered
      .select(col("day"), col("nd"), col("vc"), explode(sequence(lit(2L), lit(14L))).as("p"))
      .select(col("p"), col("nd"),
        (col("vc") * cos(theta)).as("ct"), (col("vc") * sin(theta)).as("st"))
      .groupBy(col("p"))
      .agg(max(col("nd")).cast(LongType).as("n_days"),
        Exact.dsum(col("ct")).as("cs"), Exact.dsum(col("st")).as("ss"))
      .select(col("p").as("period_days"), col("n_days"),
        Exact.dround(col("cs"), 6).as("cos_sum"),
        Exact.dround(col("ss"), 6).as("sin_sum"),
        Exact.dround((col("cs") * col("cs") + col("ss") * col("ss"))
          / col("n_days").cast(DoubleType), 4).as("power"))
      .orderedSmall(col("period_days"))
  }

  val periodogramSql: String =
    s"""WITH d AS (
       |  SELECT ${sqlDayOf("epoch_us(CAST(o_orderdate AS TIMESTAMP))")} AS day,
       |    SUM(CAST(${Exact.sqlMicros("o_totalprice")} AS HUGEINT)) AS vm
       |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
       |c AS (
       |  SELECT day, COUNT(*) OVER () AS nd,
       |    CAST(vm AS DOUBLE) / 1000000.0
       |      - (CAST(SUM(vm) OVER () AS DOUBLE) / 1000000.0) / (COUNT(*) OVER ()) AS vc
       |  FROM d),
       |terms AS (
       |  SELECT p, nd,
       |    vc * cos(2 * pi() * CAST((day % p + p) % p AS DOUBLE) / CAST(p AS DOUBLE)) AS ct,
       |    vc * sin(2 * pi() * CAST((day % p + p) % p AS DOUBLE) / CAST(p AS DOUBLE)) AS st
       |  FROM c CROSS JOIN (SELECT UNNEST(generate_series(2, 14)) AS p) g),
       |agg AS (
       |  SELECT p, CAST(MAX(nd) AS BIGINT) AS n_days,
       |    ${Exact.sqlDsum("ct")} AS cs, ${Exact.sqlDsum("st")} AS ss
       |  FROM terms GROUP BY p)
       |SELECT CAST(p AS BIGINT) AS period_days, n_days,
       |  ${Exact.sqlDround("cs", 6)} AS cos_sum,
       |  ${Exact.sqlDround("ss", 6)} AS sin_sum,
       |  ${Exact.sqlDround("(cs * cs + ss * ss) / CAST(n_days AS DOUBLE)", 4)} AS power
       |FROM agg ORDER BY period_days""".stripMargin

  // === dq4: Cramér's V field association ===================================
  /** dq4: Cramér's V between o_orderpriority and o_orderstatus — the
    * categorical-association strength the prof2 numeric correlation
    * matrix has no analogue for (a data-contract audit flags field
    * pairs whose V drifts; independence reads ~0). χ² over the exact
    * contingency counts with expected = row·col/n (IEEE from exact
    * longs, micros-rounded terms into Exact.dsum);
    * V = √(χ²/(n·(min(r,c)−1))). Degenerate tables (either field
    * constant) read NULL. Shape at 100 TB: ONE orders scan → (r×c)
    * contingency cells (map-side combinable, vocabulary-bounded) →
    * bounded joins of the cell table with its own margins.
    */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val observed = t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
      .agg(count(lit(1)).as("c"))
      // the grid zero-fill feeds margins, dims, AND the term join —
      // eager localCheckpoint pays the orders scan once (drift2 pattern)
      .localCheckpoint()
    val ra = observed.groupBy(col("a")).agg(sum(col("c")).as("ra"))
    val cb = observed.groupBy(col("b")).agg(sum(col("c")).as("cb"))
    // ZERO-FILL the r×c grid (the drift2 discipline): χ² sums over
    // EVERY cell of the contingency table — an unobserved (a, b) pair
    // still contributes (0−exp)²/exp, and dropping those cells is the
    // classic underestimate (a perfect 2×2 association would read
    // V ≈ 0.71 instead of 1)
    val cells = ra.select(col("a")).crossJoin(cb.select(col("b")))
      .join(observed, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val dims = observed.agg(countDistinct(col("a")).as("r_levels"),
      countDistinct(col("b")).as("c_levels"), sum(col("c")).as("n"))
    val exp = col("ra").cast(DoubleType) * col("cb").cast(DoubleType) / col("n").cast(DoubleType)
    val obs = col("c").cast(DoubleType)
    cells.join(ra, "a").join(cb, "b").crossJoin(broadcast(dims))
      .select(col("r_levels"), col("c_levels"), col("n"),
        ((obs - exp) * (obs - exp) / exp).as("term"))
      .groupBy(col("r_levels"), col("c_levels"), col("n"))
      .agg(Exact.dsum(col("term")).as("chi2"))
      .select(col("n").cast(LongType).as("n_orders"),
        col("r_levels"), col("c_levels"),
        Exact.dround(col("chi2"), 6).as("chi2"),
        when(least(col("r_levels"), col("c_levels")) < 2, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(sqrt(col("chi2") / (col("n").cast(DoubleType)
            * (least(col("r_levels"), col("c_levels")) - 1).cast(DoubleType))), 9))
          .as("cramers_v"))
  }

  val cramersVSql: String =
    s"""WITH observed AS (
       |  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS c
       |  FROM orders GROUP BY 1, 2),
       |ra AS (SELECT a, SUM(c) AS ra FROM observed GROUP BY 1),
       |cb AS (SELECT b, SUM(c) AS cb FROM observed GROUP BY 1),
       |cells AS (
       |  SELECT ra.a, cb.b, COALESCE(observed.c, 0) AS c
       |  FROM ra CROSS JOIN cb
       |  LEFT JOIN observed ON observed.a = ra.a AND observed.b = cb.b),
       |dims AS (SELECT COUNT(DISTINCT a) AS r_levels, COUNT(DISTINCT b) AS c_levels,
       |                SUM(c) AS n FROM observed),
       |terms AS (
       |  SELECT r_levels, c_levels, n,
       |    (CAST(c AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
       |    * (CAST(c AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
       |    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) AS term
       |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN dims),
       |agg AS (
       |  SELECT r_levels, c_levels, n, ${Exact.sqlDsum("term")} AS chi2
       |  FROM terms GROUP BY 1, 2, 3)
       |SELECT CAST(n AS BIGINT) AS n_orders,
       |  CAST(r_levels AS BIGINT) AS r_levels, CAST(c_levels AS BIGINT) AS c_levels,
       |  ${Exact.sqlDround("chi2", 6)} AS chi2,
       |  CASE WHEN LEAST(r_levels, c_levels) < 2 THEN NULL
       |       ELSE ${Exact.sqlDround(
             "sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(LEAST(r_levels, c_levels) - 1 AS DOUBLE)))", 9)}
       |  END AS cramers_v
       |FROM agg""".stripMargin

  // === exp6: effect size of the exp1 experiment ============================
  /** exp6: Cohen's d (pooled-SD standardized mean difference) with the
    * Hedges small-sample correction between exp1's md5-coin arms on
    * per-user purchase totals — the MAGNITUDE readout completing the
    * experiment battery (exp1 rates, exp4 nonparametric significance,
    * exp5 parametric significance; a significant-but-tiny effect is the
    * decision trap d exists to catch). The SAME 'exp1'-salted coin, the
    * SAME per-user exact moments as exp5; d, pooled SD, and
    * g = d·(1 − 3/(4N−9)) are one fixed IEEE sequence. Degenerate arms
    * (n < 2 or zero pooled variance) read NULL.
    * Shape at 100 TB: one events scan → user aggregate (map-side
    * combinable) → ONE conditional-aggregation row; no window, no join.
    */
  def effectSize(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .select(col("user_id"),
        when(col("event_type") === "purchase", Exact.micros(col("value"))).otherwise(0L).as("vm"))
      .groupBy(col("user_id")).agg(sum(col("vm")).as("x"))
    val a = TextAnalysis.md5Frac(lit("exp1"), col("user_id")) < 0.5
    val xd = col("x").cast(Exact.D380)
    val m = perUser.agg(
      coalesce(sum(when(a, 1L).otherwise(0L)), lit(0L)).as("n_a"),
      coalesce(sum(when(!a, 1L).otherwise(0L)), lit(0L)).as("n_b"),
      sum(when(a, xd).otherwise(lit(0).cast(Exact.D380))).as("sxa"),
      sum(when(!a, xd).otherwise(lit(0).cast(Exact.D380))).as("sxb"),
      sum(when(a, xd * xd).otherwise(lit(0).cast(Exact.D380))).as("sxxa"),
      sum(when(!a, xd * xd).otherwise(lit(0).cast(Exact.D380))).as("sxxb"))
    def units(c: Column) = Exact.toUnits(c)
    def units2(c: Column) = c.cast(DoubleType) / lit(1000000000000.0)
    m.select({
      val na = col("n_a").cast(DoubleType); val nb = col("n_b").cast(DoubleType)
      val ma = units(col("sxa")) / na; val mb = units(col("sxb")) / nb
      val ssa = units2(col("sxxa")) - units(col("sxa")) * units(col("sxa")) / na
      val ssb = units2(col("sxxb")) - units(col("sxb")) * units(col("sxb")) / nb
      val sp2 = (ssa + ssb) / (na + nb - 2.0)
      val d = (ma - mb) / sqrt(sp2)
      val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - 9.0))
      val degenerate = col("n_a") < 2 || col("n_b") < 2 || sp2 <= 0.0
      Seq(col("n_a"), col("n_b"),
        when(degenerate, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(ma - mb, 6)).as("mean_diff"),
        when(degenerate, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(sqrt(sp2), 6)).as("pooled_sd"),
        when(degenerate, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(d, 9)).as("cohens_d"),
        when(degenerate, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(g, 9)).as("hedges_g"))
    }: _*)
  }

  val effectSizeSql: String = {
    val coin = TextAnalysis.sqlMd5Frac("'exp1'", "CAST(user_id AS VARCHAR)")
    val micros = Exact.sqlMicros("value")
    def u(c: String) = Exact.sqlToUnits(c)
    def u2(c: String) = s"(CAST(CAST($c AS VARCHAR) AS DOUBLE)/1000000000000.0)"
    val na = "CAST(n_a AS DOUBLE)"; val nb = "CAST(n_b AS DOUBLE)"
    val ma = s"(${u("sxa")} / $na)"; val mb = s"(${u("sxb")} / $nb)"
    val ssa = s"(${u2("sxxa")} - ${u("sxa")} * ${u("sxa")} / $na)"
    val ssb = s"(${u2("sxxb")} - ${u("sxb")} * ${u("sxb")} / $nb)"
    val sp2 = s"(($ssa + $ssb) / ($na + $nb - 2.0))"
    val d = s"(($ma - $mb) / sqrt($sp2))"
    val g = s"($d * (1.0 - 3.0 / (4.0 * ($na + $nb) - 9.0)))"
    val degen = s"(n_a < 2 OR n_b < 2 OR $sp2 <= 0.0)"
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'purchase' THEN $micros ELSE 0 END) AS x
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT
       |    COALESCE(SUM(CASE WHEN $coin < 0.5 THEN 1 ELSE 0 END), 0) AS n_a,
       |    COALESCE(SUM(CASE WHEN $coin < 0.5 THEN 0 ELSE 1 END), 0) AS n_b,
       |    SUM(CASE WHEN $coin < 0.5 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxa,
       |    SUM(CASE WHEN $coin < 0.5 THEN 0 ELSE CAST(x AS HUGEINT) END) AS sxb,
       |    SUM(CASE WHEN $coin < 0.5 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxa,
       |    SUM(CASE WHEN $coin < 0.5 THEN 0 ELSE CAST(x AS HUGEINT) * x END) AS sxxb
       |  FROM pu)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CASE WHEN $degen THEN NULL ELSE ${Exact.sqlDround(s"($ma - $mb)", 6)} END AS mean_diff,
       |  CASE WHEN $degen THEN NULL ELSE ${Exact.sqlDround(s"sqrt($sp2)", 6)} END AS pooled_sd,
       |  CASE WHEN $degen THEN NULL ELSE ${Exact.sqlDround(d, 9)} END AS cohens_d,
       |  CASE WHEN $degen THEN NULL ELSE ${Exact.sqlDround(g, 9)} END AS hedges_g
       |FROM m""".stripMargin
  }

  // === imp3: post-stratified estimator =====================================
  /** imp3: the post-stratified expansion of imp2's survey — the SAME
    * 'imp2'-salted 20% order coin, with the sample means re-weighted by
    * the KNOWN per-stratum population counts (strata = order priority):
    * ŷ_post = Σ_h N_h·ȳ_s,h. The classic fix when a sample lands
    * unevenly across strata; an empty sampled stratum contributes
    * nothing and is COUNTED (`n_empty_strata` — the no-silent-caps
    * record). All counts and sums are exact integers until the final
    * divisions; per-stratum contributions are micros-rounded into
    * Exact.dsum. Shape at 100 TB: ONE orders scan → priority-bounded
    * stratum aggregate → one summary row.
    */
  def postStratified(s: SparkSession, dir: String): DataFrame = {
    val f = 0.2
    val strata = t(s, dir, "orders")
      .select(col("o_orderpriority").as("h"),
        Exact.micros(col("o_totalprice")).as("ym"),
        (TextAnalysis.md5Frac(lit("imp2"), col("o_orderkey")) < f).as("in_s"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_h"),
        sum(when(col("in_s"), 1L).otherwise(0L)).as("n_sh"),
        sum(col("ym").cast(Exact.D380)).as("y_true_h"),
        sum(when(col("in_s"), col("ym")).otherwise(0L).cast(Exact.D380)).as("y_sh"))
    val contrib = when(col("n_sh") === 0, lit(0.0))
      .otherwise(col("n_h").cast(DoubleType) * Exact.toUnits(col("y_sh"))
        / col("n_sh").cast(DoubleType))
    strata
      .select(col("n_h"), col("n_sh"), col("y_true_h"), col("y_sh"), contrib.as("contrib"))
      .agg(count(lit(1)).as("n_strata"),
        sum(when(col("n_sh") === 0, 1L).otherwise(0L)).as("n_empty_strata"),
        sum(col("n_h")).cast(LongType).as("n_orders"),
        sum(col("n_sh")).cast(LongType).as("n_sample"),
        sum(col("y_true_h")).as("y_true_m"),
        sum(col("y_sh")).as("y_sample_m"),
        Exact.dsum(col("contrib")).as("y_post"))
      .select(col("n_strata"), col("n_empty_strata"), col("n_orders"), col("n_sample"),
        Exact.toUnits(col("y_true_m")).as("y_true"),
        (Exact.toUnits(col("y_sample_m")) / f).as("y_ht"),
        col("y_post"),
        when(col("y_true_m") === 0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround(abs(col("y_post") - Exact.toUnits(col("y_true_m")))
            / Exact.toUnits(col("y_true_m")), 9)).as("post_rel_err"))
  }

  val postStratifiedSql: String = {
    val f = "0.2"
    val yT = "(CAST(y_true_m AS DOUBLE) / 1000000.0)"
    s"""WITH strata AS (
       |  SELECT o_orderpriority AS h, COUNT(*) AS n_h,
       |    SUM(CASE WHEN ${TextAnalysis.sqlMd5Frac("'imp2'", "o_orderkey")} < $f
       |             THEN 1 ELSE 0 END) AS n_sh,
       |    SUM(CAST(${Exact.sqlMicros("o_totalprice")} AS HUGEINT)) AS y_true_h,
       |    SUM(CASE WHEN ${TextAnalysis.sqlMd5Frac("'imp2'", "o_orderkey")} < $f
       |             THEN CAST(${Exact.sqlMicros("o_totalprice")} AS HUGEINT)
       |             ELSE 0 END) AS y_sh
       |  FROM orders GROUP BY 1),
       |terms AS (
       |  SELECT n_h, n_sh, y_true_h, y_sh,
       |    CASE WHEN n_sh = 0 THEN 0.0
       |         ELSE CAST(n_h AS DOUBLE) * (CAST(y_sh AS DOUBLE) / 1000000.0)
       |              / CAST(n_sh AS DOUBLE) END AS contrib
       |  FROM strata),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       |    CAST(SUM(CASE WHEN n_sh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_strata,
       |    CAST(SUM(n_h) AS BIGINT) AS n_orders,
       |    CAST(SUM(n_sh) AS BIGINT) AS n_sample,
       |    SUM(y_true_h) AS y_true_m, SUM(y_sh) AS y_sample_m,
       |    ${Exact.sqlDsum("contrib")} AS y_post
       |  FROM terms)
       |SELECT n_strata, n_empty_strata, n_orders, n_sample,
       |  $yT AS y_true,
       |  (CAST(y_sample_m AS DOUBLE) / 1000000.0) / $f AS y_ht,
       |  y_post,
       |  CASE WHEN y_true_m = 0 THEN NULL
       |       ELSE ${Exact.sqlDround(s"ABS(y_post - $yT) / $yT", 9)} END AS post_rel_err
       |FROM agg""".stripMargin
  }

  // === ev28: per-state conditional entropy of the behavior chain ==========
  /** ev28: per-state conditional entropy of ev10's transition matrix —
    * H(next|prev=s) = −Σ_t P(t|s)·ln P(t|s), with each state's share of
    * all transitions alongside (so Σ_s share·H(·|s) IS the empirical
    * entropy rate of the behavior chain — the sequence-compressibility
    * number that sizes a behavior-cloning vocabulary; ev26 is the
    * i.i.d. analogue per user). Same (epoch-micros, event_id) ordering
    * convention as ev10; p is one IEEE division of exact counts, terms
    * micros-rounded into Exact.dsum. Shape at 100 TB: one events scan →
    * user-keyed lag window → vocabulary²-bounded count table → bounded
    * window sums.
    */
  def entropyRate(s: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
      .filter(col("prev_type").isNotNull)
    val c2 = pairs.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_from", sum(col("n_pairs")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("n_all", sum(col("n_pairs")).over(Window.partitionBy()))
    val p = col("n_pairs").cast(DoubleType) / col("n_from").cast(DoubleType)
    c2.select(col("prev_type"), col("n_from"), col("n_all"), (-p * log(p)).as("term"))
      .groupBy(col("prev_type"))
      .agg(max(col("n_from")).cast(LongType).as("n_out"),
        Exact.dround(max(col("n_from")).cast(DoubleType)
          / max(col("n_all")).cast(DoubleType), 9).as("out_share"),
        Exact.dsum(col("term")).as("cond_entropy"))
      .orderedSmall(col("prev_type"))
  }

  val entropyRateSql: String =
    s"""WITH seqd AS (
       |  SELECT user_id, event_type,
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_type
       |  FROM events),
       |c2 AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n_pairs
       |       FROM seqd WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |w AS (SELECT *, SUM(n_pairs) OVER (PARTITION BY prev_type) AS n_from,
       |             SUM(n_pairs) OVER () AS n_all
       |      FROM c2),
       |terms AS (
       |  SELECT prev_type, n_from, n_all,
       |    -(CAST(n_pairs AS DOUBLE) / CAST(n_from AS DOUBLE))
       |      * ln(CAST(n_pairs AS DOUBLE) / CAST(n_from AS DOUBLE)) AS term
       |  FROM w)
       |SELECT prev_type, CAST(MAX(n_from) AS BIGINT) AS n_out,
       |  ${Exact.sqlDround("CAST(MAX(n_from) AS DOUBLE) / CAST(MAX(n_all) AS DOUBLE)", 9)}
       |    AS out_share,
       |  ${Exact.sqlDsum("term")} AS cond_entropy
       |FROM terms GROUP BY prev_type ORDER BY prev_type""".stripMargin

  // === ev29: inter-arrival burstiness per user =============================
  /** ev29: the Goh–Barabási burstiness coefficient of each user's
    * inter-event gaps — B = (σ−μ)/(σ+μ) over the per-user inter-arrival
    * times, the bot/automation fingerprint ev12's global histogram
    * cannot see (B → −1 periodic cron-like traffic, B ≈ 0 Poisson,
    * B → 1 heavy-tailed human bursts). Gaps are exact integer MICROS
    * (the ev10 (epoch-micros, event_id) ordering convention); Σd and
    * Σd² accumulate in DECIMAL(38,0) (a 30-day gap squares past int64),
    * and σ/μ/B are one fixed IEEE sequence over the varchar-routed
    * double images (the exp5 u2 discipline). Users with < 2 gaps or a
    * σ+μ of zero read NULL. Shape at 100 TB: one events scan →
    * user-keyed lag window → per-user moment aggregate (map-side
    * combinable); per-user output, the ev13 contract.
    */
  def userBurstiness(s: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("d", col("us") - lag(col("us"), 1).over(seq))
      .filter(col("d").isNotNull)
    val dd = col("d").cast(Exact.D380)
    val m = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(dd).as("sd"), sum(dd * dd).as("sdd"))
    val n = col("n_gaps").cast(DoubleType)
    // exact decimals -> double via the varchar-safe image (numbers this
    // size round identically, but the cast route must match the oracle)
    val sdD = col("sd").cast(DoubleType)
    val sddD = col("sdd").cast(DoubleType)
    val mu = sdD / n
    // clamp at 0: near-constant gaps can cancel to -1e-10 and sqrt to
    // NaN — a periodic user must read B = -1, not NaN
    val variance = greatest(sddD / n - mu * mu, lit(0.0))
    val sigma = sqrt(variance)
    val b = (sigma - mu) / (sigma + mu)
    m.select(col("user_id"), col("n_gaps"),
      Exact.dround(mu / 1000000.0, 6).as("mean_gap_sec"),
      when(col("n_gaps") < 2 || (sigma + mu) <= 0.0, lit(null).cast(DoubleType))
        .otherwise(Exact.dround(b, 9)).as("burstiness"))
      .orderedSmall(col("user_id"))
  }

  val userBurstinessSql: String =
    s"""WITH g AS (
       |  SELECT user_id,
       |    epoch_us(CAST(ts AS TIMESTAMP))
       |      - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
       |          PARTITION BY user_id
       |          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS d
       |  FROM events),
       |m AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       |    SUM(CAST(d AS HUGEINT)) AS sd,
       |    SUM(CAST(d AS HUGEINT) * d) AS sdd
       |  FROM g WHERE d IS NOT NULL GROUP BY user_id),
       |v AS (
       |  SELECT user_id, n_gaps,
       |    CAST(sd AS DOUBLE) / n_gaps AS mu,
       |    sqrt(GREATEST(CAST(CAST(sdd AS VARCHAR) AS DOUBLE) / n_gaps
       |         - (CAST(sd AS DOUBLE) / n_gaps) * (CAST(sd AS DOUBLE) / n_gaps), 0.0)) AS sigma
       |  FROM m)
       |SELECT user_id, n_gaps,
       |  ${Exact.sqlDround("mu / 1000000.0", 6)} AS mean_gap_sec,
       |  CASE WHEN n_gaps < 2 OR (sigma + mu) <= 0.0 THEN NULL
       |       ELSE ${Exact.sqlDround("(sigma - mu) / (sigma + mu)", 9)} END AS burstiness
       |FROM v ORDER BY user_id""".stripMargin

  // === smp6: hash-interval systematic sample ===============================
  /** smp6: systematic sampling in hash space — documents whose md5
    * bucket (of 10 000) falls on the every-7th interval grid are kept,
    * the deterministic equal-spaced design survey practice prefers over
    * Bernoulli coins when the frame order is arbitrary (hash space IS
    * the frame order here, so the technique is map-only and scale-free
    * — no global row_number sort, which would single-task at 100 TB;
    * the smp5 reservoir covers the exact-k case instead). Expected
    * rate = ceil(10000/7)/10000 ≈ 14.29%.
    */
  def systematicSample(s: SparkSession, dir: String): DataFrame = {
    val buckets = 10000L
    val bucket = floor(TextAnalysis.md5Frac(lit("smp6"), col("doc_id")) * buckets)
      .cast(LongType)
    t(s, dir, "documents")
      .select(col("doc_id"), bucket.as("hash_bucket"))
      .filter(pmod(col("hash_bucket"), lit(7L)) === 0)
      // distributed range sort, NOT orderedSmall (r19 review): the kept
      // set is ~14.3% of the corpus — data-proportional, so the
      // coalesce(1) bounded-output helper would single-task it at scale
      .orderBy(col("doc_id"))
  }

  val systematicSampleSql: String =
    s"""SELECT doc_id,
       |  CAST(FLOOR(${TextAnalysis.sqlMd5Frac("'smp6'", "doc_id")} * 10000) AS BIGINT)
       |    AS hash_bucket
       |FROM documents
       |WHERE CAST(FLOOR(${TextAnalysis.sqlMd5Frac("'smp6'", "doc_id")} * 10000) AS BIGINT)
       |      % 7 = 0
       |ORDER BY doc_id""".stripMargin

  // === stat4: grouped weighted median ======================================
  /** stat4: the weighted median of l_extendedprice per return flag with
    * l_quantity as the weight — the robust "typical traded price"
    * (an unweighted median over line items overweights small-quantity
    * lines; a mean is outlier-dragged). Definition: the lowest price
    * level whose cumulative weight reaches half the group's total —
    * deterministic because weights aggregate per DISTINCT price level
    * first, so no within-tie ordering exists to disagree on. Shape at
    * 100 TB: one PINNED (flag, price) exchange feeding the level
    * aggregate — raw rows fan across the grid-wide key, so the
    * reduction is parallel and no task ever holds more than the price
    * grid — then a per-flag ordered window over distinct price LEVELS,
    * bounded by the grid (cents), not row count; the true at-scale
    * path for an unbounded value domain is a fixed-width histogram
    * sketch, with this exact tier as its correctness anchor.
    */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    // r20 windowed the RAW rows per flag (1 exchange, fastest at
    // sf0.1) — but partitionBy(l_returnflag) funnels every lineitem
    // row of a flag into ONE window-sort task, unbounded at 100 TB
    // (VERDICT r20 #2). Restored bound: aggregate to price LEVELS
    // first. The naive groupBy plans its partial aggregate inside the
    // single-row-group scan task (594 k mostly-distinct groups,
    // serial — the r19 2.36 s shape); pinning a (flag, price) exchange
    // FIRST makes both aggregate halves run parallel above it and
    // leaves the flag exchange level-bounded. A/B sf0.1 warm-min:
    // raw-row 1.36-1.54 s, naive pre-agg 2.27 s, THIS 1.56-1.59 s —
    // the scale bound costs ~0.1 s here. Level weights regroup the
    // same whole-number quantities (< 2^53), so the double sums are
    // exact integers and order-independent (the q17 argument); the
    // RANGE frame over distinct levels gives each level its
    // tie-inclusive cumulative weight, so filter and min() pick the
    // identical price.
    // ONE window pass (r21): tot rides the SAME (flag, price-ordered)
    // window spec with an unbounded-both-ways ROWS frame, so Spark
    // plans a single Window operator (one sort) for cum and tot
    // instead of two. Same value — the full frame sums every level
    // weight of the flag. A/B sf0.1 warm-min: 1.52 -> 1.31 s.
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
    val wAll = wCum.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .repartition(Par.shuffleWidth(t(s, dir, "lineitem")),
        col("l_returnflag"), col("l_extendedprice"))
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("l_quantity")).as("w"))
      .withColumn("cum", sum(col("w")).over(wCum))
      .withColumn("tot", sum(col("w")).over(wAll))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("weighted_median_price"),
        max(col("tot")).as("total_qty"))
      .orderedSmall(col("l_returnflag"))
  }

  val weightedMedianSql: String =
    """WITH grp AS (
      |  SELECT l_returnflag, l_extendedprice, SUM(l_quantity) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM grp)
      |SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median_price,
      |  MAX(tot) AS total_qty
      |FROM c WHERE cum * 2 >= tot GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // === ev31: pre-purchase activity =========================================
  /** ev31: per converting user, how much activity preceded the FIRST
    * purchase — the count of events strictly before it and the
    * microsecond gap from the user's first event. The feature-
    * engineering complement of ev22 (hazard) and ev27 (Kaplan–Meier):
    * those model WHEN conversion happens, this measures what it took.
    * Events at exactly the first-purchase timestamp are not counted as
    * "before". Shape at 100 TB: one events scan → per-user window min →
    * per-user aggregate, no join; output bounded by converting users.
    */
  def prepurchaseActivity(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("fp_us",
        min(when(col("event_type") === "purchase", col("us"))).over(wU))
      .filter(col("fp_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(when(col("us") < col("fp_us"), 1)).as("n_before"),
        (max(col("fp_us")) - min(col("us"))).as("gap_us"))
      .orderBy(col("user_id"))
  }

  val prepurchaseActivitySql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |u AS (
      |  SELECT user_id, us,
      |    MIN(CASE WHEN event_type = 'purchase' THEN us END)
      |      OVER (PARTITION BY user_id) AS fp_us
      |  FROM e)
      |SELECT user_id,
      |  CAST(COUNT(CASE WHEN us < fp_us THEN 1 END) AS BIGINT) AS n_before,
      |  CAST(MAX(fp_us) - MIN(us) AS BIGINT) AS gap_us
      |FROM u WHERE fp_us IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin

  // === ts14: spectral entropy ==============================================
  /** ts14: Shannon entropy of ts11's normalized periodogram — ONE
    * number for "how concentrated is the revenue series' periodicity"
    * (0 bits = a single pure period, log2(13) ≈ 3.7 bits = white
    * noise across the probed grid). Shares ts11's frame end-to-end:
    * the probabilities are built from ts11's ROUNDED power column, so
    * both engines normalize identical inputs, and the power total is
    * summed as exact DECIMAL before the one IEEE division per term
    * (entropy terms micros-rounded into Exact.dsum, ln/ln2 on both
    * engines — the ev26/txt19 parity rules). Bounded: 13 rows in,
    * one row out.
    */
  def spectralEntropy(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val pg = periodogram(s, dir).select(col("period_days"), col("power"))
    // the power total crosses engines through an EXACT integer domain:
    // power is 4-decimal by construction, so round(power*1e4) is the
    // same long on both engines, and the long sum is order-free — a
    // plain double sum differed at ulp(5e12) ≈ 0.001 (visible in the
    // 4th decimal), and DECIMAL(38,4) casts of the same double also
    // disagreed in their last digit between engines
    val pr = col("power") / (col("ptot_u").cast(DoubleType) / lit(1e4))
    pg
      .withColumn("ptot_u",
        sum(round(col("power") * lit(1e4)).cast(LongType)).over(wAll))
      .withColumn("np", count(lit(1)).over(wAll))
      .filter(col("power") > 0.0)
      .select(col("ptot_u"), col("np"),
        (-pr * log(pr) / lit(math.log(2.0))).as("term"))
      .groupBy()
      .agg(max(col("np")).cast(LongType).as("n_periods"),
        count(lit(1)).as("n_nonzero"),
        (max(col("ptot_u")).cast(DoubleType) / lit(1e4)).as("total_power"),
        Exact.dsum(col("term")).as("spectral_entropy_bits"))
  }

  val spectralEntropySql: String =
    s"""WITH pg AS ($periodogramSql),
       |w AS (
       |  SELECT period_days, power,
       |    SUM(CAST(round(power * 10000) AS BIGINT)) OVER () AS ptot_u,
       |    COUNT(*) OVER () AS np
       |  FROM pg),
       |terms AS (
       |  SELECT np, ptot_u,
       |    -(power / (CAST(ptot_u AS DOUBLE) / 10000.0))
       |      * ln(power / (CAST(ptot_u AS DOUBLE) / 10000.0)) / ln(2.0) AS term
       |  FROM w WHERE power > 0.0)
       |SELECT CAST(MAX(np) AS BIGINT) AS n_periods,
       |  CAST(COUNT(*) AS BIGINT) AS n_nonzero,
       |  CAST(MAX(ptot_u) AS DOUBLE) / 10000.0 AS total_power,
       |  ${Exact.sqlDsum("term")} AS spectral_entropy_bits
       |FROM terms""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat4_weighted_median" -> weightedMedian _,
    "ev31_prepurchase_activity" -> prepurchaseActivity _,
    "ts14_spectral_entropy" -> spectralEntropy _,
    "ts11_periodogram" -> periodogram _,
    "dq4_cramers_v" -> cramersV _,
    "exp6_effect_size" -> effectSize _,
    "imp3_poststratified" -> postStratified _,
    "ev28_entropy_rate" -> entropyRate _,
    "ev29_user_burstiness" -> userBurstiness _,
    "ts12_pacf" -> pacf _,
    "ts13_ljung_box" -> ((s: SparkSession, d: String) => ljungBox(s, d)),
    "smp6_systematic_sample" -> systematicSample _,
    "bs2_jackknife_se" -> jackknifeVariance _,
    "ev27_kaplan_meier" -> kaplanMeier _,
    "ts10_seasonal_mase" -> seasonalNaiveMase _,
    "imp2_ratio_estimate" -> ratioEstimate _,
    "priv3_t_closeness" -> tClosenessAudit _,
    "corr4_kendall_daily" -> kendallMonthly _,
    "drift2_psi_monthly" -> psiMonthly _,
    "ev26_type_entropy" -> typeEntropy _,
    "exp5_welch_t" -> welchTTest _,
    "ts9_mann_kendall" -> mannKendall _,
    "corr3_spearman_daily" -> spearmanOrders _,
    "ev25_markov_stationary" -> ((s: SparkSession, d: String) => markovStationary(s, d)),
    "cal3_calibration_error" -> calibrationError _,
    "fd3_inclusion_deps" -> inclusionDeps _,
    "ev24_activity_streaks" -> activityStreaks _,
    "cal2_brier_decomposition" -> brierDecomposition _,
    "ts8_theil_sen_trend" -> theilSenTrend _,
    "ks1_source_ks" -> sourceKs _,
    "dp1_dp_counts" -> ((s: SparkSession, d: String) => dpCounts(s, d)),
    "mrr1_retrieval_mrr" -> ((s: SparkSession, d: String) => labelRetrievalMrr(s, d)),
    "ev22_conversion_hazard" -> conversionHazard _,
    "ev23_retention_cohorts" -> ((s: SparkSession, d: String) => retentionCohorts(s, d)),
    "ndcg1_retrieval_ndcg" -> ((s: SparkSession, d: String) => labelRetrievalNdcg(s, d)),
    "smp4_neyman_allocation" -> neymanAllocation _,
    "exp4_rank_sum" -> rankSumTest _,
    "skw2_key_skew" -> keySkewProfile _,
    "fh1_feature_hashing" -> featureHashing _,
    "cal1_margin_calibration" -> marginCalibration _,
    "fair1_group_parity" -> groupParity _,
    "bs1_poisson_bootstrap" -> poissonBootstrap _,
    "exp3_diff_in_diff" -> diffInDiff _,
    "ts6_stl_residuals" -> stlResiduals _,
    "ts5_revenue_ewma" -> revenueEwma _,
    "imp1_ht_estimate" -> htEstimate _,
    "conf1_langid_confusion" -> langIdConfusion _,
    "iaa1_label_agreement" -> labelAgreement _,
    "priv1_k_anonymity" -> kAnonymityAudit _,
    "priv2_l_diversity" -> lDiversityAudit _,
    "ts4_cusum_changepoint" -> cusumChangepoint _,
    "auc1_classifier_auc" -> classifierAuc _,
    "map1_retrieval_ap" -> ((s: SparkSession, d: String) => labelRetrievalAp(s, d)),
    "ev21_latest_per_key" -> latestPerKey _,
    "rec1_order_reconcile" -> orderReconcile _,
    "exp2_cuped" -> ((s: SparkSession, d: String) => cupedReadout(s, d)),
    "cc1_knn_components" -> knnComponents _,
    "kmv1_distinct_sketch" -> ((s: SparkSession, d: String) => kmvDistinct(s, d)),
    "ts3_revenue_autocorr" -> ((s: SparkSession, d: String) => revenueAutocorr(s, d)),
    "cooc1_skipgram_pairs" -> ((s: SparkSession, d: String) => skipgramPairs(s, d)),
    "neg1_negative_sampling" -> negativeSampling _,
    "fld1_kfold_split" -> kfoldSplit _,
    "gini1_revenue_concentration" -> revenueGini _,
    "bsk2_association_rules" -> associationRules _,
    "grow1_mom_growth" -> momGrowth _,
    "top2_nation_top_parts" -> ((s: SparkSession, d: String) => nationTopParts(s, d)),
    "clv1_customer_deciles" -> customerDeciles _,
    "src1_cross_source_overlap" -> crossSourceOverlap _,
    "txt16_encoding_qa" -> encodingQa _,
    "bsk1_copurchase_pairs" -> copurchasePairs _,
    "exp1_ab_test" -> abTestReadout _,
    "ts2_daily_seasonality" -> dailySeasonality _,
    "stat3_grouped_moments" -> groupedMoments _,
    "ev20_session_conversion" -> sessionConversion _,
    "qf2_gopher_rules" -> gopherRules _)

  val oracles: Map[String, String] = Map(
    "stat4_weighted_median" -> weightedMedianSql,
    "ev31_prepurchase_activity" -> prepurchaseActivitySql,
    "ts14_spectral_entropy" -> spectralEntropySql,
    "ts11_periodogram" -> periodogramSql,
    "dq4_cramers_v" -> cramersVSql,
    "exp6_effect_size" -> effectSizeSql,
    "imp3_poststratified" -> postStratifiedSql,
    "ev28_entropy_rate" -> entropyRateSql,
    "ev29_user_burstiness" -> userBurstinessSql,
    "ts12_pacf" -> pacfSql,
    "ts13_ljung_box" -> ljungBoxSql,
    "smp6_systematic_sample" -> systematicSampleSql,
    "bs2_jackknife_se" -> jackknifeVarianceSql,
    "ev27_kaplan_meier" -> kaplanMeierSql,
    "ts10_seasonal_mase" -> seasonalNaiveMaseSql,
    "imp2_ratio_estimate" -> ratioEstimateSql,
    "priv3_t_closeness" -> tClosenessAuditSql,
    "corr4_kendall_daily" -> kendallMonthlySql,
    "drift2_psi_monthly" -> psiMonthlySql,
    "ev26_type_entropy" -> typeEntropySql,
    "exp5_welch_t" -> welchTTestSql,
    "ts9_mann_kendall" -> mannKendallSql,
    "corr3_spearman_daily" -> spearmanOrdersSql,
    "ev25_markov_stationary" -> markovStationarySql(),
    "cal3_calibration_error" -> calibrationErrorSql,
    "fd3_inclusion_deps" -> inclusionDepsSql,
    "ks1_source_ks" -> sourceKsSql,
    "dp1_dp_counts" -> dpCountsSql,
    "mrr1_retrieval_mrr" -> labelRetrievalMrrSql(),
    "ev22_conversion_hazard" -> conversionHazardSql,
    "ev23_retention_cohorts" -> retentionCohortsSql(),
    "ev24_activity_streaks" -> activityStreaksSql(),
    "cal2_brier_decomposition" -> brierDecompositionSql,
    "ts8_theil_sen_trend" -> theilSenTrendSql,
    "ndcg1_retrieval_ndcg" -> labelRetrievalNdcgSql(),
    "smp4_neyman_allocation" -> neymanAllocationSql,
    "exp4_rank_sum" -> rankSumTestSql,
    "skw2_key_skew" -> keySkewProfileSql,
    "fh1_feature_hashing" -> featureHashingSql,
    "cal1_margin_calibration" -> marginCalibrationSql,
    "fair1_group_parity" -> groupParitySql,
    "bs1_poisson_bootstrap" -> poissonBootstrapSql,
    "exp3_diff_in_diff" -> diffInDiffSql,
    "ts6_stl_residuals" -> stlResidualsSql,
    "ts5_revenue_ewma" -> revenueEwmaSql,
    "imp1_ht_estimate" -> htEstimateSql,
    "conf1_langid_confusion" -> langIdConfusionSql,
    "iaa1_label_agreement" -> labelAgreementSql,
    "priv1_k_anonymity" -> kAnonymityAuditSql,
    "priv2_l_diversity" -> lDiversityAuditSql,
    "ts4_cusum_changepoint" -> cusumChangepointSql,
    "auc1_classifier_auc" -> classifierAucSql,
    "map1_retrieval_ap" -> labelRetrievalApSql(),
    "ev21_latest_per_key" -> latestPerKeySql,
    "rec1_order_reconcile" -> orderReconcileSql,
    "exp2_cuped" -> cupedReadoutSql(),
    "cc1_knn_components" -> knnComponentsSql,
    "kmv1_distinct_sketch" -> kmvDistinctSql(),
    "ts3_revenue_autocorr" -> revenueAutocorrSql(),
    "cooc1_skipgram_pairs" -> skipgramPairsSql(),
    "neg1_negative_sampling" -> negativeSamplingSql,
    "fld1_kfold_split" -> kfoldSplitSql,
    "gini1_revenue_concentration" -> revenueGiniSql,
    "bsk2_association_rules" -> associationRulesSql,
    "grow1_mom_growth" -> momGrowthSql,
    "top2_nation_top_parts" -> nationTopPartsSql(),
    "clv1_customer_deciles" -> customerDecilesSql,
    "src1_cross_source_overlap" -> crossSourceOverlapSql,
    "txt16_encoding_qa" -> encodingQaSql,
    "bsk1_copurchase_pairs" -> copurchasePairsSql,
    "exp1_ab_test" -> abTestReadoutSql,
    "ts2_daily_seasonality" -> dailySeasonalitySql,
    "stat3_grouped_moments" -> groupedMomentsSql,
    "ev20_session_conversion" -> sessionConversionSql,
    "qf2_gopher_rules" -> gopherRulesSql)
}
