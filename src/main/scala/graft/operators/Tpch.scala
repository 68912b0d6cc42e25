package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TPC-H-class relational battery, adapted to the driver testdata schema
  * (TESTDATA.md: no partsupp; lineitem/orders carry a column subset; dates
  * span 1995-2001). The reference executes the full BenchBase TPC-H dialect
  * through DuckDB (tests/benchbase/tpch-flight-sql.xml:26); here every
  * operator family it exercises — multi-way joins, semi/anti joins,
  * correlated + scalar subqueries, multi-aggregate GROUP BY, HAVING,
  * CASE, LIKE, top-k — is expressed Spark-first (DataFrame API, Catalyst
  * does pushdown/pruning/join selection; AQE handles skew at scale).
  *
  * Determinism contract with the DuckDB oracle: every floating aggregate
  * is cast per-row to DECIMAL(18,6) and summed exactly (order-independent,
  * identical in both engines); every query has a total ORDER BY.
  *
  * Scale notes (100 TB): region/nation are tiny -> explicit broadcast.
  * supplier/part/customer scale with SF -> left to AQE + the broadcast
  * threshold so the same code broadcasts at bench scale and shuffles on a
  * cluster. Fact-fact joins (lineitem x orders) shuffle on the join key,
  * which is the partitioning a real deployment would bucket on.
  */
object Tpch {

  private val D18 = DecimalType(18, 6)
  private val D38 = DecimalType(38, 6)

  /** Bit-portable fractional aggregates (Exact.scala): exact micros sums
    * emitted as IEEE doubles via the identical operation sequence on both
    * engines, so values AND representation hash-match in the driver's
    * pandas compare (Spark DECIMAL(38,6) arrives as decimal.Decimal while
    * DuckDB DECIMAL comes back float64 — value-equal yet hash-red).
    */
  private def dsum(c: Column): Column = Exact.dsum(c)
  private def davg(c: Column): Column = Exact.davg(c)
  private def sqlDsum(e: String): String = Exact.sqlDsum(e)
  private def sqlDavg(e: String): String = Exact.sqlDavg(e)

  private def ts(d: String): Column = to_timestamp(lit(d))

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Engine.table(s, dir, n)

  // bounded-result ordering shared across the operator families
  import Par.BoundedOrder

  // === Q1: pricing summary — multi-aggregate GROUP BY ======================
  def q1(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderedSmall(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlDsum("l_quantity")} AS sum_qty,
       | ${sqlDsum("l_extendedprice")} AS sum_base_price,
       | ${sqlDsum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
       | ${sqlDsum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
       | ${sqlDavg("l_quantity")} AS avg_qty,
       | ${sqlDavg("l_extendedprice")} AS avg_price,
       | ${sqlDavg("l_discount")} AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // === Q3: shipping priority — 3-way join + top-k ==========================
  def q3(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-01-01"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast(DateType).as("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue,
       | CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // === Q4: order priority — EXISTS (left-semi join) ========================
  def q4(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    // implied bound pushed to the scan: o_orderdate >= 1996-01-01 means
    // the correlated condition can only hold for l_shipdate past
    // 1996-03-01, so the scan prunes those rows before the orderkey
    // shuffle (Catalyst cannot derive a cross-table implication itself)
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > ts("1996-03-01"))
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderedSmall(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      | AND EXISTS (SELECT 1 FROM lineitem
      |             WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // === Q5: local supplier volume — 6-way join ==============================
  def q5(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    val n = broadcast(t(s, dir, "nation"))
    val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
    // ASIA suppliers reduce lineitem BEFORE the fact-fact shuffle: the
    // region filter keeps ~1/5 of suppliers, so joining them (broadcast
    // at bench scale, AQE decides on a cluster) up front cuts the rows
    // shuffled on orderkey by ~80% — Catalyst has no stats to reorder
    // this itself. A/B at sf0.1: 0.56 -> 0.48 s warm min, same rows.
    // broadcast the REDUCED supplier dim explicitly: size estimation
    // through the nation/region join chain inflates past the auto
    // threshold and Catalyst instead broadcast LINEITEM as the build
    // side (observed r12: BroadcastExchange over the whole fact table —
    // fine at 60 MB bench scale, fatal at 100 TB, and ~100 ms of
    // per-execution driver hash-relation build here)
    val suAsia = broadcast(t(s, dir, "supplier")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name")))
    t(s, dir, "lineitem").join(suAsia, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"),
        col("c_custkey") === col("o_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderedSmall(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    s"""SELECT n_name, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
       | AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       | AND r_name = 'ASIA'
       | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // === Q6: forecast revenue — scan + filter + global agg ===================
  def q6(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  val q6Sql: String =
    s"""SELECT ${sqlDsum("l_extendedprice*l_discount")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       | AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // === Q7: volume shipping — nation-pair join with OR condition ============
  def q7(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") <= ts("1997-12-31"))
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n1 = broadcast(t(s, dir, "nation").select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation").select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
    su.join(l, col("s_suppkey") === col("l_suppkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderedSmall(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       | CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       | ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
       | AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       | AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       | AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1997-12-31'
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // === Q9: product profit — LIKE + 4-way join + year rollup ================
  def q9(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_name").like("%red%"))
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val n = broadcast(t(s, dir, "nation"))
    p.join(l, col("p_partkey") === col("l_partkey"))
      .join(su, col("s_suppkey") === col("l_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_profit"))
      .orderedSmall(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    s"""SELECT n_name AS nation, CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS o_year,
       | ${sqlDsum("l_extendedprice*(1-l_discount)")} AS sum_profit
       |FROM part, lineitem, supplier, nation
       |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND s_nationkey = n_nationkey
       | AND p_name LIKE '%red%'
       |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  // === Q10: returned items — top-k 20 over 4-way join ======================
  def q10(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-07-01") && col("o_orderdate") < ts("1996-10-01"))
    val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val n = broadcast(t(s, dir, "nation"))
    // the quarter-filtered orders (~4% selectivity) drive both joins:
    // lineitem probes the small order set, then the small joined result
    // probes customer — instead of shuffling customer x orders first
    // (A/B at sf0.1: 0.35 -> 0.23 s warm min, same rows)
    o.join(l, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"), col("c_mktsegment"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
       | ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey
       | AND l_returnflag = 'R'
       | AND o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
       |GROUP BY 1, 2, 3, 4, 5 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // === Q13: customer order distribution — outer join + nested group-by =====
  def q13(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
    // Aggregation pushed below the outer join: counting orders per
    // custkey BEFORE joining customer shuffles partially-aggregated
    // counts instead of raw order rows (map-side combine), and the join
    // then sees one row per customer. With AQE the aggregated side is
    // small enough to broadcast at runtime, eliminating the customer
    // shuffle entirely; at 100 TB stats push it back to a sort-merge
    // join — the same 3-exchange shape as the naive plan, minus the raw
    // orders shuffle.
    val cnts = o.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    c.select(col("c_custkey"))
      .join(cnts, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderedSmall(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // === Q14: promo effect — CASE WHEN ratio =================================
  def q14(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-09-01") && col("l_shipdate") < ts("1996-10-01"))
    val p = t(s, dir, "part")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(((lit(BigDecimal(100)) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)).cast(D18))) /
        sum(rev.cast(D18))).cast(D38).as("promo_revenue"))
  }

  val q14Sql: String =
    """SELECT CAST(100.00 * SUM(CAST(CASE WHEN p_type = 'PROMO'
      |            THEN l_extendedprice*(1-l_discount) ELSE 0.0 END AS DECIMAL(18,6)))
      |          / SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6))
      |       AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      | AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  // === Q15: top supplier — derived view + scalar MAX subquery ==============
  def q15(s: SparkSession, dir: String): DataFrame = {
    val revenue = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("m"))
    t(s, dir, "supplier")
      .join(revenue, col("s_suppkey") === col("supplier_no"))
      .join(broadcast(maxRev), col("total_revenue") === col("m"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderedSmall(col("s_suppkey"))
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |         ${sqlDsum("l_extendedprice*(1-l_discount)")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier, revenue
       |WHERE s_suppkey = supplier_no AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  // === Q16: supplier count — COUNT DISTINCT + NOT IN subquery ==============
  def q16(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").like("PROMO%") &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    // Anti join AFTER the part join: the part filter drops ~87% of
    // lineitem rows first, so the bad-supplier probe touches 75k rows
    // instead of 600k (Catalyst does not reorder anti joins itself —
    // A/B at sf0.1: 0.30 s before, 0.27 s after, same rows).
    val joined = p.join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
    // Two plans by scale — the set sizes are bounded by SUPPLIER
    // cardinality, which grows linearly with SF, so the small-scale
    // trick must not travel to the cluster:
    //  * small supplier table (bench scales): collect_set is
    //    ObjectHashAggregate with map-side set merging — ONE exchange
    //    instead of countDistinct's two (3.5x baseline measured) — and
    //    the ~215-row fixed group domain sorts in one task instead of
    //    paying a rangepartitioning stage. A/B at sf0.1 (warm, min of
    //    7): countDistinct+orderBy 0.47 s, collect_set+orderBy 0.34,
    //    this 0.267.
    //  * big supplier table (cluster scales): per-group suppkey sets
    //    reach millions of entries and the coalesce(1) merge would hold
    //    ALL of them in one task — countDistinct's two distributed
    //    exchanges are the plan that survives 100 TB.
    val smallSupplier = t(s, dir, "supplier")
      .queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20)
    // Ledger closing the floor hunt (warm rebuilds, sf0.1, min
    // of 8): this plan 0.40 s. (a) explicit repartition on the group
    // keys pre-aggregation: 0.43 s — a full-row exchange of the joined
    // 75k rows replaces the partial collect_set's 215-group set
    // exchange, strictly more bytes through the shuffle. (b) bad
    // suppliers collected to a pushed NOT-IN lineitem scan filter:
    // 0.58 s — the driver collect pays a job per build and the InSet
    // probe buys no row-group pruning over what the broadcast anti
    // hash probe already costs. (c) lineitem pre-aggregated to distinct
    // (l_partkey, l_suppkey) pairs BEFORE the part join (the shape
    // DuckDB effectively runs — but DuckDB runs it against PARTSUPP,
    // 80k rows, which this schema lacks): A/B'd round 14, med 0.845 s
    // vs 0.308 current — materializing partsupp from 600k lineitem rows
    // costs a full-table distinct exchange per execution, 2.7x worse.
    // (d) dedup on (brand,type,size,suppkey) AFTER the part join, then
    // plain count: 0.413 vs 0.308 — a second exchange replaces the
    // single ObjectHashAggregate, strictly worse. All recorded and
    // reverted; the residual vs the reference's 133 ms is Spark's
    // per-query floor (stage scheduling + codegen dispatch) on a
    // sub-200 ms query whose oracle-schema input is 7.5x the rowcount
    // DuckDB's partsupp-based plan reads.
    if (smallSupplier)
      joined.groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(size(collect_set(col("l_suppkey"))).cast("long").as("supplier_cnt"))
        .orderedSmall(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    else
      joined.groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      | AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // === Q17: small-quantity revenue — correlated scalar subquery ============
  // avg(l_quantity) per part is exact in both engines: quantities are whole
  // numbers, so the double sum is order-independent.
  def q17(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_brand") === "Brand#3")
    val thresholds = l.groupBy(col("l_partkey").as("t_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(thresholds, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .agg((sum(col("l_extendedprice").cast(D18)) / lit(7)).cast(D38).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))/7 AS DECIMAL(38,6)) AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      | AND l_quantity < (SELECT 0.2*AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  // === Q18: large-volume orders — IN (GROUP BY … HAVING) + top-k ===========
  def q18(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val big = l.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 120)
    // join the HAVING-filtered order set FIRST: it is tiny, so orders
    // probe it broadcast instead of shuffling customer x orders on
    // custkey before the selective filter applies (A/B at sf0.1:
    // 0.42 -> 0.35 s warm min, same rows). At scale AQE falls back to
    // the orderkey sort-merge join — the same exchanges as the old
    // plan, in a better order.
    t(s, dir, "orders").join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Sql: String =
    s"""SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       | o_totalprice, sum_qty
       |FROM customer, orders,
       | (SELECT l_orderkey, ${sqlDsum("l_quantity")} AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING ${sqlDsum("l_quantity")} > 120) big
       |WHERE c_custkey = o_custkey AND o_orderkey = big.l_orderkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // === Q19: bracketed revenue — OR-of-ANDs join predicates =================
  def q19(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) && col("l_quantity").between(5, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) && col("l_quantity").between(10, 40)))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  val q19Sql: String =
    s"""SELECT ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM lineitem, part
       |WHERE l_partkey = p_partkey AND (
       |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
       |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 5 AND 30)
       |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 10 AND 40))""".stripMargin

  // === Q21: waiting suppliers — EXISTS + NOT EXISTS (semi + anti join) =====
  // Adapted: "late" = shipped > 90 days after order date (testdata has no
  // commit/receipt dates).
  //
  // Single-scan formulation of the EXISTS/NOT-EXISTS pair: per
  // (order, supplier) count late rows, then per order count suppliers
  // and late suppliers. A late supplier "waits" iff the order has other
  // suppliers (EXISTS l2) and no OTHER supplier is late (NOT EXISTS l3)
  // ⇔ n_supp > 1 AND n_late_supp == 1; its numwait contribution is its
  // late-row count (COUNT(*) over qualifying l1 rows). One pass over
  // lineitem instead of the three of the naive semi+anti plan — at
  // 100 TB that is two fewer full-fact shuffles.
  def q21(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = t(s, dir, "lineitem")
    // ONE explicit orderkey partitioning feeds the (orderkey, suppkey)
    // aggregate, the per-order rollup AND the join-back — the q2 trick.
    // Without it Spark plans three exchanges; map-side combine buys
    // almost nothing here because (orderkey, suppkey) pairs are nearly
    // as numerous as lineitem rows, so shuffling the raw join output
    // once ships the same bytes and saves two exchanges (A/B at sf0.1:
    // 0.59 -> 0.41 s warm min, same rows; the same argument holds at
    // 100 TB).
    val perOrderSupp = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .repartition(Par.shuffleWidth(l), col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
        .otherwise(0L)).as("n_late_rows"))
    val perOrder = perOrderSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("n_late_rows") > 0, 1L).otherwise(0L)).as("n_late_supp"))
    val waiting = perOrderSupp
      .join(perOrder, "l_orderkey")
      .filter(col("n_late_rows") > 0 && col("n_supp") > 1 && col("n_late_supp") === 1)
    val su = t(s, dir, "supplier")
    val n = broadcast(t(s, dir, "nation"))
    waiting.join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("n_late_rows")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21Sql: String =
    """SELECT s_name, n_name, COUNT(*) AS numwait
      |FROM supplier, nation, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND s_nationkey = n_nationkey
      | AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      | AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      | AND EXISTS (SELECT 1 FROM lineitem l2
      |             WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      | AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                  AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY s_name, n_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  // === Q22: idle customers — anti join + exact-decimal scalar threshold ====
  def q22(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val thresh = c.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))) / count(lit(1))).cast(D38).as("avg_bal"))
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01")))
      .select(col("o_custkey"))
    c.join(broadcast(thresh))
      .filter(col("c_acctbal").cast(DecimalType(18, 2)) > col("avg_bal"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).cast(IntegerType).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderedSmall(col("cntrycode"))
  }

  val q22Sql: String =
    s"""SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, COUNT(*) AS numcust,
       | ${sqlDsum("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
       |   (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))/COUNT(*) AS DECIMAL(38,6))
       |    FROM customer WHERE c_acctbal > 0)
       | AND NOT EXISTS (SELECT 1 FROM orders
       |                 WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1 _,
    "q3_shipping_priority" -> q3 _,
    "q4_order_priority" -> q4 _,
    "q5_region_revenue" -> q5 _,
    "q6_forecast_revenue" -> q6 _,
    "q7_volume_shipping" -> q7 _,
    "q9_product_profit" -> q9 _,
    "q10_returned_items" -> q10 _,
    "q13_cust_distribution" -> q13 _,
    "q14_promo_effect" -> q14 _,
    "q15_top_supplier" -> q15 _,
    "q16_supplier_cnt" -> q16 _,
    "q17_small_qty_revenue" -> q17 _,
    "q18_large_orders" -> q18 _,
    "q19_bracket_revenue" -> q19 _,
    "q21_late_suppliers" -> q21 _,
    "q22_idle_customers" -> q22 _)

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Sql,
    "q3_shipping_priority" -> q3Sql,
    "q4_order_priority" -> q4Sql,
    "q5_region_revenue" -> q5Sql,
    "q6_forecast_revenue" -> q6Sql,
    "q7_volume_shipping" -> q7Sql,
    "q9_product_profit" -> q9Sql,
    "q10_returned_items" -> q10Sql,
    "q13_cust_distribution" -> q13Sql,
    "q14_promo_effect" -> q14Sql,
    "q15_top_supplier" -> q15Sql,
    "q16_supplier_cnt" -> q16Sql,
    "q17_small_qty_revenue" -> q17Sql,
    "q18_large_orders" -> q18Sql,
    "q19_bracket_revenue" -> q19Sql,
    "q21_late_suppliers" -> q21Sql,
    "q22_idle_customers" -> q22Sql)
}
