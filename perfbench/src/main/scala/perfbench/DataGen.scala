package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generator for the ten tables the server's queries read, with
  * the column names, types and value domains of the repository's
  * parquet test data (TPC-H-like star schema plus `events`, `documents`
  * and `embeddings`). Every value is a hash of (row id, seed, column),
  * so one seed always gives the same tables, whatever the partitioning.
  * Row counts scale with `sf` like the test data's (sf 0.1 has 600 000
  * lineitem rows).
  *
  * The tables come from the fixed [[DataGen.seed]], not the run's seed:
  * they are generated once per build and reused (see [[DataGen.cached]]),
  * and the run's seed draws what is asked of them.
  */
final class DataGen(root: SparkSession, seed: Long, sf: Double) {
  // timestamps are written as INT64 microseconds (not Spark's INT96
  // default), the encoding of the test data, from a session of our own
  private val spark = root.newSession()
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  import spark.implicits._

  private def n(perSf1: Double): Long = math.max(1L, math.round(perSf1 * sf))

  private val span = 1L << 40

  /** Uniform double in [0, 1) from the row key and a per-column salt. */
  private def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((keys :+ lit(seed) :+ lit(salt)): _*), lit(span)).cast("double") / lit(span.toDouble)

  private def pick(salt: Int, values: Seq[String], keys: Column*): Column =
    element_at(typedLit(values), (floor(u(salt, keys: _*) * values.length) + 1).cast("int"))

  private def int(salt: Int, lo: Long, hi: Long, keys: Column*): Column =
    (floor(u(salt, keys: _*) * (hi - lo + 1)) + lo).cast("long")

  private def day(base: String, offset: Column): Column =
    date_add(to_date(lit(base)), offset.cast("int")).cast("timestamp")

  private val id = col("id")

  def tables: Seq[(String, DataFrame)] = {
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000); val nUsers = n(15000)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      int(1, 0, 24, id).cast("int").as("c_nationkey"),
      round(u(2, id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      int(11, 0, 24, id).cast("int").as("s_nationkey"),
      round(u(12, id) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val part = spark.range(nPart).select(
      id.as("p_partkey"),
      concat(pick(21, adjectives, id), lit(" "), pick(22, nouns, id)).as("p_name"),
      concat(lit("Brand#"), int(23, 1, 25, id)).as("p_brand"),
      pick(24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id).as("p_type"),
      int(25, 1, 50, id).cast("int").as("p_size"),
      (lit(900.0) + int(26, 0, 999, id) / 10.0).as("p_retailprice"))
    val orders = spark.range(nOrders).select(
      id.as("o_orderkey"),
      int(31, 0, nCust - 1, id).as("o_custkey"),
      pick(32, Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(lit(1000.0) + u(33, id) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", int(34, 0, 2404, id)).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority"))
    val line = col("l_linenumber")
    val ok = col("o_orderkey")
    val lineitem = orders.select(ok, col("o_orderdate"),
        explode(sequence(lit(1), int(41, 1, 7, ok).cast("int"))).as("l_linenumber"))
      .select(
        ok.as("l_orderkey"),
        int(42, 0, nPart - 1, ok, line).as("l_partkey"),
        int(43, 0, nSupp - 1, ok, line).as("l_suppkey"),
        line,
        int(44, 1, 50, ok, line).cast("double").as("l_quantity"),
        round(lit(900.0) + u(45, ok, line) * 104100.0, 2).as("l_extendedprice"),
        (int(46, 0, 10, ok, line) / 100.0).as("l_discount"),
        (int(47, 0, 8, ok, line) / 100.0).as("l_tax"),
        pick(48, Seq("A", "N", "R"), ok, line).as("l_returnflag"),
        pick(49, Seq("F", "O"), ok, line).as("l_linestatus"),
        (col("o_orderdate") + make_dt_interval(int(50, 1, 95, ok, line).cast("int"))).as("l_shipdate"))
    val events = spark.range(nEvents).select(
      id.as("event_id"),
      (to_timestamp(lit("2024-01-01 00:00:00")) +
        make_dt_interval(lit(0), lit(0), lit(0), (u(51, id) * 30 * 86400).cast("decimal(18,6)"))).as("ts"),
      int(52, 0, nUsers - 1, id).as("user_id"),
      pick(53, Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      round(pow(u(54, id), 2) * 560.21, 2).as("value"),
      concat(lit("{\"k\": "), int(55, 0, 99, id), lit("}")).as("props"))
    tables(region, nation, customer, supplier, part, orders, lineitem, events) ++
      Seq("documents" -> documents(n(50000)), "embeddings" -> embeddings(n(20000)))
  }

  private def tables(dfs: DataFrame*): Seq[(String, DataFrame)] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events").zip(dfs)

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Documents of 10 to 100 words over a 30-word vocabulary; about one
    * pair in twenty shares its text and carries a trailing "dup", the
    * exact duplicates the dedup operators look for.
    */
  private def documents(count: Long): DataFrame = {
    val pair = floor(id / 2)
    val dup = u(61, pair) < 0.05
    val textKey = when(dup, lit(-1L) - pair).otherwise(id)
    val words = expr(s"transform(sequence(1, words), j -> element_at(array(${vocab.map("'" + _ + "'").mkString(",")}), " +
      s"cast(pmod(xxhash64(tkey, j, ${seed}L, 62), ${vocab.length}) + 1 as int)))")
    spark.range(count)
      .select(id, textKey.as("tkey"), dup.as("dup"), int(63, 10, 100, textKey).cast("int").as("words"))
      .select(
        id.as("doc_id"),
        when(col("dup"), concat(array_join(words, " "), lit(" dup"))).otherwise(array_join(words, " ")).as("text"),
        pick(64, Seq("de", "en", "es", "fr", "zh"), id).as("lang"),
        concat(lit("src"), int(65, 0, 19, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-length 64-dimensional vectors around ten label centroids. */
  private def embeddings(count: Long): DataFrame = {
    val raw = expr(s"transform(sequence(1, 64), j -> " +
      s"(pmod(xxhash64(label, j, ${seed}L, 71), 1000000) / 1000000.0 - 0.5) + " +
      s"0.5 * (pmod(xxhash64(id, j, ${seed}L, 72), 1000000) / 1000000.0 - 0.5))")
    spark.range(count)
      .select(id, int(73, 0, 9, id).cast("int").as("label"))
      .select(id, col("label"), raw.as("raw"))
      .select(
        id.as("vec_id"),
        expr("transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (acc, y) -> acc + y * y)) as float))").as("embedding"),
        col("label"))
  }

  /** Write the named tables as `<dir>/<name>.parquet`, one file each,
    * several at a time.
    */
  def write(dir: String, names: Seq[String]): Unit = {
    val wanted = tables.filter { case (n, _) => names.contains(n) }
    require(wanted.size == names.size, s"unknown tables in $names")
    Workload.parallel(wanted.indices, 4) { i =>
      val (name, df) = wanted(i)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}

object DataGen {
  val seed = 42L

  /** The directory holding `tables` at `sf`, generating whatever of it
    * is missing under `cache`.
    */
  def cached(spark: SparkSession, cache: java.nio.file.Path, sf: Double, tables: Seq[String]): String = {
    val dir = cache.resolve(s"data-sf$sf")
    val missing = tables.filterNot(t => java.nio.file.Files.exists(dir.resolve(s"$t.parquet/_SUCCESS")))
    if (missing.nonEmpty) new DataGen(spark, seed, sf).write(dir.toString, missing)
    dir.toString
  }
}
