package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table registry for the graft engine.
  *
  * Mirrors the reference's connection bootstrap
  * (swanlake-core/src/engine/factory.rs:34-93: per-connection init SQL,
  * thread-count override) as SparkSession configuration: AQE on, UTC,
  * shuffle partitions sized to cores rather than the 200 default —
  * at 100 TB on a real cluster the same builder takes cluster-sized
  * shuffle partitions from spark-submit conf instead.
  */
object Engine {

  /** All driver-provided test tables (see TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def newSession(appName: String = "graft", cores: Int = defaultCores,
                 extraConf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // sized for concurrent clients: 4 in-flight queries x cores/4
      // partitions saturate the pool without task-overhead thrash
      // (measured 5.9 vs 4.0 req/s against partitions=cores at sf0.1);
      // SURVEY §4.2 prescribes 4-16 at this scale. A cluster deployment
      // overrides via spark-submit conf.
      .config("spark.sql.shuffle.partitions", math.max(8, cores / 4).toString)
      // JVM-global whole-stage-codegen class cache (static conf, default
      // 100 entries). The registry generates ~8 classes per query — at
      // the default size the cache thrashes and every measured bench run
      // re-pays Janino compilation (~50-500 ms per class), which
      // inflated q2 from 0.55 s warm to 2.33 s in-bench and fed the p99
      // tail. Sized from the live registry (x10 classes/query headroom,
      // floor 4096) so registry growth can never silently reintroduce
      // the thrash; entries are bytecode + source text, well under the
      // 8g heap even at 10k entries.
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      // Tungsten execution memory OFF the Java heap (r18 A/B at the
      // driver's 80 GB heap shape): shuffle/agg/sort buffers are exactly
      // the short-lived bulk that was eating 19-32% of every full-bench
      // window in young-gen pauses; off-heap they cost the collector
      // nothing — full-bench GC share fell to 1.5-2.3%, the window rate
      // rose 12.7 -> 16-19 req/s, and the concurrent p99 fell
      // 3.0 s -> 0.44 s (the tail was GC landing on in-flight q21-size
      // requests; FAIR scheduling was ALREADY on and is not the mover
      // here). Also the standard cluster posture at 100 TB — executor
      // memoryOverhead sized for it. SPARK_GRAFT_OFFHEAP overrides the
      // size; "0"/"off" disables entirely (Spark rejects enabled=true
      // with size=0, so a small-RAM host needs the paired switch).
      // DEFAULT size is RAM-aware (ADVICE r18): a fixed 16g on a small
      // host could push heap + direct memory past physical RAM and get
      // the process OOM-killed — so the unset default is
      // clamp(25% of physical RAM, 1g..16g), and an EXPLICIT size is
      // honored verbatim (the operator asserted they have the room).
      .config("spark.memory.offHeap.enabled",
        (!Set("0", "off", "false").contains(
          sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "on").trim.toLowerCase)).toString)
      .config("spark.memory.offHeap.size", {
        val v = sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "").trim
        if (v.isEmpty || Set("on", "true").contains(v.toLowerCase)) defaultOffHeapSize
        else if (Set("0", "off", "false").contains(v.toLowerCase)) "1g" // ignored when disabled
        else v
      })
      // manifest-stats file pruning for micro-lake reads (graft.plans
      // .StatsPruneRule): conf-based so every newSession() clone — the
      // per-client gateway sessions — carries the rule
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalesce post-shuffle partitions to the advisory SIZE instead of
      // preserving parallelism: sub-second queries move kilobytes per
      // stage, and every extra task pays the ~2 ms local-mode launch
      // (measured -7% on the TPC-H floor queries). A cluster run keeps
      // the same setting — size-targeted coalescing is what AQE does
      // with healthy stats at any scale.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // the testdata dimensions (part/supplier/customer/orders at bench
      // SF) all fit the driver comfortably; broadcasting them removes
      // one shuffle per join. A 100 TB deployment overrides via
      // spark-submit (or relies on AQE's runtime size checks, which
      // demote a too-large build side regardless of this hint ceiling).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // file-listing stays DRIVER-SIDE up to 1024 paths: the default
      // threshold (32) launches a whole Spark job to stat a few dozen
      // local files, which put ~140 ms inside EVERY micro-lake snapshot
      // re-registration once a mutable table grew past 32 files (round-16
      // YCSB diagnosis). Local/posix stat of ≤1024 paths is microseconds;
      // the parallel job remains for genuinely huge object-store listings.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.session.timeZone", "UTC")
      // the testdata's naive parquet timestamps are UTC instants (the
      // DuckDB oracle reads them with epoch_us, which assumes UTC);
      // reading them as TIMESTAMP_NTZ would break every unix_micros()
      // call sited on events.ts
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // INT64 micros, not INT96: INT96 footers carry no usable min/max
      // (FileStats skips them — no pruning on timestamp columns) and
      // the DriverDml point-DML codec cannot read them; micros is the
      // parquet-standard layout the rest of the lake already assumes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Status-store retention (r17): with the UI off these stores only
      // feed the status APIs, yet at their defaults they retain 1000
      // SQL executions (full plan graphs + per-node metric maps) and
      // 1000 jobs/stages — on a long-lived server running thousands of
      // sub-second queries that is hundreds of MB of dead driver heap
      // and a steadily climbing post-GC live set (metered r17: +400 MB
      // per 40 s bench window before this). Keep enough for debugging,
      // not enough to matter to the collector.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.ui.enabled", "false")
      // local test files are single small parquet files; the default
      // 128 MB split gives the whole scan to ONE task. 16 MB splits fan
      // the scan across row groups without task-launch thrash (4 MB was
      // better under the old BigDecimal aggregation, re-measured after
      // the long-encoded exact sums). On a real cluster with 128-512 MB
      // files the default is correct — this knob scales with file size,
      // not a magic constant.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
      // concurrent clients share the pool fairly (the reference serves 4
      // BenchBase terminals from one server process)
      .config("spark.scheduler.mode", "FAIR")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** RAM-aware off-heap default: clamp(25% of physical RAM, 1g..16g).
    * 16g is the measured sweet spot on the 128 GiB bench host (r18 A/B);
    * 25% keeps heap + direct memory under physical RAM on smaller hosts
    * (the ADVICE r18 OOM-kill scenario). Falls back to 4g when the
    * platform bean cannot report physical memory.
    */
  private[graft] def defaultOffHeapSize: String = {
    val physMb =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getTotalMemorySize / (1024L * 1024L)
        case _ => -1L
      } catch { case _: Throwable => -1L }
    if (physMb <= 0) "4g"
    else s"${math.max(1024L, math.min(16384L, physMb / 4))}m"
  }

  /** Whole-stage-codegen class-cache size derived from the registry:
    * max(4096, queries x 10). A static conf — it binds when the FIRST
    * session of the JVM is created, so it must be computed here, not
    * tuned after the fact. (~222 queries x ~8 generated classes each
    * measured in round 13; x10 leaves headroom for plan variants.)
    */
  def codegenCacheEntries: Int = math.max(4096, SparkEntry.queries.size * 10)

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Read one test table as a DataFrame (plain parquet scan; Catalyst
    * pushes filters/projection into the scan).
    *
    * The parquet schema is cached per (dir, table) — the reference keeps
    * exactly this cache per session (SURVEY A5/A6); without it every
    * fresh query pays a footer read per referenced table, which at 4
    * concurrent clients is a measurable slice of sub-second queries.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; it is read as raw nanos (legacy nanosAsLong) and
    * truncated to a microsecond TimestampType column — the same ns->us
    * truncation DuckDB applies when casting TIMESTAMP_NS to TIMESTAMP.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
      val df = spark.read.schema(schema).parquet(path)
      // integer `div` — a double-typed division would lose precision on
      // ~1.7e18 nanosecond values (53-bit mantissa). Skipped when the
      // file already carries a TIMESTAMP ts (e.g. a re-ingested copy
      // written by this engine, where the conversion is materialized).
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else df
    } else {
      val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Register every test table as a temp view so `spark.sql` works
    * against bare names (the reference resolves bare names against the
    * session's current catalog, session/mod.rs:448-463).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { n => table(spark, dir, n).createOrReplaceTempView(n) }

  /** Execute SQL through the compat shim (multi-statement scripts, lock
    * stripping), returning the last statement's result — reference
    * semantics at sql/parser.rs:39-60.
    */
  def sql(spark: SparkSession, sqlText: String): DataFrame = {
    val statements = SqlShim.splitStatements(sqlText)
    require(statements.nonEmpty, "empty SQL script")
    statements.map { s =>
      // recompute-per-query semantics for the metadata views
      // (metadata.rs:26-34): DDL between statements must be visible
      if (InfoSchema.referencesInfoSchema(s)) InfoSchema.register(spark)
      SqlShim.parseCatalogCmd(s) match {
        case Some(cmd) => SqlShim.execCatalogCmd(spark, cmd); spark.emptyDataFrame
        case None =>
          spark.sql(InfoSchema.rewriteInfoSchema(SqlShim.rewritePragma(SqlShim.stripSelectLocks(s))))
      }
    }.last
  }
}
