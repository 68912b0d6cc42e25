package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** One client session: an isolated `SparkSession.newSession()` plus the
  * stateful surfaces the reference keeps per session
  * (swanlake-core/src/session/mod.rs:134-145):
  *
  *  - a 128-entry LRU schema cache keyed by trimmed SQL, invalidated by
  *    DDL/DML statements (session/mod.rs:84-131, trigger list :423-433);
  *  - a prepared-statement registry: handle → (sql, cached schema, pending
  *    params, ephemeral flag), with close/take and the empty-handle →
  *    last-created fallback (session/mod.rs:465-609,
  *    service/handlers/prepared.rs:38-68);
  *  - transaction state (session/mod.rs:613-686): BEGIN/COMMIT/ROLLBACK
  *    tracked per session; commit/rollback without an active transaction
  *    is a tolerated no-op (transaction.rs:68-93). Catalog-backed
  *    sessions get CROSS-STATEMENT ATOMICITY over managed tables via
  *    per-session staged versions (SURVEY §7.4 — see the transactions
  *    section below); plain Spark writes remain non-transactional.
  *
  * `newSession()` gives temp-view + SQL-conf isolation over the shared
  * SparkContext — the same isolation shape as the reference's per-session
  * in-memory DuckDB over a shared DuckLake catalog (engine/factory.rs:72-93).
  */
final class Session(val id: String, val spark: SparkSession,
    val catalog: Option[graft.sources.MutableCatalog] = None) {

  @volatile private[graft] var lastAccessMillis: Long = System.currentTimeMillis()
  def touch(): Unit = lastAccessMillis = System.currentTimeMillis()

  // === schema cache (A5) ====================================================
  private val schemaCacheMax = 128
  private val schemaCache = new java.util.LinkedHashMap[String, StructType](140, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
      size() > schemaCacheMax
  }

  /** Expose the micro-lake's current snapshots in THIS session's view
    * namespace before planning against Spark SQL (newSession isolates
    * temp views; the catalog's views live on the root session).
    */
  private[graft] def ensureCatalogViews(): Unit = catalog.foreach(_.syncViews(spark, txn))

  /** Plan-only schema for a query (A4, engine/connection.rs:56-65), LRU
    * cached by trimmed SQL text.
    */
  def schemaForQuery(sql: String): StructType = {
    val key = sql.trim
    schemaCache.synchronized {
      val hit = schemaCache.get(key)
      if (hit != null) return hit
    }
    ensureCatalogViews()
    val schema = spark.sql(SqlShim.stripSelectLocks(key)).schema
    schemaCache.synchronized { schemaCache.put(key, schema) }
    schema
  }

  private[graft] def schemaCacheSize: Int = schemaCache.synchronized(schemaCache.size())

  /** The DDL/DML prefixes that invalidate the schema cache
    * (session/mod.rs:423-433).
    */
  private val invalidating =
    Set("CREATE", "DROP", "ALTER", "REPLACE", "INSERT", "UPDATE", "DELETE",
      "ATTACH", "DETACH", "USE", "SET")

  private def invalidatesSchemas(sql: String): Boolean =
    // by the comment-aware LEADING KEYWORD, same as statement routing
    // (review catch: a raw startsWith let "/* note */ ALTER TABLE ..."
    // execute without clearing the cache — stale schemas for every
    // later prepare); REPLACE (CREATE OR REPLACE's short form) added
    invalidating.contains(SqlShim.leadingKeyword(sql))

  /** The reference's update-count answer shape: DuckDB DML returns a
    * one-row changed-rows count (connection.rs execute → usize); Spark
    * v2 DML uses the same `num_affected_rows` column name.
    */
  private def affectedDf(n: Long): DataFrame =
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(n)),
      StructType(Seq(org.apache.spark.sql.types.StructField("num_affected_rows",
        org.apache.spark.sql.types.LongType))))

  /** Execute a statement/script through the shim; DDL/DML clears the
    * schema cache exactly as the reference's trigger list does.
    * DML against a catalog-managed mutable table routes through the
    * MutableCatalog (the reference serves the YCSB UPDATE/DELETE mix
    * through its engine the same way — session/mod.rs:285-340); other
    * statements go to Spark SQL.
    */
  def sql(sqlText: String): DataFrame = {
    touch()
    // Statements on ONE session execute serially (stmtLock): the
    // reference's session wraps one DuckDB connection, which is
    // inherently single-threaded — and without the lock two concurrent
    // requests pinned to the same session race the transaction state
    // (review catch: a COMMIT could publish-and-clear the txn while a
    // DML that already captured the same txn Option stages into the
    // dead CatalogTxn — acknowledged but never published). Distinct
    // sessions never share this lock, so gateway concurrency across
    // clients is untouched.
    stmtLock.synchronized {
    // aborted-transaction auto-recovery (transaction_recovery.rs:37-77):
    // a statement that errored inside an open transaction marks it
    // aborted; the NEXT statement detects that, rolls the transaction
    // back (discarding its staged writes) and runs in autocommit mode
    recoverIfAborted()
    val statements = SqlShim.splitStatements(sqlText)
    require(statements.nonEmpty, "empty SQL script")
    if (statements.exists(invalidatesSchemas)) {
      schemaCache.synchronized(schemaCache.clear())
      // cross-session invalidation for cached prepared PLANS: any
      // session's DDL/DML/SET must flip every session's plan-cache
      // fingerprint (over-invalidation is safe; a stale plan is not)
      Session.globalDdlEpoch.incrementAndGet()
    }
    statements.map { s =>
      val clean = SqlShim.rewritePragma(SqlShim.stripSelectLocks(s))
      // transaction-control statements route to the session's txn state
      // (the reference accepts them as plain SQL — transaction_recovery.rs
      // drives `client.update("BEGIN")`); Spark's parser would reject
      // them, and an unrouted variant parse-erroring INSIDE a txn would
      // poison it and silently roll back staged writes — so routing is
      // by the comment-aware LEADING KEYWORD, catching the WORK /
      // TRANSACTION / commented forms too
      SqlShim.leadingKeyword(clean) match {
        case "BEGIN" | "START" =>
          begin(); affectedDf(0)
        case "COMMIT" | "END" =>
          commit(); affectedDf(0)
        case "ROLLBACK" | "ABORT" =>
          rollback(); affectedDf(0)
        // ATTACH/DETACH are engine surface (session/mod.rs:448-463,
        // ducklake_basic.test) — Spark's parser would reject them, and a
        // gateway/CLI client must get catalog registration, not a parse
        // error. USE passes through: Spark's USE IS the current-catalog
        // switch. Unparseable ATTACH text falls to Spark for its error.
        case "ATTACH" | "DETACH" => abortTxnOnError {
          SqlShim.parseCatalogCmd(clean) match {
            case Some(cmd) => SqlShim.execCatalogCmd(spark, cmd); affectedDf(0)
            case None      => spark.sql(clean)
          }
        }
        case _ => abortTxnOnError {
          catalog.flatMap(_.route(clean, txn)) match {
            case Some(n) => affectedDf(n)
            case None =>
              // metadata views recompute per query (metadata.rs:26-34)
              if (InfoSchema.referencesInfoSchema(s)) InfoSchema.register(spark)
              ensureCatalogViews()
              spark.sql(InfoSchema.rewriteInfoSchema(clean))
          }
        }
      }
    }.last
    } // stmtLock
  }

  // === prepared statements (A12/A21) =======================================
  import Session.PointRead

  /** One cached prepared plan: the ANALYZED logical plan (parse +
    * catalog resolution amortized; the optimizer still runs per
    * execution so current_timestamp()/current_date() re-fold — see
    * [[org.apache.spark.sql.graft.PreparedPlans]]), valid only while
    * the fingerprint (global DDL epoch, catalog snapshot clock) and
    * the bound parameter values are unchanged. Parameters are BOUND
    * INTO the plan (they were literals at analysis), so a changed
    * value re-plans — the price of letting the optimizer constant-fold
    * and push the literals into parquet scans, which a value-agnostic
    * plan template could never do. `keepAqe` is fixed when the entry is
    * built, from the plan's shape (`PreparedPlans.pinnable`).
    */
  final case class CachedPlan(
      fingerprint: (Long, Long),
      params: Seq[Any],
      analyzed: LogicalPlan,
      keepAqe: Boolean)

  final case class Prepared(
      handle: String,
      sql: String,
      schema: Option[StructType],
      ephemeral: Boolean,
      paramCount: Int,
      paramSchema: StructType = new StructType(),
      var pendingParams: Option[Seq[Any]] = None,
      pointRead: Option[PointRead] = None) {
    // written only under stmtLock (runPrepared); volatile so close /
    // diagnostics on other threads read a settled reference
    @volatile private[graft] var plan: Option[CachedPlan] = None
  }

  private val prepared = mutable.LinkedHashMap.empty[String, Prepared]
  private val handleCounter = new AtomicLong()
  @volatile private var lastHandle: Option[String] = None

  def createPrepared(sqlText: String, ephemeral: Boolean = false): Prepared = {
    touch()
    val clean = SqlShim.stripSelectLocks(sqlText.trim)
    val handle = s"$id-stmt-${handleCounter.incrementAndGet()}"
    // counted by the scanner that binds them, so count and binding agree
    val paramCount = SqlParams.count(clean)
    val schema =
      if (paramCount == 0 && SqlShim.statementCount(clean) == 1 && SqlShim.isQuery(clean))
        scala.util.Try(schemaForQuery(clean)).toOption
      else None
    // a statement with placeholders is parsed once; the typed parameter
    // schema (A12, parser.rs:103-221) and the key-read shape both come
    // from that tree. Text Spark cannot parse (a script) gets untyped
    // parameters and no shape.
    val parsed =
      if (paramCount == 0) None
      else scala.util.Try(spark.sessionState.sqlParser.parsePlan(clean)).toOption
    val paramSchema =
      if (paramCount == 0) new StructType()
      else parsed.map(ParamInference.inferParameterSchema(spark, _))
        .getOrElse(ParamInference.untyped(paramCount))
    val p = Prepared(handle, clean, schema, ephemeral, paramCount, paramSchema,
      pointRead = parsed.flatMap(Session.keyRead))
    prepared.synchronized {
      prepared(handle) = p
      lastHandle = Some(handle)
      // bounded registry (review catch: a prepare-per-statement client
      // that never calls /close grew this map without limit for the
      // session's lifetime). 1024 live handles is far past any driver's
      // statement pool; beyond it the OLDEST statement evicts — its
      // later execution fails with unknown-handle, the same contract as
      // an explicit close.
      while (prepared.size > maxPreparedPerSession) prepared.remove(prepared.head._1)
    }
    p
  }

  private val maxPreparedPerSession = 1024

  /** Resolve a handle; an empty handle falls back to the last-created
    * statement (prepared.rs:44-60).
    */
  def getPrepared(handle: String): Option[Prepared] = prepared.synchronized {
    if (handle.isEmpty) lastHandle.flatMap(prepared.get) else prepared.get(handle)
  }

  def bindParams(handle: String, params: Seq[Any]): Unit = prepared.synchronized {
    getPrepared(handle).foreach(_.pendingParams = Some(params))
  }

  /** Bind + execute as ONE step — for callers whose protocol carries the
    * params in the execute request itself (the HTTP gateway's /exec).
    * The two-step bind-then-execute surface matches Flight SQL's RPC
    * sequence, but two threads sharing a handle could cross their binds
    * between the calls; this overload closes that window by handing the
    * params straight to the execution, never through pendingParams.
    */
  def executePrepared(handle: String, params: Seq[Any]): DataFrame = {
    touch()
    recoverIfAborted()
    val p = getPrepared(handle).getOrElse(
      throw new NoSuchElementException(s"unknown prepared statement handle: $handle"))
    runPrepared(p, params)
  }

  /** Execute a prepared statement with its pending positional params (A2
    * — the reference binds Values into the engine, connection.rs:279-295;
    * missing params bind NULL :286-292) and eagerly close ephemerals
    * (execute.rs:64-73). Single statements bind through Spark's native
    * parameterized-SQL path (no literal re-parsing); multi-statement
    * scripts fall back to escaped-literal substitution.
    */
  def executePrepared(handle: String): DataFrame = {
    touch()
    recoverIfAborted()
    val p = getPrepared(handle).getOrElse(
      throw new NoSuchElementException(s"unknown prepared statement handle: $handle"))
    val params = prepared.synchronized { val ps = p.pendingParams; p.pendingParams = None; ps }
      .getOrElse(Seq.empty)
    runPrepared(p, params)
  }

  // === prepared key reads ==================================================
  // The YCSB/OLTP hot shape through the gateway is a prepared key SELECT
  // (`k = ?`, `k IN (?, …)`, `k BETWEEN ? AND ? [ORDER BY k]`) against a
  // managed table. Its shape is read once, from the statement's parse at
  // prepare time (Session.keyRead), so every spelling Spark parses to the
  // same tree takes the same path. Each execution is answered on the
  // driver with no Spark job, no parquet scan to plan and no codegen
  // (the reference likewise re-binds
  // values into a plan it already has and reads in process,
  // prepared.rs:344-372): manifest stats prune the candidate files of
  // the snapshot (the transaction's staged one inside a transaction),
  // the micro-lake's row cache holds their decoded rows, Catalyst's
  // interpreted eval applies the bound key predicate
  // (MutableTable.readMatching), and the matches are ordered and
  // projected into a driver-local `PointRead` answer. Measured on 4
  // vCPUs of a shared VM over a 1000-row table: in process, a read and
  // its Arrow encoding take ~4 ms p50, of which the cached-row filter is
  // under 0.1 ms; a cache miss adds one parquet-mr decode, 15-21 ms for
  // that file. Anything the driver cannot answer exactly declines, by a
  // counted reason (ServeCounters), to the fully planned path.

  private def pointReadFast(p: Prepared, values: Seq[Any]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, GreaterThanOrEqual, In, LessThanOrEqual}
    val pr = p.pointRead.getOrElse(return None)
    def decline(reason: String): Option[DataFrame] = { ServeCounters.decline(reason); None }
    if (values.exists(_ == null)) return decline("null_param")
    val t = catalog.flatMap(_.get(pr.table)).getOrElse(return decline("unmanaged_table"))
    val keyField = t.schema.fields
      .find(_.name.equalsIgnoreCase(pr.keyCol)).getOrElse(return decline("shape"))
    val lits = values.map(v => keyLiteral(v, keyField.dataType).getOrElse(return decline("param_type")))
    // the projection must name distinct table columns, else the planned
    // path raises the proper analysis error
    val outCols = pr.projection.map(_.map(c =>
      t.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(return decline("shape"))))
      .getOrElse(t.schema.fieldNames.toSeq)
    if (outCols.distinct.size != outCols.size) return decline("shape")
    // read-your-writes inside a transaction: the session's staged
    // snapshot of the table, as syncViews resolves it
    val version = txn.flatMap(_.stagedVersion(pr.table)).getOrElse(t.currentVersion)
    val key = AttributeReference(keyField.name, keyField.dataType, nullable = true)()
    val cond =
      if (pr.range) And(GreaterThanOrEqual(key, lits(0)), LessThanOrEqual(key, lits(1)))
      else if (pr.inList > 0) In(key, lits)
      else EqualTo(key, lits.head)
    t.readMatching(version, cond) match {
      case Left(reason) => decline(reason)
      case Right(rows) =>
        ServeCounters.pointReadHits.incrementAndGet()
        Some(org.apache.spark.sql.graft.PointRead.answer(
          spark, t.schema, rows, t.schema.fieldIndex(keyField.name), pr.sortDesc, outCols))
    }
  }

  /** A parameter as a literal of the key's type: exactly, or by the
    * numeric up-cast the analyzer's coercion applies to that pair. None
    * for anything else (a string for a number, a narrowing, a decimal
    * that needs rounding) — the planned path then binds it.
    */
  private def keyLiteral(v: Any, dt: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.NumericType
    val l = try Literal(v) catch { case scala.util.control.NonFatal(_) => return None }
    if (l.dataType == dt) Some(l)
    else if (l.dataType.isInstanceOf[NumericType] && dt.isInstanceOf[NumericType] &&
        Cast.canUpCast(l.dataType, dt)) Some(Literal(Cast(l, dt).eval(), dt))
    else None
  }

  // stmtLock: prepared executions serialize with sql()/begin()/commit()
  // on the same session exactly like plain statements do — without it a
  // concurrent COMMIT could publish-and-clear the txn while this
  // execution's captured `txn` Option stages DML into the dead
  // CatalogTxn (acknowledged but never published). The monitor is
  // reentrant, so the native-path fallback through sql() below is safe.
  private def runPrepared(p: Prepared, params: Seq[Any]): DataFrame = stmtLock.synchronized {
    val n = p.paramCount
    val padded = params.padTo(n, null)
    val expectedParams = p.pointRead.map(_.paramCount).getOrElse(1)
    // abortTxnOnError: a fast-path failure (e.g. file vanished under a
    // vacuum race) must poison an open txn exactly like the planned path.
    // take(n): the native binder consumes exactly the placeholder count
    // and IGNORES extra params — handing a longer list to the fast path
    // instead changed semantics (review r16: 'k = ?' with two params was
    // read as a BETWEEN's two literals; equality silently became a range
    // read)
    val fast =
      if (n == expectedParams && p.pointRead.isDefined)
        abortTxnOnError(pointReadFast(p, padded.take(n)))
      else None
    fast.foreach { df => if (p.ephemeral) closePrepared(p.handle); return df }
    val single = SqlShim.statementCount(p.sql) == 1
    // generic prepared QUERY: serve from the handle's cached analyzed
    // plan when valid (the r19 gap: only the bench pinned re-executions;
    // the served path re-ran parse+analyze+optimize+AQE per execute).
    // Plain queries only — SHOW/DESCRIBE/EXPLAIN/PRAGMA are isQuery but
    // ride the shim path (PRAGMA rewrite, per-query metadata recompute)
    if (single && cacheableVerbs.contains(SqlShim.leadingKeyword(p.sql)))
      cachedQuery(p, padded.take(n)).foreach { df =>
        if (p.ephemeral) closePrepared(p.handle)
        return df
      }
    val out =
      if (n > 0 && single) abortTxnOnError {
        // catalog-managed DML binds literals engine-side and routes
        // (connection.rs:279-295 Value binding); everything else uses
        // Spark's native parameterized-SQL path
        catalog.flatMap(_.route(SqlParams.bind(p.sql, padded), txn)) match {
          case Some(count) => affectedDf(count)
          case None =>
            ensureCatalogViews()
            spark.sql(p.sql, padded.toArray)
        }
      }
      else sql(SqlParams.bind(p.sql, padded))
    // a prepared DML/DDL invalidates cached schemas and plans exactly
    // like the sql() path's trigger list (session/mod.rs:423-433) — the
    // n>0 single-statement branch above bypasses sql(), so a prepared
    // INSERT/UPDATE/DELETE otherwise left stale schema AND plan caches
    if (invalidatesSchemas(p.sql)) {
      schemaCache.synchronized(schemaCache.clear())
      Session.globalDdlEpoch.incrementAndGet()
    }
    if (p.ephemeral) closePrepared(p.handle)
    out
  }

  // === prepared-plan cache (A21, prepared.rs:344-372) =======================
  // Serve a prepared single-statement query from its handle's cached
  // ANALYZED plan: parse + catalog resolution are amortized across
  // executions; the optimizer and physical planning re-run per execution
  // (fresh stages, query-time functions re-fold), with adaptive
  // execution pinned off per plan, decided once at the cache miss.
  private[graft] val planCacheHits = new AtomicLong()
  private[graft] val planCacheMisses = new AtomicLong()
  private val cacheableVerbs = Set("SELECT", "WITH", "VALUES", "TABLE", "FROM")

  /** Cache fingerprint: any engine-wide DDL/DML/SET (global epoch) or
    * any published micro-lake snapshot (catalog clock) invalidates.
    */
  private def planFingerprint: (Long, Long) =
    (Session.globalDdlEpoch.get(), catalog.map(_.snapshotClock).getOrElse(0L))

  /** None = not servable from the cache path (caller falls through to
    * the generic path). Some(df) on both hit AND miss — the miss runs
    * the generic execution and then populates the cache from its plans.
    */
  private def cachedQuery(p: Prepared, bound: Seq[Any]): Option[DataFrame] = {
    import org.apache.spark.sql.graft.PreparedPlans
    // bypass: read-your-writes inside a txn with staged DML resolves
    // views to the session's STAGED snapshots — fingerprints track only
    // published state; and information_schema views recompute per query
    // (metadata.rs:26-34), so their plans must never be frozen
    if (txn.exists(_.stagedTables.nonEmpty)) return None
    if (InfoSchema.referencesInfoSchema(p.sql)) return None
    val fp = planFingerprint
    p.plan match {
      case Some(cp) if cp.fingerprint == fp && cp.params == bound =>
        planCacheHits.incrementAndGet()
        ServeCounters.planCacheHits.incrementAndGet()
        Some(abortTxnOnError {
          ensureCatalogViews() // steady-state: one version compare per table
          PreparedPlans.reexec(spark, cp.analyzed, cp.keepAqe)
        })
      case _ =>
        planCacheMisses.incrementAndGet()
        ServeCounters.planCacheMisses.incrementAndGet()
        val df = abortTxnOnError {
          ensureCatalogViews()
          if (bound.nonEmpty) spark.sql(p.sql, bound.toArray) else spark.sql(p.sql)
        }
        // populate the cache from the executed plans (analysis +
        // optimization run here; the caller's collect reuses the same
        // memoized QueryExecution, so nothing is planned twice). A
        // params vector holding arrays (binary) never compares equal —
        // it just re-plans, which is slower, never wrong.
        try PreparedPlans.planToCache(df).foreach { case (analyzed, keepAqe) =>
          p.plan = Some(CachedPlan(fp, bound, analyzed, keepAqe))
        } catch { case scala.util.control.NonFatal(_) => () } // caching must never fail the query
        Some(df)
    }
  }

  def closePrepared(handle: String): Unit = prepared.synchronized {
    prepared.remove(handle)
    if (lastHandle.contains(handle)) lastHandle = prepared.keys.lastOption
  }

  private[graft] def preparedCount: Int = prepared.synchronized(prepared.size)

  // === transactions (A22) ==================================================
  // Cross-statement atomicity over the micro-lake (SURVEY §7.4,
  // session/mod.rs:613-686): BEGIN opens a per-session CatalogTxn; every
  // routed DML inside it stages unpublished table versions (invisible to
  // other sessions, read-your-writes in this one via the view override in
  // syncViews); COMMIT publishes each staged table with one atomic
  // pointer swap; ROLLBACK discards the staged state entirely. The
  // lenient tolerances stand (transaction.rs:68-93): COMMIT/ROLLBACK
  // without an active transaction are no-ops, BEGIN inside a transaction
  // keeps the open one. Without a catalog, only the flag is tracked —
  // plain Spark writes are not transactional.
  @volatile private var txnActive: Boolean = false
  @volatile private var txnAborted: Boolean = false
  @volatile private[graft] var txn: Option[graft.sources.CatalogTxn] = None
  def inTransaction: Boolean = txnActive
  // unique per-BEGIN token, handed to Flight clients as the transaction
  // id and validated on endTransaction — a stale id must not
  // commit/roll back a DIFFERENT transaction (review catch)
  @volatile private var txnToken: Option[String] = None
  def currentTxnToken: Option[String] = txnToken
  // serializes statement execution and transaction transitions on this
  // session (one session = one connection, the reference's model); lock
  // order is stmtLock -> catalog monitor -> table monitors, and nothing
  // takes them in reverse
  private val stmtLock = new Object

  /** An error inside an open transaction poisons it (DuckDB's aborted
    * state, which the reference surfaces and then auto-recovers from —
    * transaction_recovery.rs): the failed statement's staged writes are
    * unusable, so the next statement rolls everything back and proceeds
    * in autocommit mode.
    */
  private def abortTxnOnError[T](f: => T): T =
    try f
    catch { case e: Throwable => if (txnActive) txnAborted = true; throw e }

  private def recoverIfAborted(): Unit =
    if (txnActive && txnAborted) rollback()

  def begin(): Unit = stmtLock.synchronized {
    touch()
    // a BEGIN against an aborted transaction first discards it, so the
    // client's new transaction actually opens (without this, the second
    // BEGIN was swallowed and its writes ran autocommit — surviving the
    // client's closing ROLLBACK)
    recoverIfAborted()
    if (!txnActive) {
      txnActive = true; txnAborted = false
      txn = catalog.map(_.beginTxn())
      txnToken = Some(s"$id-txn-${handleCounter.incrementAndGet()}")
    }
  }

  def commit(): Unit = stmtLock.synchronized {
    touch()
    // committing an ABORTED transaction discards it instead (the staged
    // chain includes no failed statement, but the reference's contract
    // is that an aborted txn cannot commit)
    if (txnAborted) { rollback(); return }
    // leave the transaction even if commitTxn throws: a CONFLICT has
    // already discarded the staged chain, and a crash after the commit
    // record became durable rolls FORWARD via recoverPendingCommits —
    // either way the session must not be stuck txnActive retrying
    try txn.foreach(x => catalog.foreach(_.commitTxn(x)))
    finally { txn = None; txnActive = false; txnToken = None }
  }

  def rollback(): Unit = stmtLock.synchronized {
    touch()
    // leave the transaction even if rollbackTxn throws (r19 review —
    // commit() already had this): a failed staged-manifest cleanup must
    // not strand the session txnActive, where the NEXT statement would
    // stage into a transaction nobody can ever end (staged files leak
    // to the vacuum sweep instead, the lesser evil)
    try txn.foreach(x => catalog.foreach(_.rollbackTxn(x)))
    finally { txn = None; txnActive = false; txnAborted = false; txnToken = None }
  }
}

object Session {
  /** Engine-wide DDL epoch: bumped by EVERY session's invalidating
    * statements (the schema-cache trigger list — CREATE/DROP/ALTER/
    * INSERT/UPDATE/DELETE/ATTACH/DETACH/USE/SET), read into every
    * cached prepared plan's fingerprint. One atomic read per execution,
    * one increment per DDL; a SET on one session over-invalidates
    * others' plans, which is safe and rare.
    */
  private[graft] val globalDdlEpoch = new AtomicLong()

  /** A prepared key read's shape, answered by `pointReadFast`: the key
    * column, the projected columns (None = `*`), and which filter binds
    * the placeholders — `k = ?`, `k IN (?, …)` (`inList` placeholders)
    * or `k BETWEEN ? AND ?` (range = true). `sortDesc` is the direction
    * of an ORDER BY on the key, None when unsorted.
    */
  final case class PointRead(table: String, keyCol: String,
      projection: Option[Seq[String]], range: Boolean = false,
      sortDesc: Option[Boolean] = None, inList: Int = 0) {
    /** Placeholders the shape binds per execution. */
    def paramCount: Int = if (range) 2 else if (inList > 0) inList else 1
  }

  /** The key-read shape of a parsed statement: a projection of columns
    * or `*` (optionally under an ORDER BY of the key) over a filter on
    * one single-name relation, optionally aliased, where the filter is
    * `k = ?`, `? = k`, `k IN (?, …)` or `k BETWEEN ? AND ?`. Columns
    * match by name parts, bare or qualified by the table (its alias when
    * aliased). Anything else — LIMIT, DISTINCT, another sort, a computed
    * bound, NOT, OR — is None and takes the planned path. Whether the
    * relation is a managed table is decided per execution.
    */
  private[graft] def keyRead(plan: LogicalPlan): Option[PointRead] = {
    import org.apache.spark.sql.catalyst.analysis.{PosParameter, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Descending, EqualTo, Expression, In}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Sort, SubqueryAlias}
    val (order, body) = plan match {
      case s: Sort if s.global => (Some(s.order), s.child)
      case other => (None, other)
    }
    val (project, cond, table, qualifier) = body match {
      case Project(list, Filter(c, r: UnresolvedRelation)) =>
        (list, c, r.multipartIdentifier, r.multipartIdentifier)
      case Project(list, Filter(c, SubqueryAlias(alias, r: UnresolvedRelation))) =>
        (list, c, r.multipartIdentifier, alias.qualifier :+ alias.name)
      case _ => return None
    }
    if (table.size != 1) return None
    def column(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute =>
        val q = a.nameParts.init
        if (q.isEmpty || q.map(_.toLowerCase) == qualifier.map(_.toLowerCase)) Some(a.nameParts.last)
        else None
      case _ => None
    }
    val projection = project match {
      case Seq(UnresolvedStar(None)) => None
      case cols => Some(cols.map(c => column(c).getOrElse(return None)))
    }
    val shape = cond match {
      case EqualTo(k, _: PosParameter) => column(k).map(PointRead(table.head, _, projection))
      case EqualTo(_: PosParameter, k) => column(k).map(PointRead(table.head, _, projection))
      case In(k, ps) if ps.nonEmpty && ps.forall(_.isInstanceOf[PosParameter]) =>
        column(k).map(PointRead(table.head, _, projection, inList = ps.size))
      case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) == Seq("between") &&
          !f.isDistinct && f.filter.isEmpty =>
        f.arguments match {
          case Seq(k, _: PosParameter, _: PosParameter) =>
            column(k).map(PointRead(table.head, _, projection, range = true))
          case _ => None
        }
      case _ => None
    }
    // matched keys are never NULL, so NULLS FIRST/LAST cannot matter
    order match {
      case None => shape
      case Some(Seq(o)) => shape.filter(pr => column(o.child).exists(_.equalsIgnoreCase(pr.keyCol)))
        .map(_.copy(sortDesc = Some(o.direction == Descending)))
      case Some(_) => None
    }
  }
}

/** Positional parameters: the one scanner that finds the top-level `?`
  * placeholders — outside '…', "…" and `…` quotes and -- and /* */
  * comments — for both the prepare-time count and the binding. Binding
  * replaces each placeholder with an escaped SQL literal; missing
  * parameters bind NULL, matching `push_params`
  * (engine/connection.rs:286-292).
  */
object SqlParams {

  /** Placeholder count (engine prepare's parameter_count,
    * connection.rs:104-106).
    */
  def count(sql: String): Int = placeholders(sql).size

  def bind(sql: String, params: Seq[Any]): String = {
    val out = new java.lang.StringBuilder(sql.length + 32)
    var from = 0
    placeholders(sql).zipWithIndex.foreach { case (at, k) =>
      out.append(sql, from, at).append(literal(if (k < params.length) params(k) else null))
      from = at + 1
    }
    out.append(sql, from, sql.length).toString
  }

  private def placeholders(sql: String): IndexedSeq[Int] = {
    val at = IndexedSeq.newBuilder[Int]
    var i = 0
    var state = 0 // 0 bare, 1 '…', 2 "…", 3 `…`, 4 --, 5 /*
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      state match {
        case 0 =>
          c match {
            case '\'' => state = 1
            case '"'  => state = 2
            case '`'  => state = 3
            case '-' if i + 1 < n && sql.charAt(i + 1) == '-' => state = 4; i += 1
            case '/' if i + 1 < n && sql.charAt(i + 1) == '*' => state = 5; i += 1
            case '?'  => at += i
            case _ =>
          }
        // Spark's default parser treats backslash as an escape inside
        // literals: skip the escaped char so \' does not close the string
        // ('' doubling needs no case: it closes and reopens)
        case 1 => if (c == '\\') i += 1 else if (c == '\'') state = 0
        case 2 => if (c == '\\') i += 1 else if (c == '"') state = 0
        case 3 => if (c == '`') state = 0
        case 4 => if (c == '\n') state = 0
        case _ => if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') { state = 0; i += 1 }
      }
      i += 1
    }
    at.result()
  }

  /** SQL literal for a parameter value, single-quote-escaped. Covers the
    * value kinds the reference's param path binds (types.rs:184-350).
    */
  def literal(v: Any): String = v match {
    case null                     => "NULL"
    case None                     => "NULL"
    case Some(x)                  => literal(x)
    // backslashes FIRST, then quotes: Spark's default parser gives
    // backslash escape semantics inside literals, so an unescaped
    // trailing \ (or embedded \') would break out of the literal —
    // the classic injection vector (ADVICE r2, high)
    case s: String                => "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    case b: Boolean               => if (b) "TRUE" else "FALSE"
    case b: Array[Byte]           => "X'" + b.map("%02X".format(_)).mkString + "'"
    case t: java.sql.Timestamp    => s"TIMESTAMP '${t.toString}'"
    case d: java.sql.Date         => s"DATE '${d.toString}'"
    case d: java.time.LocalDate   => s"DATE '${d.toString}'"
    case t: java.time.Instant     => s"TIMESTAMP '${java.sql.Timestamp.from(t)}'"
    case d: BigDecimal            => d.toString
    case d: java.math.BigDecimal  => d.toString
    case d: java.time.Duration    => s"INTERVAL '${d.getSeconds}' SECOND" // day-time interval (types.rs:292-326)
    case p: java.time.Period      => s"INTERVAL '${p.toTotalMonths}' MONTH" // year-month interval
    // NaN and the infinities have no numeric literal: a bare `NaN` parses
    // as a column name
    case d: Double if d.isNaN || d.isInfinite => s"CAST('$d' AS DOUBLE)"
    case f: Float if f.isNaN || f.isInfinite  => s"CAST('$f' AS FLOAT)"
    case x @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => x.toString
    case other => throw new IllegalArgumentException(
      s"unsupported parameter type: ${other.getClass.getName}") // types.rs:349 UnsupportedParameter
  }
}
