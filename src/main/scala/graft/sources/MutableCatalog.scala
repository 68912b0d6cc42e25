package graft.sources

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** SQL front for mutable tables: routes the DML the reference accepts
  * over Flight SQL — `INSERT`, `UPDATE … SET … WHERE`, `DELETE FROM …
  * WHERE` (exercised by scenarios/prepared_statements.rs:47-238 and the
  * YCSB workload mix, tests/benchbase/ycsb-flight-sql.xml:24) — onto the
  * merge-on-read [[MutableTable]] layer, since Spark SQL itself cannot
  * mutate parquet v1 tables (SURVEY §7.4).
  *
  * Every managed table is also registered as a temp view of its current
  * snapshot, so reads are plain Spark SQL; the view refreshes on each
  * publish of the table (snapshot isolation: a running query keeps
  * scanning the file list it planned against).
  */
final class MutableCatalog(spark: SparkSession, root: Path) {

  // concurrent server sessions share ONE catalog: reads (get/route/
  // syncViews) race creates/drops from other peers, so the registry is
  // a lock-free concurrent map — per-table mutation ordering is already
  // serialized inside MutableTable
  private val tables = scala.collection.concurrent.TrieMap.empty[String, MutableTable]

  def create(name: String, schema: StructType, primaryKey: Option[String] = None,
      txn: Option[CatalogTxn] = None): MutableTable = {
    val t = MutableTable.create(spark, root.resolve(name).toString, schema, primaryKey)
    register(name, t)
    // DDL is immediately visible (the reference's DuckDB behaves the same
    // for cross-connection catalog changes); the txn records the creation
    // so ROLLBACK can drop it
    txn.foreach(_.created += name)
    t
  }

  def get(name: String): Option[MutableTable] = tables.get(name.toLowerCase)

  def names: Seq[String] = tables.keys.toSeq.sorted

  def drop(name: String): Unit = {
    val removed = tables.remove(name.toLowerCase)
    viewVersions.remove(name.toLowerCase)
    versionClock.incrementAndGet() // plan-cache fingerprints must move
    spark.catalog.dropTempView(name)
    // every session that synced a view for this table must lose it too
    // (review catch: syncViews iterates only LIVE tables, so a dropped
    // table's temp view survived in other sessions and kept resolving
    // the dead snapshot instead of TABLE_OR_VIEW_NOT_FOUND)
    syncedBySession.synchronized {
      val it = syncedBySession.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        // seen maps key by the table-registry name (lowercase); try both
        // spellings so a mixed-case DROP still clears the marker
        val dropped = e.getValue.synchronized(
          e.getValue.remove(name).isDefined | e.getValue.remove(name.toLowerCase).isDefined)
        if (dropped)
          try e.getKey.catalog.dropTempView(name)
          catch { case _: Throwable => () } // a torn-down session must not fail the drop
      }
    }
    // reclaim the directory so the NAME is reusable (r19 review:
    // MutableTable.create requires a fresh root, so a dropped — or
    // created-then-rolled-back — table name was permanently unusable in
    // this catalog root). Best-effort: a leftover surfaces on the next
    // create() with its normal error. DEFERRED while any live txn has
    // staged DML on this table (r19 advice: eager deletion pulled that
    // txn's staged manifests/data out from under it mid-operation) —
    // the staged files then outlive the drop until the holder finishes,
    // like the pre-reclaim behavior, and the name stays unusable until
    // then, surfacing on create() as before.
    removed.foreach { t =>
      RowCache.shared.removeTable(t.cacheKey)
      val lc = name.toLowerCase
      val busy = liveTxns.synchronized {
        val it = liveTxns.keySet().iterator()
        var found = false
        while (!found && it.hasNext) found = it.next().stagedTables.contains(lc)
        found
      }
      if (!busy)
        try deleteTree(t.root) catch { case _: Throwable => () }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(q => Files.deleteIfExists(q))
      finally st.close()
    }

  // === transactions (SURVEY §7.4 session-buffered commit points) ===========
  // A transaction is a PER-SESSION staging area (A22, the reference's
  // BEGIN…COMMIT atomicity via DuckDB, session/mod.rs:613-686): each DML
  // inside the txn builds a new STAGED manifest on top of the session's
  // previous staged version (read-your-writes within the session) while
  // the table's published `_version` pointer — what every other session's
  // views resolve — never moves. COMMIT is all-or-nothing ACROSS tables:
  // it first validates that no staged table's published version drifted
  // past the version the txn first staged from (write-write conflict →
  // the whole txn aborts, the reference's DuckDB conflict behavior), then
  // makes the multi-table commit DURABLE as one atomically-moved commit
  // record before any pointer swaps — a crash between swaps rolls
  // FORWARD from the record (recoverPendingCommits), never publishing
  // one table of two. ROLLBACK deletes every staged manifest with the
  // data files only it names (MutableTable.discardStaged), and drops
  // tables created inside the txn; COMMIT retires its intermediate
  // staged manifests the same way.
  def beginTxn(): CatalogTxn = {
    val t = new CatalogTxn
    liveTxns.synchronized(liveTxns.put(t, java.lang.Boolean.TRUE))
    t
  }

  // Live (unfinished) transactions, weakly held: a session evicted with
  // an open txn releases its reference and the entry self-clears, so
  // an abandoned txn cannot pin drop()'s deferral forever. Committed /
  // rolled-back txns report an empty stagedTables, so no explicit
  // unregister is needed. All access synchronizes on the map itself.
  private val liveTxns = new java.util.WeakHashMap[CatalogTxn, java.lang.Boolean]()

  final class TransactionConflictException(msg: String)
    extends IllegalStateException(msg)

  // test-only crash injection for the commit protocol (ScenarioSpec):
  // fired before the commit record becomes durable / before each
  // table's pointer swap
  private[graft] var failBeforeCommitRecord: () => Unit = () => ()
  private[graft] var failBeforePublish: String => Unit = _ => ()
  // crash-model injection for specs: a REAL crash kills the process
  // before the inline roll-forward can run; throwing here simulates
  // that, leaving the durable record for restart recovery
  private[graft] var failBeforeRollForward: () => Unit = () => ()

  /** Commit the txn: conflict-check, write ONE durable commit record
    * covering every staged table, then swap each pointer. Committing an
    * empty or already-closed txn is the tolerated no-op
    * (transaction.rs:68-93). Throws [[TransactionConflictException]] —
    * after discarding the staged chain — if any staged table was
    * published past the txn's base version since first touch (blind
    * publish would silently erase that committed write).
    */
  def commitTxn(txn: CatalogTxn): Unit = txn.synchronized { synchronized {
    if (txn.staged.isEmpty) { txn.clearAll(); return }
    val entries = txn.staged.toSeq.sortBy(_._1)
    // SNAPSHOT the retirement inputs up front (r19 review: the inline
    // roll-forward branch clears the txn BEFORE the retirement loop ran,
    // so intermediate staged manifests survived forever, pinning their
    // superseded data files against every future vacuum)
    val finalsSnap = txn.staged.toMap
    val allStagedSnap = txn.allStaged.toList
    def retireIntermediates(): Unit = allStagedSnap.reverseIterator.foreach { case (n, v, base) =>
      if (!finalsSnap.get(n).contains(v)) tables.get(n).foreach(_.discardStaged(v, base))
    }
    val locked = entries.flatMap { case (n, v) => tables.get(n).map(t => (n, t, v)) }
    // Hold EVERY staged table's writer monitor (sorted order — autocommit
    // writers take a single monitor, so no acquisition cycle exists)
    // across validate + record + swap: without this, an autocommit
    // publish landing between the conflict check and the pointer swap is
    // silently erased — the check-then-act race the conflict detection
    // exists to close. All work under the locks is file metadata
    // (staged manifests were written by the statements themselves).
    def withAll[T](ts: List[(String, MutableTable, Long)])(body: => T): T = ts match {
      case Nil => body
      case (_, t, _) :: rest => t.withWriteLock(withAll(rest)(body))
    }
    var recordWritten: Option[Path] = None
    val conflicts: Seq[String] =
      try withAll(locked.toList) {
        val bad = locked.collect {
          case (n, t, _) if txn.baseVersions.get(n).exists(_ != t.currentVersion) => n
        }
        if (bad.isEmpty) {
          // crash window A: nothing durable yet — an abort here
          // publishes NOTHING (the spec's neither-table-advances leg)
          failBeforeCommitRecord()
          val recordId = java.util.UUID.randomUUID().toString
          val record = root.resolve(s"commit-$recordId.json")
          val body = entries.map { case (n, v) => s""""$n": $v""" }
            .mkString(s"""{"txn": "$recordId", "tables": {""", ", ", "}}")
          val tmp = root.resolve(s"commit-$recordId.json.tmp")
          Files.write(tmp, body.getBytes)
          Files.move(tmp, record, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          recordWritten = Some(record)
          // crash window B: the record is durable — recovery completes
          // the remaining swaps, so a mid-loop abort still commits ALL
          // tables (the monitors release as the exception unwinds)
          locked.foreach { case (n, t, v) =>
            failBeforePublish(n)
            t.publish(v)
          }
        }
        bad
      } catch {
        case e: Throwable =>
          if (recordWritten.isEmpty) {
            // nothing durable: discard the staged chain and its data
            // files (the Session SQL path drops the txn without calling
            // rollbackTxn)
            rollbackStaged(txn)
            throw e
          } else {
            // Record durable ⇒ the transaction IS committed; a publish
            // failure here must ROLL FORWARD, not strand the commit
            // half-published until a process restart (review catch: a
            // live server never re-ran recoverPendingCommits, so one
            // failed publish broke cross-table atomicity for the rest
            // of the process lifetime). Try the roll-forward inline —
            // on success the commit has fully landed and the statement
            // SUCCEEDS; only if recovery itself fails does the error
            // surface (the record stays durable for the next recovery
            // pass or restart — a retried COMMIT's no-op is then
            // correct, because the commit record WILL apply).
            txn.clearAll()
            try {
              failBeforeRollForward()
              recoverPendingCommits()
              // the commit landed: intermediates retire here too (the
              // snapshot survives clearAll — r19 review)
              retireIntermediates()
              Nil // fully rolled forward: no conflicts, commit landed
            } catch { case _: Throwable => throw e }
          }
      }
    if (conflicts.nonEmpty) {
      rollbackStaged(txn)
      throw new TransactionConflictException(
        s"transaction conflict: table(s) ${conflicts.mkString(", ")} " +
          "were modified by another writer since this transaction began")
    }
    // retire intermediate staged manifests (every staged version that is
    // not the published final one) and the commit record
    retireIntermediates()
    recordWritten.foreach(Files.deleteIfExists(_))
    txn.clearAll()
  }}

  /** Discard all staged writes — their manifests and the data files
    * only they name — and drop tables created inside the txn; without
    * any staged state this is the tolerated no-op.
    */
  def rollbackTxn(txn: CatalogTxn): Unit = txn.synchronized { synchronized {
    rollbackStaged(txn)
  }}

  // callers hold both locks
  private def rollbackStaged(txn: CatalogTxn): Unit = {
    txn.allStaged.reverseIterator.foreach { case (n, v, base) =>
      tables.get(n).foreach(_.discardStaged(v, base))
    }
    txn.created.foreach(drop)
    txn.clearAll()
  }

  /** Roll forward any commit record whose pointer swaps did not all
    * land (process died inside commitTxn's crash window B). Idempotent;
    * returns the number of records fully completed. Run on catalog
    * construction and callable from maintenance.
    *
    * Tables named in a record but not yet in the in-memory registry are
    * loaded from the catalog root (a restarted process constructs the
    * catalog over a pre-existing root BEFORE re-registering tables) —
    * without this, constructor-time recovery ran against an empty
    * registry, applied nothing, and destroyed the record it was
    * supposed to roll forward. A record whose table cannot be found on
    * disk either is LEFT IN PLACE for a later recovery rather than
    * deleted.
    */
  def recoverPendingCommits(): Int = synchronized {
    if (!Files.isDirectory(root)) return 0
    val records = MutableTable.listDir(root).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("commit-") && n.endsWith(".json")
    }
    var completed = 0
    records.foreach { rec =>
      val txt = new String(Files.readAllBytes(rec))
      // minimal parse of {"txn": "...", "tables": {"n": v, ...}}
      val tablesBody = txt.substring(txt.indexOf("{", txt.indexOf("\"tables\"")) + 1,
        txt.lastIndexOf("}"))
      var allApplied = true
      tablesBody.split(",").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split(":").map(_.trim)
        val name = k.stripPrefix("\"").stripSuffix("\"")
        val version = v.stripSuffix("}").trim.toLong
        val table = tables.get(name).orElse {
          // registry empty after restart: load the table from the root
          val dir = root.resolve(name)
          if (Files.exists(dir.resolve("_version"))) {
            val t = MutableTable.load(spark, dir.toString)
            register(name, t)
            Some(t)
          } else None
        }
        table match {
          case Some(t) =>
            // roll FORWARD only: never regress a pointer a later commit
            // already advanced past the crashed one
            if (t.currentVersion >= version) ()
            else if (t.hasManifest(version)) t.publish(version)
            else {
              // pointer behind AND the staged manifest is gone: the
              // record CANNOT complete — keep it and surface, instead of
              // deleting it as applied (r19 review: that silently landed
              // one table of two, the exact outcome the record prevents)
              allApplied = false
              System.err.println(s"[catalog] commit record ${rec.getFileName}: " +
                s"table $name is missing manifest v$version; record retained")
            }
          case None => allApplied = false
        }
      }
      if (allApplied) { Files.deleteIfExists(rec); completed += 1 }
    }
    completed
  }

  // Per-table view versions, bumped on every snapshot refresh, plus a
  // per-session record of the last version each session registered:
  // sessions call syncViews on every non-routed statement, so it must
  // re-register only CHANGED views and touch no lock when nothing
  // changed — the previous catalog-wide synchronized re-registration of
  // every table was an O(tables) serialization point shared by all
  // sessions.
  private val viewVersions = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val versionClock = new java.util.concurrent.atomic.AtomicLong()

  /** Catalog-wide snapshot clock: moves on every published table
    * refresh AND on drop — the prepared-plan-cache fingerprint (a
    * cached plan over a dropped or republished table must miss).
    */
  def snapshotClock: Long = versionClock.get()
  private val syncedBySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, Long]]())

  /** Add a table to the registry and expose its snapshot as a view that
    * follows every publish — whoever moves the pointer (a routed DML, a
    * transaction's commit, checkpoint, restore), the view and the
    * plan-cache clock move with it. The hook runs after the pointer swap,
    * so it must not throw: a failed view registration is logged, and
    * sessions still re-sync off the bumped clock.
    */
  private def register(name: String, t: MutableTable): Unit = {
    tables(name.toLowerCase) = t
    t.onPublish = () =>
      if (tables.get(name.toLowerCase).contains(t))
        try refresh(name)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[catalog] view refresh of $name failed: ${e.getMessage}")
        }
    refresh(name)
  }

  private def refresh(name: String): Unit = {
    viewVersions(name.toLowerCase) = versionClock.incrementAndGet()
    tables(name.toLowerCase).df.createOrReplaceTempView(name)
  }

  /** Register each managed table's current snapshot as a temp view in
    * `target`'s OWN view namespace. Each server session wraps
    * `newSession()` (isolated temp views), so shared-lake visibility —
    * the reference's per-session DuckDB connections over one DuckLake
    * catalog (engine/factory.rs:72-93) — needs the snapshot re-exposed
    * per session; the plan transplant is the same analyzed-plan rebind
    * the prepared path uses. Views whose table version the session has
    * already registered are skipped, so the steady-state call is a
    * version compare per table.
    */
  def syncViews(target: SparkSession, txn: Option[CatalogTxn] = None): Unit = {
    if (tables.isEmpty) return
    // lookup-or-insert under ONE lock on the map: a racing get-then-put
    // would let two threads install distinct 'seen' maps for the same
    // session and silently lose recorded versions
    val seen = syncedBySession.synchronized {
      var m = syncedBySession.get(target)
      if (m == null) {
        m = mutable.Map.empty[String, Long]
        syncedBySession.put(target, m)
      }
      m
    }
    tables.foreach { case (name, t) =>
      // a table this txn has staged resolves to ITS OWN staged snapshot
      // (read-your-writes); everyone else sees the published snapshot.
      // The seen-marker spaces must not collide: published registrations
      // record the positive viewVersions clock tick, staged ones the
      // NEGATIVE staged version — so leaving/entering/advancing a txn
      // always re-registers, and after commit the bumped clock replaces
      // the staged marker.
      val stagedV = txn.flatMap(x => x.synchronized(x.staged.get(name)))
      val marker = stagedV.map(v => -(v + 1)).getOrElse(viewVersions.getOrElse(name, 0L))
      if (!seen.synchronized(seen.get(name).contains(marker))) {
        val snapshot = stagedV.map(t.asOf).getOrElse(t.df)
        org.apache.spark.sql.graft.PreparedPlans.reanalyzed(target, snapshot)
          .createOrReplaceTempView(name)
        seen.synchronized(seen(name) = marker)
      }
    }
  }

  /** Arrow-ingest appender over a managed table — the micro-lake side
    * of the reference's `insert_with_appender`
    * (engine/connection.rs:163-196): shape the DoPut parameter batch to
    * the table schema and append. None when the table isn't managed
    * (caller falls through to the saved-table appender).
    */
  def insertBatch(name: String, batch: DataFrame,
      explicitCols: Option[Seq[String]] = None,
      txn: Option[CatalogTxn] = None): Option[Long] =
    get(name).map { t =>
      val shaped = BatchAlign.shapeParamBatch(spark, batch, t.schema, explicitCols)
      mutate(name, t, txn)(t.insertCore(_, shaped))
    }

  /** Run mutation `stage` (a [[MutableTable]] core: base version in,
    * staged (version, rows) out) on table `t`: staged into `txn`, or
    * autocommitted. Returns the row count. In a txn, the whole read-base
    * → stage → record sequence runs under the txn's own lock (see
    * [[CatalogTxn]]): the base is the txn's staged chain head for the
    * table, or the published version on first touch — which is also
    * recorded as the conflict-check anchor.
    */
  private def mutate(name: String, t: MutableTable, txn: Option[CatalogTxn])(
      stage: Long => (Long, Long)): Long = txn match {
    case None => t.autocommit(stage)._2
    case Some(x) => x.synchronized {
      val lc = name.toLowerCase
      val bv = x.staged.getOrElse(lc, {
        val b = t.currentVersion
        x.baseVersions.getOrElseUpdate(lc, b)
        b
      })
      val (v, n) = t.withWriteLock(stage(bv))
      // a no-op mutation (0 affected files) returns the base itself as the
      // "new" version — record it in the chain but never as a manifest to
      // retire (it is the published manifest, or a prior staged one)
      x.staged(lc) = v
      if (v != bv) x.allStaged += ((lc, v, bv))
      n
    }
  }

  // INSERT … VALUES keeps this regex and DriverDml's hand reader of the
  // VALUES list: on the YCSB load statement (1000 rows, about 1 MB of
  // text, 4 vCPUs of a shared VM) they took 42-70 ms, Spark's parser
  // 56-190 ms warm and 1.6 s on first use
  private val insertRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+([A-Za-z_][\\w]*)\\s*(\\([^)]*\\))?\\s*VALUES\\s*(.+?);?\\s*$".r

  /** Route a DML statement against a managed table. Returns the affected
    * row count, or None when the statement doesn't target a managed
    * table (caller falls through to plain `spark.sql`). With an active
    * `txn`, the mutation is STAGED: it builds on the txn's previous
    * staged version of the table (or the published version on first
    * touch) and records the new staged version in the txn instead of
    * publishing — invisible to every other session until `commitTxn`.
    */
  def route(sql: String, txn: Option[CatalogTxn] = None): Option[Long] =
    // Within-txn mutations chain off the session's own staged version
    // (snapshot taken on first touch) — the whole base-read/stage/record
    // sequence runs under the txn lock (mutate). NON-txn mutations
    // autocommit — read-stage-publish under ONE writeLock hold, so
    // concurrent autocommit writers never lose an update.
    graft.SqlShim.leadingKeyword(sql) match {
      case "INSERT" => routeInsert(sql, txn)
      case "UPDATE" | "DELETE" => routeParsed(sql, txn)
      case _ => None
    }

  private def routeInsert(sql: String, txn: Option[CatalogTxn]): Option[Long] = sql match {
    case insertRe(table, colsOpt, values) =>
      get(table).map { t =>
        // strip identifier backticks HERE (r19 review: the planned
        // path's batch.toDF named columns with LITERAL backticks, so
        // alignToSchema matched nothing and NULL-filled every target
        // column — an all-NULL row committed instead of the values)
        // split on commas OUTSIDE backticks (r19 advice class: a
        // backticked column name containing ',' split mid-identifier)
        val explicit = Option(colsOpt).map(c =>
          splitIdentList(c.stripPrefix("(").stripSuffix(")")))
        // driver-side literal fast path (VERDICT r15 #3): a pure-
        // literal VALUES batch into a supported-schema table skips the
        // SQL parse, the alignment analysis, and the Spark write job —
        // one parquet-mr write + manifest (pointer swap, or a staged
        // manifest inside a transaction). Any gate failure (an
        // expression in VALUES, a type that doesn't coerce naturally,
        // an unsupported column type) falls through to the planned
        // path; DuplicateKeyException propagates identically.
        val direct = DriverDml.parseValuesAligned(values, t.schema, explicit,
          DriverDml.utcSession(spark))
        def planned(): DataFrame = {
          val batch = spark.sql(s"SELECT * FROM (VALUES $values)")
          // name the incoming columns after the target list (or table
          // prefix) so alignment matches the appender path (A8)
          val named = explicit match {
            case Some(cols) => batch.toDF(cols: _*)
            case None => batch.toDF(t.schema.fieldNames.take(batch.schema.length).toIndexedSeq: _*)
          }
          BatchAlign.alignToSchema(named, t.schema, explicit)
        }
        mutate(table, t, txn)(bv =>
          direct.flatMap(t.insertRowsCore(bv, _)).getOrElse(t.insertCore(bv, planned())))
      }
    case _ => None
  }

  /** UPDATE and DELETE, read from Spark's parse of the statement: the
    * target table (optionally aliased), the SET assignments and the
    * WHERE condition, handed to the table as columns. A column qualified
    * by the table — by its alias when aliased — drops the qualifier,
    * since the table's own rows resolve it. A parse failure, or a target
    * outside the catalog, is None: Spark then reports its own error.
    */
  private def routeParsed(sql: String, txn: Option[CatalogTxn]): Option[Long] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, SubqueryAlias, UpdateTable}
    import org.apache.spark.sql.graft.bridge.column
    val plan =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case scala.util.control.NonFatal(_) => return None }
    // (table name, the qualifier its columns may carry). The parser
    // reads `DELETE FROM t WHERE` (nothing after WHERE) as t aliased
    // WHERE with no condition, which would delete every row: that alias
    // is not routed, so Spark rejects the statement
    def target(rel: LogicalPlan): Option[(String, Seq[String])] = rel match {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        Some((r.multipartIdentifier.head, r.multipartIdentifier))
      case SubqueryAlias(alias, r: UnresolvedRelation)
          if r.multipartIdentifier.size == 1 && !alias.name.equalsIgnoreCase("WHERE") =>
        Some((r.multipartIdentifier.head, alias.qualifier :+ alias.name))
      case _ => None
    }
    def unqualified(q: Seq[String])(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute if a.nameParts.size > q.size &&
          a.nameParts.take(q.size).map(_.toLowerCase) == q.map(_.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.drop(q.size))
    }
    plan match {
      case UpdateTable(rel, assignments, cond) =>
        for ((name, q) <- target(rel); t <- get(name)) yield {
          val unq = unqualified(q) _
          val set = assignments.map { a =>
            val key = unq(a.key) match {
              case u: UnresolvedAttribute if u.nameParts.size == 1 =>
                t.schema.fieldNames.find(_.equalsIgnoreCase(u.nameParts.head)).getOrElse(u.nameParts.head)
              case other => other.sql // not a column: updateCore rejects it
            }
            key -> column(unq(a.value))
          }.toMap
          val where = cond.map(c => column(unq(c))).getOrElse(lit(true))
          mutate(name, t, txn)(t.updateCore(_, where, set))
        }
      case DeleteFromTable(rel, cond) =>
        for ((name, q) <- target(rel); t <- get(name)) yield {
          mutate(name, t, txn)(t.deleteCore(_, column(unqualified(q)(cond))))
        }
      case _ => None
    }
  }

  /** Split a column-identifier list on commas outside backticks and
    * strip the backticks: `` `k`, `c, d` `` → Seq("k", "c, d").
    */
  private def splitIdentList(s: String): Seq[String] = {
    val parts = mutable.Buffer.empty[String]
    var inTick = false; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '`' => inTick = !inTick
        case ',' if !inTick => parts += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    parts += s.substring(start)
    parts.toSeq.map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
  }

  // Complete any multi-table commit a previous process died inside of
  // (no-op on the usual fresh temp root). LAST in the class body:
  // recovery touches refresh()'s view-version fields, which a
  // constructor-time call earlier in the body would see uninitialized.
  recoverPendingCommits()
}

object MutableCatalog {
  def apply(spark: SparkSession): MutableCatalog =
    new MutableCatalog(spark, Files.createTempDirectory("graft_mcat"))
}

/** One session's open transaction: the staged (unpublished) version of
  * each table it has mutated, lowercase-keyed like the catalog registry,
  * plus the tables it created (dropped again on rollback). Owned by
  * exactly one [[graft.Session]] at a time — per-session, not
  * catalog-global, so concurrent sessions' transactions never collide.
  *
  * All mutable state is guarded by the txn instance's own monitor: the
  * Flight producer does not serialize statements per session, so two
  * concurrent DMLs in the SAME open transaction would otherwise both
  * read the same base version and silently lose one staged write at
  * COMMIT. Staging paths hold the lock across the whole
  * read-base → stage → record sequence.
  */
final class CatalogTxn private[sources] {
  private[sources] val staged = scala.collection.mutable.Map.empty[String, Long]
  /** Published version at FIRST touch per table — the conflict-check
    * anchor: commit aborts if the published pointer drifted past this.
    */
  private[sources] val baseVersions = scala.collection.mutable.Map.empty[String, Long]
  /** EVERY staged manifest this txn wrote (not just the final chain
    * head per table), as (table, version, base version), oldest first —
    * rollback/commit retire them with the data files only they name
    * instead of leaking both forever.
    */
  private[sources] val allStaged = scala.collection.mutable.Buffer.empty[(String, Long, Long)]
  private[sources] val created = scala.collection.mutable.Set.empty[String]

  private[sources] def clearAll(): Unit = {
    staged.clear(); baseVersions.clear(); allStaged.clear(); created.clear()
  }

  /** Tables this txn has staged writes for (visible for specs/diagnostics). */
  def stagedTables: Set[String] = synchronized(staged.keySet.toSet)

  /** The txn's staged (unpublished) version of a table, if it has one —
    * read-your-writes resolution for the prepared point-read fast path.
    */
  def stagedVersion(table: String): Option[Long] = synchronized(staged.get(table.toLowerCase))
}
