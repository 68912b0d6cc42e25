package graft

import graft.sources.MutableCatalog
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Ports of the reference's end-to-end runner scenarios
  * (tests/runner/src/scenarios/mod.rs:13-21) against the engine layers —
  * each test cites the scenario it reproduces.
  */
class ScenarioSpec extends SparkTestBase {

  private val usersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("balance", DoubleType)))

  // === execute_query_commands.rs: DDL/DML through the single SQL entry ====
  test("DDL and DML flow through Engine.sql (execute_query_commands.rs)") {
    Engine.sql(spark, "DROP TABLE IF EXISTS eqc_t")
    Engine.sql(spark, "CREATE TABLE eqc_t (id INT, v STRING) USING parquet")
    Engine.sql(spark, "INSERT INTO eqc_t VALUES (1, 'a'), (2, 'b')")
    val rows = Engine.sql(spark, "SELECT * FROM eqc_t ORDER BY id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    Engine.sql(spark, "DROP TABLE eqc_t")
  }

  // === prepared_statements.rs:47-238: UPDATE/DELETE with parameters =======
  test("parameterized UPDATE and DELETE via prepared statements + mutable catalog") {
    val cat = MutableCatalog(spark)
    cat.create("ps_users", usersSchema, primaryKey = Some("id"))
    assert(cat.route("INSERT INTO ps_users VALUES (1, 'ann', 10.0), (2, 'bob', 20.0)").contains(2))
    // bind params as literals (the reference's engine-side Value binding),
    // then route the bound DML
    val update = SqlParams.bind("UPDATE ps_users SET balance = ? WHERE id = ?", Seq(99.5, 1L))
    assert(cat.route(update).contains(1))
    assert(spark.sql("SELECT balance FROM ps_users WHERE id = 1").head.getDouble(0) == 99.5)
    val delete = SqlParams.bind("DELETE FROM ps_users WHERE id = ?", Seq(2L))
    assert(cat.route(delete).contains(1))
    assert(spark.sql("SELECT COUNT(*) FROM ps_users").head.getLong(0) == 1)
  }

  // === prepared_statements.rs: param-mismatch + missing-param handling ====
  test("extra params are ignored, missing params bind NULL (prepared.rs)") {
    val s = new Session("scn", spark)
    val p = s.createPrepared("SELECT CAST(? AS INT) AS a, CAST(? AS STRING) AS b")
    s.bindParams(p.handle, Seq(1, "x", "extra-ignored"))
    val r1 = s.executePrepared(p.handle).head
    assert(r1.getInt(0) == 1 && r1.getString(1) == "x")
    val r2 = s.executePrepared(p.handle).head // no params pending -> NULLs
    assert(r2.isNullAt(0) && r2.isNullAt(1))
  }

  // === appender_insert.rs: bulk append with partial columns + casts =======
  test("appender-style bulk insert aligns partial/reordered batches (appender_insert.rs)") {
    val cat = MutableCatalog(spark)
    cat.create("app_t", usersSchema)
    // reordered + partial column list, types needing casts
    assert(cat.route("INSERT INTO app_t (name, id) VALUES ('zoe', 7)").contains(1))
    val row = spark.sql("SELECT id, name, balance FROM app_t").head
    assert(row == Row(7L, "zoe", null))
  }

  // === parameter_types.rs:84-229: temporal/typed param round-trips ========
  test("typed parameter round-trips: date, timestamp, decimal, binary (parameter_types.rs)") {
    val s = new Session("types", spark)
    val p = s.createPrepared(
      "SELECT CAST(? AS DATE) AS d, CAST(? AS TIMESTAMP) AS ts, CAST(? AS DECIMAL(20,0)) AS dec, ? AS b")
    s.bindParams(p.handle, Seq(
      java.time.LocalDate.of(2024, 2, 29),
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56"),
      new java.math.BigDecimal("18446744073709551615"),
      Array[Byte](1, 2, 3)))
    val r = s.executePrepared(p.handle).head
    val d = r.get(r.fieldIndex("d")) match {
      case ld: java.time.LocalDate => ld
      case sd: java.sql.Date       => sd.toLocalDate
    }
    assert(d == java.time.LocalDate.of(2024, 2, 29))
    assert(r.getAs[java.math.BigDecimal]("dec").toString == "18446744073709551615")
    assert(r.getAs[Array[Byte]]("b").toSeq == Seq[Byte](1, 2, 3))
  }

  // === transaction_recovery.rs:120: cross-session visibility ==============
  test("a new session sees committed (post-abort) state (transaction_recovery.rs)") {
    val cat = MutableCatalog(spark)
    cat.create("txn_t", usersSchema)
    val s1 = new Session("txn1", spark)
    s1.begin()
    cat.route("INSERT INTO txn_t VALUES (1, 'committed', 0.0)")
    s1.commit()
    s1.rollback() // no-op after commit — tolerated (transaction.rs:68-93)
    val s2 = new Session("txn2", spark)
    assert(spark.sql("SELECT name FROM txn_t").head.getString(0) == "committed")
  }

  // === transaction_recovery.rs + VERDICT r11 #2: cross-statement ==========
  // atomicity with cross-session isolation over the micro-lake
  test("multi-statement txn: invisible to a second session until COMMIT, absent after ROLLBACK (A22)") {
    val cat = MutableCatalog(spark)
    cat.create("txn_iso_t", usersSchema, primaryKey = Some("id"))
    val writer = new Session("txn-w", spark.newSession(), Some(cat))
    val reader = new Session("txn-r", spark.newSession(), Some(cat))
    writer.sql("INSERT INTO txn_iso_t VALUES (1, 'base', 1.0)")

    // --- rollback leg: two staged statements, then ROLLBACK
    writer.begin()
    writer.sql("INSERT INTO txn_iso_t VALUES (2, 'staged', 2.0)")
    writer.sql("UPDATE txn_iso_t SET balance = 100.0 WHERE id = 1")
    assert(reader.sql("SELECT COUNT(*) FROM txn_iso_t").head.getLong(0) == 1L,
      "second session must not see the staged INSERT")
    assert(reader.sql("SELECT balance FROM txn_iso_t WHERE id = 1").head.getDouble(0) == 1.0,
      "second session must not see the staged UPDATE")
    assert(writer.sql("SELECT COUNT(*) FROM txn_iso_t").head.getLong(0) == 2L,
      "writer reads its own staged state")
    writer.rollback()
    assert(reader.sql("SELECT COUNT(*) FROM txn_iso_t").head.getLong(0) == 1L)
    assert(writer.sql("SELECT balance FROM txn_iso_t WHERE id = 1").head.getDouble(0) == 1.0,
      "after rollback the writer's own reads revert to the published state")

    // --- commit leg: both statements land atomically at COMMIT
    writer.begin()
    writer.sql("INSERT INTO txn_iso_t VALUES (3, 'c', 3.0)")
    writer.sql("DELETE FROM txn_iso_t WHERE id = 1")
    assert(reader.sql("SELECT COUNT(*) FROM txn_iso_t").head.getLong(0) == 1L)
    writer.commit()
    assert(reader.sql("SELECT id FROM txn_iso_t").head.getLong(0) == 3L,
      "after COMMIT the second session sees the full transaction")
    cat.drop("txn_iso_t")
  }

  // === transaction_recovery.rs:37-77: aborted-txn auto-rollback + retry ===
  test("error inside a txn aborts it: next statement auto-rolls-back and runs autocommit") {
    val cat = MutableCatalog(spark)
    cat.create("txn_rec_t", usersSchema, primaryKey = Some("id"))
    val s = new Session("txn-rec", spark.newSession(), Some(cat))
    s.begin()
    s.sql("INSERT INTO txn_rec_t VALUES (1, 'one', 1.0)")
    // poison the transaction (the reference uses a type error; any failed
    // statement marks the txn aborted — here a PK violation against the
    // txn's own staged write)
    intercept[Exception](s.sql("INSERT INTO txn_rec_t VALUES (1, 'dup', 9.9)"))
    // next statements detect the abort, roll back (discarding INSERT(1)),
    // and run in autocommit mode
    s.sql("INSERT INTO txn_rec_t VALUES (2, 'two', 2.0)")
    s.sql("INSERT INTO txn_rec_t VALUES (3, 'three', 3.0)")
    assert(!s.inTransaction, "auto-recovery left autocommit mode active")
    val ids = s.sql("SELECT id FROM txn_rec_t ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(2L, 3L),
      s"rolled-back txn must drop INSERT(1), keeping the auto-retried 2 and 3; got $ids")
    // COMMIT on an aborted transaction discards instead of publishing
    s.begin()
    s.sql("INSERT INTO txn_rec_t VALUES (4, 'four', 4.0)")
    intercept[Exception](s.sql("SELECT * FROM missing_table_xyz"))
    s.commit()
    assert(s.sql("SELECT COUNT(*) FROM txn_rec_t").head.getLong(0) == 2L,
      "COMMIT of an aborted txn must not publish its staged writes")
    cat.drop("txn_rec_t")
  }

  // === transaction control as plain SQL (transaction_recovery.rs drives
  // client.update("BEGIN") — the statements must route, not parse-error)
  test("BEGIN/COMMIT/ROLLBACK route as SQL statements through Session.sql") {
    val cat = MutableCatalog(spark)
    cat.create("txn_sql_t", usersSchema, primaryKey = Some("id"))
    val s = new Session("txn-sql", spark.newSession(), Some(cat))
    s.sql("BEGIN")
    assert(s.inTransaction)
    s.sql("INSERT INTO txn_sql_t VALUES (1, 'a', 1.0)")
    s.sql("ROLLBACK;")
    assert(!s.inTransaction)
    assert(s.sql("SELECT COUNT(*) FROM txn_sql_t").head.getLong(0) == 0L)
    s.sql("START TRANSACTION")
    s.sql("INSERT INTO txn_sql_t VALUES (2, 'b', 2.0)")
    s.sql("/* finalize */ COMMIT WORK") // commented + WORK variant must route too
    assert(s.sql("SELECT COUNT(*) FROM txn_sql_t").head.getLong(0) == 1L)
    cat.drop("txn_sql_t")
  }

  // === error paths: unknown handle, unroutable DML ========================
  test("unknown prepared handles error; non-managed DML falls through (service/mod.rs:153-325)") {
    val s = new Session("err", spark)
    intercept[NoSuchElementException](s.executePrepared("nope"))
    val cat = MutableCatalog(spark)
    assert(cat.route("UPDATE not_managed SET x = 1").isEmpty)
    assert(cat.route("SELECT 1").isEmpty)
  }

  // === cross-TABLE commit atomicity (session/mod.rs:613-686: DuckLake ====
  // commits span tables; r12 verdict gap #3). Crash window A: nothing
  // durable yet -> neither table advances. Crash window B: the commit
  // record is durable -> recovery rolls FORWARD, both tables advance.
  test("two-table txn aborted mid-commit before the record: NEITHER table advances") {
    val cat = MutableCatalog(spark)
    cat.create("atomic_a", usersSchema)
    cat.create("atomic_b", usersSchema)
    val s = new Session("atomic-1", spark.newSession(), Some(cat))
    s.begin()
    s.sql("INSERT INTO atomic_a VALUES (1, 'a', 1.0)")
    s.sql("INSERT INTO atomic_b VALUES (1, 'b', 1.0)")
    cat.failBeforeCommitRecord = () => throw new RuntimeException("injected crash A")
    try intercept[RuntimeException](s.commit())
    finally cat.failBeforeCommitRecord = () => ()
    assert(cat.get("atomic_a").get.df.count() == 0L, "table a must not advance")
    assert(cat.get("atomic_b").get.df.count() == 0L, "table b must not advance")
    assert(cat.recoverPendingCommits() == 0, "no record was durable, nothing to roll forward")
    assert(cat.get("atomic_a").get.df.count() == 0L && cat.get("atomic_b").get.df.count() == 0L,
      "recovery must not invent a commit that never became durable")
    cat.drop("atomic_a"); cat.drop("atomic_b")
  }

  test("two-table txn crashed between pointer swaps: recovery commits BOTH tables") {
    val cat = MutableCatalog(spark)
    cat.create("atomic_c", usersSchema)
    cat.create("atomic_d", usersSchema)
    val s = new Session("atomic-2", spark.newSession(), Some(cat))
    s.begin()
    s.sql("INSERT INTO atomic_c VALUES (1, 'c', 1.0)")
    s.sql("INSERT INTO atomic_d VALUES (1, 'd', 1.0)")
    // entries publish in sorted order: crash before the SECOND swap.
    // A real crash also kills the inline roll-forward (r18: a LIVE
    // publish failure heals in-place; only a process death leaves the
    // record), so the crash model fails both.
    cat.failBeforePublish = n => if (n == "atomic_d") throw new RuntimeException("injected crash B")
    cat.failBeforeRollForward = () => throw new RuntimeException("simulated process death")
    try intercept[RuntimeException](s.commit())
    finally { cat.failBeforePublish = _ => (); cat.failBeforeRollForward = () => () }
    assert(cat.get("atomic_c").get.df.count() == 1L, "first swap landed before the crash")
    assert(cat.get("atomic_d").get.df.count() == 0L, "second swap did not land yet")
    assert(cat.recoverPendingCommits() == 1, "one durable record to roll forward")
    assert(cat.get("atomic_d").get.df.count() == 1L,
      "recovery must complete the crashed multi-table commit")
    assert(cat.recoverPendingCommits() == 0, "recovery is idempotent")
    cat.drop("atomic_c"); cat.drop("atomic_d")
  }

  test("a LIVE publish failure after the durable record rolls forward INLINE: commit succeeds") {
    // r18 review catch: previously a transient publish failure after
    // the commit record was durable left the txn half-published for the
    // whole process lifetime (nothing in a live server re-ran recovery)
    // and the thrown error told the client a committed txn had failed
    val cat = MutableCatalog(spark)
    cat.create("heal_a", usersSchema)
    cat.create("heal_b", usersSchema)
    val s = new Session("heal", spark.newSession(), Some(cat))
    s.begin()
    s.sql("INSERT INTO heal_a VALUES (1, 'a', 1.0)")
    s.sql("INSERT INTO heal_b VALUES (1, 'b', 1.0)")
    var once = true
    cat.failBeforePublish = n =>
      if (n == "heal_b" && once) { once = false; throw new RuntimeException("transient IO") }
    try s.commit() // must NOT throw: the inline roll-forward completes it
    finally cat.failBeforePublish = _ => ()
    assert(cat.get("heal_a").get.df.count() == 1L && cat.get("heal_b").get.df.count() == 1L,
      "both tables must advance — atomicity healed in-place")
    assert(cat.recoverPendingCommits() == 0, "the record retired with the inline roll-forward")
    cat.drop("heal_a"); cat.drop("heal_b")
  }

  test("inline roll-forward retires intermediate staged manifests (r19 review)") {
    // the roll-forward branch used to clearAll() BEFORE the retirement
    // loop, so a multi-statement txn's intermediate staged manifests
    // survived forever, pinning superseded data files against vacuum
    val cat = MutableCatalog(spark)
    cat.create("ret_t", usersSchema)
    val s = new Session("ret", spark.newSession(), Some(cat))
    s.begin()
    s.sql("INSERT INTO ret_t VALUES (1, 'a', 1.0)") // staged v1
    s.sql("INSERT INTO ret_t VALUES (2, 'b', 2.0)") // staged v2, chained
    var once = true
    cat.failBeforePublish = _ =>
      if (once) { once = false; throw new RuntimeException("transient IO") }
    try s.commit() // heals inline
    finally cat.failBeforePublish = _ => ()
    val t = cat.get("ret_t").get
    assert(t.df.count() == 2L)
    assert(!java.nio.file.Files.exists(t.root.resolve("manifest-1.json")),
      "the intermediate staged manifest must retire on the roll-forward path too")
    assert(java.nio.file.Files.exists(t.root.resolve("manifest-2.json")))
    cat.drop("ret_t")
  }

  test("recovery RETAINS a commit record whose staged manifest is missing (r19 review)") {
    val cat = MutableCatalog(spark)
    val t = cat.create("recm_t", usersSchema)
    cat.route("INSERT INTO recm_t VALUES (1, 'a', 1.0)")
    val root = t.root.getParent
    // forge a record pointing past the published version with no manifest
    java.nio.file.Files.write(root.resolve("commit-forged.json"),
      """{"txn": "forged", "tables": {"recm_t": 99}}""".getBytes)
    assert(cat.recoverPendingCommits() == 0,
      "an incompletable record must not count as applied")
    assert(java.nio.file.Files.exists(root.resolve("commit-forged.json")),
      "the record must be retained for a later recovery, not deleted")
    java.nio.file.Files.delete(root.resolve("commit-forged.json"))
    cat.drop("recm_t")
  }

  // === cross-RESTART recovery: a fresh catalog instance over the same ====
  // root must load the record's tables from disk and complete the
  // commit (the constructor-time recovery previously ran against an
  // empty registry and destroyed the record without applying anything)
  test("a NEW catalog over the same root rolls a crashed two-table commit forward") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
    val cat1 = new MutableCatalog(spark, root)
    cat1.create("rst_a", usersSchema)
    cat1.create("rst_b", usersSchema)
    val s = new Session("rst", spark.newSession(), Some(cat1))
    s.begin()
    s.sql("INSERT INTO rst_a VALUES (1, 'a', 1.0)")
    s.sql("INSERT INTO rst_b VALUES (1, 'b', 1.0)")
    cat1.failBeforePublish = n => if (n == "rst_b") throw new RuntimeException("injected crash")
    cat1.failBeforeRollForward = () => throw new RuntimeException("simulated process death")
    try intercept[RuntimeException](s.commit())
    finally { cat1.failBeforePublish = _ => (); cat1.failBeforeRollForward = () => () }
    // "restart": construct a fresh catalog over the same root — its
    // constructor recovery must load both tables and finish the swap
    val cat2 = new MutableCatalog(spark, root)
    assert(cat2.get("rst_a").isDefined && cat2.get("rst_b").isDefined,
      "restart recovery must register the record's tables from disk")
    assert(cat2.get("rst_a").get.df.count() == 1L)
    assert(cat2.get("rst_b").get.df.count() == 1L,
      "restart recovery must complete the crashed multi-table commit")
    assert(cat2.recoverPendingCommits() == 0, "the completed record is retired")
  }

  // === write-write conflict detection (r12 ADVICE: blind publish would ===
  // silently erase a committed autocommit write)
  test("COMMIT aborts with a conflict when another writer published after first touch") {
    val cat = MutableCatalog(spark)
    cat.create("confl_t", usersSchema)
    val a = new Session("confl-a", spark.newSession(), Some(cat))
    val b = new Session("confl-b", spark.newSession(), Some(cat))
    a.begin()
    a.sql("INSERT INTO confl_t VALUES (1, 'staged', 1.0)") // first touch: base = v0
    b.sql("INSERT INTO confl_t VALUES (2, 'autocommit', 2.0)") // publishes past a's base
    val e = intercept[Exception](a.commit())
    assert(e.getMessage.contains("conflict"), s"expected a conflict error, got: ${e.getMessage}")
    val names = spark.sql("SELECT name FROM confl_t").collect().map(_.getString(0)).toSeq
    assert(names == Seq("autocommit"),
      s"the committed autocommit write must survive, the conflicted txn must not; got $names")
    assert(!a.inTransaction, "the conflicted session leaves the transaction")
    cat.drop("confl_t")
  }

  // === rollback reclaims staged storage (r12 ADVICE: rolled-back =========
  // manifests pinned their data files against vacuum forever)
  test("ROLLBACK deletes staged manifests so vacuum reclaims their data files") {
    val cat = MutableCatalog(spark)
    val t = cat.create("vac_t", usersSchema)
    cat.route("INSERT INTO vac_t VALUES (1, 'keep', 1.0)")
    val before = dataFiles(t)
    val txn = cat.beginTxn()
    cat.route("INSERT INTO vac_t VALUES (2, 'tmp1', 2.0)", Some(txn))
    cat.route("INSERT INTO vac_t VALUES (3, 'tmp2', 3.0)", Some(txn))
    assert((dataFiles(t) -- before).size == 2, "each staged INSERT writes one file")
    cat.rollbackTxn(txn)
    // the rollback itself takes the staged files: vacuum finds nothing
    assert(dataFiles(t) == before,
      s"rolled-back files left in data/: ${(dataFiles(t) -- before).mkString(", ")}")
    assert(t.vacuum() == 0)
    assert(t.df.collect().map(_.getString(1)).toSeq == Seq("keep"),
      "the published row is untouched")
    cat.drop("vac_t")
  }

  test("a row inserted and deleted in one transaction leaves no data file after COMMIT") {
    val cat = MutableCatalog(spark)
    val t = cat.create("gone_t", usersSchema)
    cat.route("INSERT INTO gone_t VALUES (1, 'keep', 1.0)")
    val before = dataFiles(t)
    val txn = cat.beginTxn()
    cat.route("INSERT INTO gone_t VALUES (2, 'tmp', 2.0)", Some(txn))
    val staged = dataFiles(t) -- before
    assert(staged.size == 1, "the staged INSERT writes one file")
    assert(cat.route("DELETE FROM gone_t WHERE id = 2", Some(txn)).contains(1L))
    cat.commitTxn(txn)
    // the COMMIT retires the INSERT's intermediate manifest, the only
    // one that named the row's file
    assert(dataFiles(t) == before, s"the deleted row's file is left in data/: ${staged.mkString(", ")}")
    assert(t.df.collect().map(_.getString(1)).toSeq == Seq("keep"))
    cat.drop("gone_t")
  }

  /** Names of the files in a micro-lake table's data/ directory. */
  private def dataFiles(t: graft.sources.MutableTable): Set[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(t.root.resolve("data"))
    try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  // === concurrent statements in ONE open txn (r12 ADVICE: the Flight =====
  // producer does not serialize per-session requests; the read-base/
  // stage/record sequence must hold the txn lock or one staged write is
  // silently overwritten at COMMIT)
  test("concurrent DML in one open transaction loses no staged write") {
    val cat = MutableCatalog(spark)
    cat.create("conc_t", usersSchema, primaryKey = Some("id"))
    val txn = cat.beginTxn()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            cat.route(s"INSERT INTO conc_t VALUES ($i, 'w$i', $i.0)", Some(txn)).get
        })
      }
      futures.foreach(f => assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) == 1L))
    } finally pool.shutdown()
    cat.commitTxn(txn)
    val ids = cat.get("conc_t").get.df.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 8L),
      s"all 8 concurrently staged inserts must survive the commit, got $ids")
    cat.drop("conc_t")
  }

  // === registry eviction rolls back open transactions (r12 ADVICE: =======
  // tables created inside an uncommitted txn leaked into the shared
  // catalog forever)
  test("session removal and idle cleanup roll back the session's open transaction") {
    val cat = MutableCatalog(spark)
    val reg = new SessionRegistry(spark, catalog = Some(cat))
    val s1 = reg.getOrCreate("evict-1")
    s1.begin()
    cat.create("evict_t1", usersSchema, txn = s1.txn)
    reg.remove("evict-1")
    assert(cat.get("evict_t1").isEmpty,
      "explicit removal must roll back the open txn and drop its created table")
    val s2 = reg.getOrCreate("evict-2")
    s2.begin()
    cat.create("evict_t2", usersSchema, txn = s2.txn)
    // an open transaction gets a 4x grace period (r18 review: evicting a
    // paused txn turns the client's next COMMIT into a wrong-success
    // no-op on a fresh session) — past 1x it survives...
    s2.lastAccessMillis = System.currentTimeMillis() - reg.idleTimeoutMillis - 1000
    assert(reg.cleanupIdle() == 0, "in-txn session survives the 1x bar")
    // ...past 4x it is genuinely abandoned and still reclaims
    s2.lastAccessMillis = System.currentTimeMillis() - reg.idleTimeoutMillis * 4 - 1000
    assert(reg.cleanupIdle() == 1)
    assert(cat.get("evict_t2").isEmpty,
      "idle cleanup must roll back the abandoned txn and drop its created table")
  }
}
