package graft

import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The served prepared-plan cache (VERDICT r19 #1): a handle's Nth
  * execution re-runs the plan decided at first execution — parse +
  * analysis amortized, adaptive execution pinned per plan — and every
  * way the world can change under a cached plan invalidates it.
  */
class PlanCacheSpec extends SparkTestBase {

  private def mkSession(id: String, cat: Option[sources.MutableCatalog] = None) =
    new Session(id, spark.newSession(), cat)

  test("Nth execution of the same handle serves from the cached plan") {
    val s = mkSession("pc-hit")
    s.sql("CREATE OR REPLACE TEMP VIEW pc_base AS SELECT id, id % 3 AS g FROM RANGE(100)")
    val p = s.createPrepared("SELECT g, COUNT(*) AS c FROM pc_base GROUP BY g ORDER BY g")
    val h0 = s.planCacheHits.get(); val m0 = s.planCacheMisses.get()
    val first = s.executePrepared(p.handle, Seq.empty).collect()
    assert(s.planCacheMisses.get() == m0 + 1 && s.planCacheHits.get() == h0)
    assert(p.plan.isDefined, "first execution must populate the handle's plan")
    (1 to 3).foreach { i =>
      val again = s.executePrepared(p.handle, Seq.empty).collect()
      assert(s.planCacheHits.get() == h0 + i, s"execution ${i + 1} must hit")
      assert(again.map(_.toString).toSeq == first.map(_.toString).toSeq,
        "cached-plan execution must return identical rows")
    }
    assert(s.planCacheMisses.get() == m0 + 1, "no re-plan after the first execution")
  }

  test("parameterized handle: same values hit, changed values re-plan correctly") {
    val s = mkSession("pc-params")
    s.sql("CREATE OR REPLACE TEMP VIEW pc_p AS SELECT id FROM RANGE(50)")
    val p = s.createPrepared("SELECT COUNT(*) AS c FROM pc_p WHERE id < ?")
    assert(s.executePrepared(p.handle, Seq(10)).collect()(0).getLong(0) == 10L)
    val h0 = s.planCacheHits.get()
    assert(s.executePrepared(p.handle, Seq(10)).collect()(0).getLong(0) == 10L)
    assert(s.planCacheHits.get() == h0 + 1, "identical params must hit")
    // a changed value was a LITERAL in the cached plan — must re-plan,
    // never serve the old literal's result
    assert(s.executePrepared(p.handle, Seq(25)).collect()(0).getLong(0) == 25L)
    assert(s.executePrepared(p.handle, Seq(25)).collect()(0).getLong(0) == 25L,
      "the re-planned values become the new cached entry")
  }

  test("DDL battery: same-session and CROSS-session DDL invalidate the cached plan") {
    val a = mkSession("pc-ddl-a")
    val b = mkSession("pc-ddl-b")
    a.sql("CREATE OR REPLACE TEMP VIEW pc_d AS SELECT id FROM RANGE(5)")
    val p = a.createPrepared("SELECT COUNT(*) AS c FROM pc_d")
    assert(a.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 5L)
    // same-session DDL: the view is REPLACED — a frozen plan would keep 5
    a.sql("CREATE OR REPLACE TEMP VIEW pc_d AS SELECT id FROM RANGE(8)")
    assert(a.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 8L,
      "same-session DDL must invalidate the cached plan")
    val m0 = a.planCacheMisses.get()
    // cross-session DDL bumps the GLOBAL epoch: session a's fingerprint
    // moves even though a itself ran nothing invalidating
    b.sql("CREATE OR REPLACE TEMP VIEW pc_unrelated AS SELECT 1 AS x")
    a.executePrepared(p.handle, Seq.empty).collect()
    assert(a.planCacheMisses.get() == m0 + 1,
      "another session's DDL must flip this session's fingerprint")
  }

  test("prepared DML invalidates cached plans and schemas (trigger-list parity)") {
    val s = mkSession("pc-dml")
    s.sql("CREATE OR REPLACE TEMP VIEW pc_m AS SELECT id FROM RANGE(4)")
    val q = s.createPrepared("SELECT COUNT(*) AS c FROM pc_m")
    assert(s.executePrepared(q.handle, Seq.empty).collect()(0).getLong(0) == 4L)
    s.schemaForQuery("SELECT 1 AS warm") // populate the schema cache
    assert(s.schemaCacheSize >= 1)
    // a PREPARED invalidating statement (bypasses sql()'s trigger):
    // must clear schemas AND move the plan fingerprint
    val ddl = s.createPrepared("CREATE OR REPLACE TEMP VIEW pc_m AS SELECT id FROM RANGE (9)")
    s.executePrepared(ddl.handle, Seq.empty)
    assert(s.schemaCacheSize == 0, "prepared DDL must clear the schema cache")
    assert(s.executePrepared(q.handle, Seq.empty).collect()(0).getLong(0) == 9L,
      "prepared DDL must invalidate the cached plan")
  }

  test("managed-table snapshot changes from ANOTHER session invalidate (catalog clock)") {
    val cat = sources.MutableCatalog(spark)
    cat.create("pc_lake", StructType(Seq(StructField("id", LongType))))
    val a = mkSession("pc-lake-a", Some(cat))
    val b = mkSession("pc-lake-b", Some(cat))
    a.sql("INSERT INTO pc_lake VALUES (1), (2)")
    val p = b.createPrepared("SELECT COUNT(*) AS c FROM pc_lake")
    assert(b.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 2L)
    assert(b.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 2L)
    // session a publishes a new snapshot; b's cached plan scans the OLD
    // file list — the catalog clock in the fingerprint must catch it
    a.sql("INSERT INTO pc_lake VALUES (3)")
    assert(b.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 3L,
      "a peer session's published snapshot must invalidate the cached plan")
    cat.drop("pc_lake")
  }

  test("read-your-writes: staged txn DML bypasses the plan cache") {
    val cat = sources.MutableCatalog(spark)
    cat.create("pc_txn", StructType(Seq(StructField("id", LongType))))
    val s = mkSession("pc-txn", Some(cat))
    s.sql("INSERT INTO pc_txn VALUES (1)")
    val p = s.createPrepared("SELECT COUNT(*) AS c FROM pc_txn")
    assert(s.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 1L)
    s.sql("BEGIN")
    s.sql("INSERT INTO pc_txn VALUES (2)") // staged, unpublished
    // inside the txn the handle must see the STAGED snapshot (2 rows),
    // not the cached published plan's 1
    assert(s.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 2L,
      "staged writes must be visible through the prepared handle")
    s.sql("ROLLBACK")
    assert(s.executePrepared(p.handle, Seq.empty).collect()(0).getLong(0) == 1L,
      "after rollback the published snapshot is served again")
    cat.drop("pc_txn")
  }

  test("nondeterministic queries are never cached (EXECUTE must re-roll)") {
    val s = mkSession("pc-rand")
    val p = s.createPrepared("SELECT uuid() AS u")
    val u1 = s.executePrepared(p.handle, Seq.empty).collect()(0).getString(0)
    assert(p.plan.isEmpty, "a nondeterministic plan must not be cached")
    val u2 = s.executePrepared(p.handle, Seq.empty).collect()(0).getString(0)
    assert(u1 != u2, "each execution must re-roll, like the reference's EXECUTE")
    // rand() seeds are fixed at analysis: a cached plan would repeat
    // the exact draw sequence
    val r = s.createPrepared("SELECT COUNT(*) AS n FROM RANGE(10000) WHERE rand() < 0.5")
    val n1 = s.executePrepared(r.handle, Seq.empty).collect()(0).getLong(0)
    assert(r.plan.isEmpty)
    val n2 = s.executePrepared(r.handle, Seq.empty).collect()(0).getLong(0)
    assert(n1 != n2, "independent draws collide with probability ~0")
  }

  test("query-time functions advance across cached executions (no frozen now())") {
    val s = mkSession("pc-now")
    val p = s.createPrepared("SELECT current_timestamp() AS t")
    val t1 = s.executePrepared(p.handle, Seq.empty).collect()(0).getTimestamp(0)
    assert(p.plan.isDefined, "current_timestamp is deterministic-per-query; the plan caches")
    Thread.sleep(20)
    val t2 = s.executePrepared(p.handle, Seq.empty).collect()(0).getTimestamp(0)
    assert(t2.after(t1),
      s"cached ANALYZED plan must re-fold query time per execution ($t1 vs $t2)")
  }

  test("the AQE pin is decided once, at the cache miss, from the plan's shape") {
    import scala.jdk.CollectionConverters._
    val s = mkSession("pc-pin")
    s.sql("CREATE OR REPLACE TEMP VIEW pc_pin AS SELECT id, id % 7 AS g FROM RANGE(5000)")
    // a join whose side holds a grouped aggregate: the plan shape the
    // pin rule looks at
    val p = s.createPrepared(
      "SELECT a.g, COUNT(*) AS c FROM pc_pin a JOIN " +
        "(SELECT g FROM pc_pin GROUP BY g HAVING COUNT(*) > 700) b ON a.g = b.g " +
        "GROUP BY a.g ORDER BY a.g")
    val firstDf = s.executePrepared(p.handle, Seq.empty)
    val first = firstDf.collect().map(_.toString).toSeq
    val keepAqe = !org.apache.spark.sql.graft.PreparedPlans.pinnable(
      firstDf.queryExecution.optimizedPlan)
    val h0 = s.planCacheHits.get()
    (2 to 5).foreach { _ =>
      assert(s.executePrepared(p.handle, Seq.empty).collect().map(_.toString).toSeq == first)
    }
    assert(s.planCacheHits.get() == h0 + 4, "executions 2-5 serve from the cached plan")
    assert(p.plan.map(_.keepAqe).contains(keepAqe),
      "the pin stays the plan-shape decision made at the first execution")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-pin-calibration"),
      "no background execution re-measures a cached plan")
  }

  test("multi-statement scripts and commands stay off the cache path") {
    val s = mkSession("pc-script")
    val p = s.createPrepared("CREATE OR REPLACE TEMP VIEW pc_s AS SELECT 1 AS x; SELECT * FROM pc_s")
    val m0 = s.planCacheMisses.get(); val h0 = s.planCacheHits.get()
    s.executePrepared(p.handle, Seq.empty)
    s.executePrepared(p.handle, Seq.empty)
    assert(s.planCacheMisses.get() == m0 && s.planCacheHits.get() == h0,
      "scripts ride the generic shim path")
  }
}
