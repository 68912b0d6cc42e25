package graft.maintenance

import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.MutableTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class MaintenanceSpec extends SparkTestBase {

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def mkTable() = {
    val dir = Files.createTempDirectory("graft_maint").resolve("t").toString
    val t = MutableTable.create(spark, dir, schema)
    (1 to 6).foreach { i =>
      t.insert(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(i.toLong)), 1), schema))
    }
    t
  }

  test("tick checkpoints tables whose interval elapsed (mod.rs:24-223)") {
    val t = mkTable()
    assert(t.fileCount == 6)
    val m = new Maintenance(intervalMillis = 1000)
    m.register("t", t, targetFiles = 1)
    assert(m.tick(nowMillis = 10000) == Seq("t"))
    assert(t.fileCount == 1)
    assert(t.df.count() == 6)
    // within the interval: no re-checkpoint
    assert(m.tick(nowMillis = 10500).isEmpty)
    // after the interval: runs again (no-op compaction, files already =1)
    assert(m.tick(nowMillis = 11500) == Seq("t"))
  }

  test("advisory lock: second holder skips (lock.rs try-lock semantics)") {
    val t = mkTable()
    val m = new Maintenance()
    // same-JVM contention throws OverlappingFileLockException instead of
    // tryLock's null; PRODUCTION maps both shapes to the documented skip
    // (r19 review: this mapping used to live only in this spec's catch
    // block, so a manual tick racing the scheduler crashed the sweep)
    val outer = m.withAdvisoryLock(t.root) {
      m.withAdvisoryLock(t.root)(fail("inner lock must not be granted"))
    }
    assert(outer.contains(None))
  }

  test("tick isolates per-table faults: one broken table cannot starve the rest (r19 review)") {
    val good = mkTable()
    val broken = mkTable()
    val m = new Maintenance(intervalMillis = 1)
    m.register("broken", broken)
    m.register("good", good)
    // break the table AFTER registration (the dropped-directory race
    // with Server's registration sync): its checkpoint now throws
    org.apache.commons.io.FileUtils.deleteDirectory(broken.root.toFile)
    val done = m.tick(nowMillis = 100)
    assert(done.contains("good"), s"good table must still checkpoint: $done")
    assert(!done.contains("broken"))
    // the failure is retried (lastCheckpoint not advanced), not wedged
    assert(m.lastCheckpointAt("broken").isEmpty)
    assert(m.lastCheckpointAt("good").contains(100L))
  }

  test("checkpointCount is a real counter, not an existence probe (r19 review)") {
    val t = mkTable()
    val m = new Maintenance(intervalMillis = 10)
    m.register("cnt", t)
    assert(m.checkpointCount("cnt") == 0L)
    m.tick(nowMillis = 10)
    m.tick(nowMillis = 15) // within interval: no-op
    m.tick(nowMillis = 25)
    assert(m.checkpointCount("cnt") == 2L, s"got ${m.checkpointCount("cnt")}")
    m.unregister("cnt")
    assert(m.checkpointCount("cnt") == 0L)
  }

  test("checkpoint registry records completion times (ducklake_checkpoints analogue)") {
    val t = mkTable()
    val m = new Maintenance(intervalMillis = 1)
    m.register("reg", t)
    assert(m.lastCheckpointAt("reg").isEmpty)
    m.tick(nowMillis = 42)
    assert(m.lastCheckpointAt("reg").contains(42L))
  }

  test("compaction races a 4-writer DML storm: zero lost updates, stats survive restart (VERDICT r15 #5)") {
    import org.apache.spark.sql.functions._
    val wschema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val dir = Files.createTempDirectory("graft_maint_race").resolve("storm").toString
    val t = MutableTable.create(spark, dir, wschema, primaryKey = Some("id"))
    // seed rows the deleter/updater can target
    (0 until 40).foreach(i => t.insertRowsDirect(Seq(Array[Any](i.toLong, s"seed$i"))))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(body: => Unit): Thread = {
      val th = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    val perWriter = 25
    // the reference's checkpoint loop runs while sessions write
    // (maintenance/mod.rs under the advisory lock); here the compactor
    // hammers continuously against 4 concurrent writers
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = writer { while (!stop.get()) { t.checkpoint(targetFiles = 2); Thread.sleep(5) } }
    val threads = Seq(
      writer((0 until perWriter).foreach(i =>  // inserter A: ids 1000+
        t.insertRowsDirect(Seq(Array[Any]((1000 + i).toLong, s"a$i"))))),
      writer((0 until perWriter).foreach(i =>  // inserter B: ids 2000+
        t.insertRowsDirect(Seq(Array[Any]((2000 + i).toLong, s"b$i"))))),
      writer((0 until perWriter).foreach(i =>  // updater: seeds 0..24
        assert(t.update(expr(s"id = $i"), Map("v" -> expr(s"'u$i'"))) == 1L,
          s"update of seed $i lost"))),
      writer((0 until perWriter).foreach(i =>  // deleter: seeds 25..39 then misses
        t.delete(expr(s"id = ${25 + i}")))))
    threads.foreach(_.join())
    stop.set(true); compactor.join()
    assert(errors.isEmpty, s"writer errors: ${errors.peek()}")
    // zero lost updates: every surviving row accounted for
    assert(t.df.count() == 40 - 15 + 2 * perWriter)
    assert(t.df.filter("id < 25").count() == 25)
    (0 until 25).foreach { i =>
      assert(t.df.filter(s"id = $i").head().getString(1) == s"u$i", s"seed $i update lost")
    }
    assert(t.df.filter("id >= 1000 AND id < 2000").count() == perWriter)
    // pk uniqueness survived the interleaving
    assert(t.df.groupBy("id").count().filter("count > 1").count() == 0)
    // stats survive a restart intact: a fresh load() prunes every live
    // file off the stats read back from its footer (the r15 durability
    // check under concurrency — a live file whose stats were lost would
    // leave candidateFilesExpr unable to prune)
    val reloaded = MutableTable.load(spark, t.root.toString)
    // a key outside every live bound prunes to ZERO files — which can
    // only happen if EVERY live file (compacted and carried-over alike)
    // has stats; one stats-less file would always be kept
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    def idEq(k: Long) = EqualTo(UnresolvedAttribute("id"), Literal(k))
    assert(reloaded.candidateFilesExpr(reloaded.currentVersion, idEq(99999L)).isEmpty,
      "some live file lost its stats across the storm")
    assert(reloaded.candidateFilesExpr(reloaded.currentVersion, idEq(1005L)).nonEmpty)
    assert(reloaded.df.count() == t.df.count())
  }
}
