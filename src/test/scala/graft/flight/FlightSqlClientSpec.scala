package graft.flight

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft._
import org.apache.spark.sql.types._

/** Clients over the in-proc producer — the loopback equivalent of the
  * reference's client integration suite (swanlake-client/tests): every
  * call crosses the ticket + Arrow IPC boundary.
  */
class FlightSqlClientSpec extends SparkTestBase {

  test("client connect health-checks and query decodes the IPC stream (client.rs:122-134)") {
    val producer = new FlightSqlProducer(new SessionRegistry(spark))
    val c = FlightSqlClient.connect(producer)
    val r = c.query("SELECT 1 AS x, 'a' AS s")
    assert(r.totalRows == 1 && r.rows.head.getInt(0) == 1 && r.rows.head.getString(1) == "a")
    assert(r.schema.fieldNames.sameElements(Array("x", "s")))
    c.disconnect()
    assert(producer.registry.get(c.peer).isEmpty)
  }

  test("a failed connect healthcheck releases the handshake session (r19 review)") {
    val producer = new FlightSqlProducer(new SessionRegistry(spark))
    intercept[IllegalArgumentException](
      FlightSqlClient.connect(producer, peer = "hc-fail-peer",
        healthcheckSql = "SELECT * FROM no_such_table_hc"))
    assert(producer.registry.get("hc-fail-peer").isEmpty,
      "failed connect must not leak its registry session")
  }

  test("concurrent clients mutate and read the shared micro-lake consistently") {
    val cat = graft.sources.MutableCatalog(spark)
    cat.create("fl_conc_t", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    val producer = new FlightSqlProducer(new SessionRegistry(spark, catalog = Some(cat)))
    val writers = 6
    val perWriter = 3
    val ex = Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(ex)
    val work = (0 until writers).map { w =>
      Future {
        val c = FlightSqlClient.connect(producer)
        try (0 until perWriter).foreach { i =>
          c.update(s"INSERT INTO fl_conc_t VALUES (${w * 100 + i}, $w)")
          c.query("SELECT COUNT(*) AS c FROM fl_conc_t") // interleaved reads
        } finally c.disconnect()
      }
    }
    Await.result(Future.sequence(work), 3.minutes)
    ex.shutdown()
    val reader = FlightSqlClient.connect(producer)
    val n = reader.query("SELECT COUNT(*) AS c FROM fl_conc_t").rows.head.getLong(0)
    reader.disconnect()
    assert(n == writers * perWriter,
      s"all ${writers}x$perWriter concurrent inserts must survive, saw $n")
    cat.drop("fl_conc_t")
  }

  test("disconnect() inside an open transaction rolls it back") {
    val cat = graft.sources.MutableCatalog(spark)
    val t = cat.create("fl_txn_drop_t", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    def names(dir: java.nio.file.Path): Set[String] = {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
    }
    def dataFiles = names(t.root.resolve("data"))
    def manifests = names(t.root).filter(_.startsWith("manifest-"))
    val producer = new FlightSqlProducer(new SessionRegistry(spark, catalog = Some(cat)))
    val (filesBefore, manifestsBefore) = (dataFiles, manifests)
    val c = FlightSqlClient.connect(producer)
    c.update("BEGIN")
    c.update("INSERT INTO fl_txn_drop_t VALUES (1, 1)")
    assert(producer.registry.get(c.peer).exists(_.inTransaction))
    assert(manifests != manifestsBefore, "the transaction's INSERT must stage a manifest")
    val staged = dataFiles -- filesBefore
    assert(staged.nonEmpty, "the transaction's INSERT must stage a file")
    c.disconnect()
    assert(producer.registry.get(c.peer).isEmpty)
    // the rollback takes the staged manifest and the file only it named
    assert(manifests == manifestsBefore, "the rollback must delete the staged manifest")
    assert(dataFiles == filesBefore,
      s"staged files left in data/: ${(dataFiles -- filesBefore).mkString(", ")}")
    val other = FlightSqlClient.connect(producer)
    val n = other.query("SELECT COUNT(*) AS c FROM fl_txn_drop_t").rows.head.getLong(0)
    other.disconnect()
    assert(n == 0, s"the abandoned transaction's insert leaked: $n rows")
    cat.drop("fl_txn_drop_t")
  }
}
