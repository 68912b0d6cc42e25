package graft.flight

import java.util.UUID

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.ArrowWire
import org.apache.spark.sql.types.StructType

/** What a SQL shell needs from a connection — implemented by the
  * in-proc [[FlightSqlClient]] and by the remote HTTP client
  * (graft.HttpSqlClient over the SQL gateway), so graft.Cli drives
  * either transport through one interface.
  */
trait SqlConnection {
  def query(sql: String): SqlConnection.QueryResult
  def update(sql: String): SqlConnection.UpdateResult
  def disconnect(): Unit
}

object SqlConnection {

  /** Decoded result set (client.rs QueryResult:45-98). */
  final case class QueryResult(schema: StructType, rows: Array[Row]) {
    def totalRows: Int = rows.length
    def isEmpty: Boolean = rows.isEmpty
  }

  /** Update/DDL outcome (client.rs UpdateResult:104-107). */
  final case class UpdateResult(rowsAffected: Long)
}

/** One logical connection over the in-proc Flight SQL producer — the
  * reference's `swanlake-client` FlightSQLClient (client.rs:29-173): a
  * connection is one peer session on the SessionRegistry. `connect`
  * health-checks like the reference's constructor (client.rs:122-128);
  * `disconnect` removes the session, which rolls back a transaction it
  * left open. Every result crosses the producer's byte boundary
  * (tickets in, Arrow IPC out), decoded as the reference's ADBC layer
  * decodes record batches.
  */
final class FlightSqlClient private (producer: FlightSqlProducer, val peer: String)
    extends SqlConnection {
  import SqlConnection._

  private def spark = producer.registry.getOrCreate(peer).spark

  /** Execute a query over the full ticket + IPC path. */
  def query(sql: String): QueryResult = {
    val info = producer.getFlightInfoStatement(peer, sql)
    val df = ArrowWire.fromIpcStream(spark, producer.doGet(peer, info.ticket))
    QueryResult(df.schema, df.collect())
  }

  def update(sql: String): UpdateResult =
    UpdateResult(producer.doPutStatementUpdate(peer, sql))

  private def healthcheck(sql: String): Boolean =
    sql.trim.isEmpty || (try { query(sql); true } catch { case _: Throwable => false })

  /** Tear down the server session (the reference drops the TCP conn). */
  def disconnect(): Unit = producer.registry.remove(peer)
}

object FlightSqlClient {
  def connect(producer: FlightSqlProducer, peer: String = s"client-${UUID.randomUUID()}",
      healthcheckSql: String = "SELECT 1"): FlightSqlClient = {
    producer.handshake(peer, 1L)
    val c = new FlightSqlClient(producer, peer)
    if (!c.healthcheck(healthcheckSql)) {
      // don't leak the handshake's server session (r19 review: the
      // registry is capped, but each failed connect held a seat until
      // idle eviction)
      try producer.registry.remove(peer) catch { case _: Throwable => () }
      throw new IllegalArgumentException(
        s"requirement failed: connect healthcheck failed for $peer")
    }
    c
  }
}
