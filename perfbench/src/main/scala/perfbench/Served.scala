package perfbench

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.ArrowWire

import graft.{HttpSqlClient, Server, ServerConfig, Session}

/** The server embedded the way a deployment runs it: `Server.boot` over
  * the benchmark's Spark session, its SQL gateway bound to an ephemeral
  * loopback port, clients talking to it over HTTP.
  */
final class Served(spark: SparkSession, catalog: Option[graft.sources.MutableCatalog] = None) {
  val running: Server.Running = Server.boot(
    ServerConfig(host = "127.0.0.1", port = 0, statusEnabled = false, checkpointPollSeconds = None),
    sharedSpark = Some(spark), catalog = catalog)
  val url = s"http://127.0.0.1:${running.gateway.get.boundPort}"
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[HttpSqlClient]()

  def client(): HttpSqlClient = {
    val c = new HttpSqlClient(url)
    opened.add(c)
    c
  }

  def close(): Unit = {
    opened.forEach(_.disconnect())
    running.shutdown()
  }
}

/** The traced, in-process path of one request: the same public calls
  * the gateway makes, in its order, each inside a span.
  */
final class InProcess(served: Served, tracer: Tracer) {
  import InProcess.Answer
  private val registry = served.running.registry

  def execute(sessionKey: String, handle: String, params: Seq[Any]): Answer =
    tracer.request("request") {
      val session: Session = tracer.span("session.getOrCreate")(registry.getOrCreate(sessionKey))
      val df = tracer.span("session.executePrepared")(session.executePrepared(handle, params))
      val bytes = tracer.span("wire.encode") {
        val write = ArrowWire.prepareIpcStream(df)
        val out = new ByteArrayOutputStream()
        write(out)
        out.toByteArray
      }
      val (_, rows) = tracer.span("wire.decode")(ArrowWire.readIpc(bytes))
      Answer(df, bytes.length, rows)
    }
}

object InProcess {
  final case class Answer(df: DataFrame, bytes: Int, rows: Array[Row])
}

object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Analysis + optimisation + planning time Spark recorded for `df`. */
  def planMs(df: DataFrame): Double = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble
  }

  /** Whether the executed plan, adaptive stages included, holds a node
    * whose name contains `node`.
    */
  def holds(df: DataFrame, node: String): Boolean =
    find(df.queryExecution.executedPlan)(_.nodeName.contains(node)).nonEmpty

  /** Files the executed plan's scans read, from their `numFiles` metric. */
  def filesRead(df: DataFrame): Option[Long] = {
    val counts = collect(df.queryExecution.executedPlan) {
      case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
    }
    if (counts.isEmpty) None else Some(counts.sum)
  }
}
