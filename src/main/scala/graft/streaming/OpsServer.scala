package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Driver-side ops HTTP surface (SURVEY C5; the reference serves
  * `/state`, `/metrics`, `/ready`, `/live` from its main —
  * cmd/clickhouse_sinker/main.go:163-237):
  *
  *   - `/state`   — JSON per-task snapshots (batch id, rates, lag) plus
  *                  the tasks whose query failed, with the error
  *   - `/metrics` — Prometheus exposition text from [[Metrics]]
  *   - `/ready`   — 200 once the app reports ready (queries started),
  *                  503 before
  *   - `/live`    — 200 whenever the driver answers at all
  *
  * Uses the JDK's built-in httpserver — no new dependency; this is a
  * low-rate ops endpoint, not a data path. Bind port 0 to let the OS pick
  * (tests), a fixed port in production.
  */
final class OpsServer(
    metrics: Metrics,
    port: Int = 0,
    ready: () => Boolean = () => true) extends AutoCloseable {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // A small pool so a slow /state render can't block /live (the liveness
  // probe must answer even when the driver is busy); handlers respond 500
  // on error instead of leaving the exchange unanswered until timeout.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2,
    (r: Runnable) => {
      val t = new Thread(r, "graft-ops-http"); t.setDaemon(true); t
    })
  server.setExecutor(pool)

  private def guarded(handle: HttpExchange => Unit)(ex: HttpExchange): Unit =
    try handle(ex)
    catch {
      case e: Exception =>
        try respond(ex, 500, "text/plain",
          s"internal error: ${Option(e.getMessage).getOrElse(e.getClass.getName)}\n")
        catch { case _: Exception => () } // headers already sent
    }
    finally ex.close()

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The `/state` payload: per-task progress + task failures. */
  def stateJson: String = {
    val tasks = metrics.state.toSeq.sortBy(_._1).map { case (name, s) =>
      s"${jsonStr(name)}:{" +
        s""""batchId":${s.batchId},""" +
        s""""inputRowsPerSecond":${s.inputRowsPerSecond},""" +
        s""""processedRowsPerSecond":${s.processedRowsPerSecond},""" +
        s""""numInputRows":${s.numInputRows},""" +
        s""""batchDurationMs":${s.batchDurationMs},""" +
        s""""consumerLag":${s.consumerLag}}"""
    }.mkString("{", ",", "}")
    val errs = metrics.taskFailures.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    s"""{"tasks":$tasks,"taskFailures":$errs,""" +
      s""""batchesCompleted":${metrics.batchesCompleted.sum()},""" +
      s""""rowsConsumed":${metrics.rowsConsumed.sum()}}"""
  }

  server.createContext("/state", guarded(ex =>
    respond(ex, 200, "application/json", stateJson)) _)
  server.createContext("/metrics", guarded(ex =>
    respond(ex, 200, "text/plain; version=0.0.4", metrics.prometheus)) _)
  server.createContext("/ready", guarded(ex =>
    if (ready()) respond(ex, 200, "text/plain", "ready\n")
    else respond(ex, 503, "text/plain", "not ready\n")) _)
  server.createContext("/live", guarded(ex =>
    respond(ex, 200, "text/plain", "live\n")) _)

  /** The actual bound port (after `port = 0` auto-assignment). */
  def boundPort: Int = server.getAddress.getPort

  def start(): OpsServer = { server.start(); this }

  override def close(): Unit = { server.stop(0); pool.shutdownNow(); () }
}
