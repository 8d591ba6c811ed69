package graft

import java.net.{HttpURLConnection, URI}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryStartedEvent, QueryTerminatedEvent}

import graft.streaming.{Metrics, OpsServer}

/** C5 — the ops HTTP surface over a real socket, and the write-duration
  * histogram (reference serves /state /metrics /ready /live from
  * cmd/clickhouse_sinker/main.go:163-237 and exports write histograms
  * from statistics/statistics.go:66-96).
  */
class OpsServerSpec extends AnyFunSuite {

  private def get(port: Int, path: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(is.readAllBytes(), "UTF-8")
    is.close()
    (code, body)
  }

  test("write-duration histogram buckets cumulate; sum and count are exact") {
    val m = new Metrics
    Seq(3L, 7L, 7L, 40L, 9999L, 99999L).foreach(m.observeWriteMs)
    val (buckets, sum, count) = m.writeHistogram
    val byLe = buckets.toMap
    assert(byLe("5") === 1)      // 3
    assert(byLe("10") === 3)     // +7, 7
    assert(byLe("25") === 3)
    assert(byLe("50") === 4)     // +40
    assert(byLe("10000") === 5)  // +9999
    assert(byLe("+Inf") === 6)   // +99999
    assert(sum === 3 + 7 + 7 + 40 + 9999 + 99999)
    assert(count === 6)
    val prom = m.prometheus
    assert(prom.contains("""graft_write_duration_ms_bucket{le="+Inf"} 6"""))
    assert(prom.contains("graft_write_duration_ms_count 6"))
  }

  test("serves /state /metrics /ready /live over a real socket") {
    val m = new Metrics
    m.observeWriteMs(12L)
    // a query of task A ends with an exception (the listener's view)
    val idA = java.util.UUID.randomUUID()
    m.onQueryStarted(new QueryStartedEvent(idA, java.util.UUID.randomUUID(), "taskA", "t0"))
    m.onQueryTerminated(new QueryTerminatedEvent(idA, java.util.UUID.randomUUID(),
      Some("boom \"quoted\"\n\tat some.Frame(Frame.scala:1)")))
    @volatile var isReady = false
    val srv = new OpsServer(m, port = 0, ready = () => isReady).start()
    try {
      val port = srv.boundPort
      assert(port > 0)

      val (liveCode, liveBody) = get(port, "/live")
      assert(liveCode === 200 && liveBody.contains("live"))

      // not ready yet -> 503; flips to 200 when the app reports ready
      assert(get(port, "/ready")._1 === 503)
      isReady = true
      assert(get(port, "/ready")._1 === 200)

      val (mc, metricsBody) = get(port, "/metrics")
      assert(mc === 200)
      assert(metricsBody.contains("graft_write_duration_ms_count 1"))
      assert(metricsBody.contains("graft_task_failures 1"))
      assert(metricsBody.contains("""graft_task_failed{task="taskA"} 1"""))

      val (sc, stateBody) = get(port, "/state")
      assert(sc === 200)
      // valid JSON with the failure's first line surfaced (and escaped)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stateBody)
      assert(node.get("taskFailures").get("taskA").asText() === "boom \"quoted\"")
      assert(node.has("tasks") && node.has("batchesCompleted"))

      // a query that stops cleanly records nothing; a task whose query
      // starts again drops off the failure map
      val idB = java.util.UUID.randomUUID()
      m.onQueryStarted(new QueryStartedEvent(idB, java.util.UUID.randomUUID(), "taskB", "t1"))
      m.onQueryTerminated(new QueryTerminatedEvent(idB, java.util.UUID.randomUUID(), None))
      m.onQueryStarted(new QueryStartedEvent(idA, java.util.UUID.randomUUID(), "taskA", "t2"))
      val after = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(get(port, "/state")._2)
      assert(after.get("taskFailures").size() === 0)
      assert(m.restartFailures.sum() === 1L)
    } finally srv.close()
  }
}
