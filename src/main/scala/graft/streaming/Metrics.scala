package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sink.ChWriter

/** Ops metrics (SURVEY A5; reference statistics/statistics.go:36-136):
  * the reference exports Prometheus counters for consumed/parse-error/
  * flush totals and write-duration histograms. Here the per-batch numbers
  * come from Spark's StreamingQueryListener (rows/s, batch durations,
  * state rows) plus the writer accumulators (written/bad/retries), all
  * exposed as a snapshot map a /metrics endpoint can render.
  */
final class Metrics extends StreamingQueryListener {
  import Metrics.QuerySnapshot

  private val snapshots = new ConcurrentHashMap[String, QuerySnapshot]()
  val batchesCompleted = new LongAdder
  val rowsConsumed     = new LongAdder

  // -- write-duration histogram (reference statistics/statistics.go:66-96
  //    exports flush/write duration histograms; same bucket idea) --------
  private val bucketCounts =
    Array.fill(Metrics.writeBucketsMs.length + 1)(new LongAdder)
  private val writeCount = new LongAdder
  private val writeSumMs = new LongAdder

  /** Record one per-batch write duration (driver-side, from the batch handler). */
  def observeWriteMs(ms: Long): Unit = {
    writeCount.increment(); writeSumMs.add(ms)
    var i = 0
    while (i < Metrics.writeBucketsMs.length && ms > Metrics.writeBucketsMs(i)) i += 1
    bucketCounts(i).increment()
  }

  // -- writer outcome: the WriteStats ChWriter.write sums from its
  //    accumulators, added once per batch (reference statistics.go flush
  //    counters) ---------------------------------------------------------
  val rowsWritten  = new LongAdder
  val badRows      = new LongAdder
  val writeRetries = new LongAdder

  def observeWriteStats(s: ChWriter.WriteStats): Unit = {
    rowsWritten.add(s.written); badRows.add(s.numBad); writeRetries.add(s.retries)
  }

  /** Cumulative (le -> count) buckets plus (sum, count), Prometheus-style. */
  def writeHistogram: (Seq[(String, Long)], Long, Long) = {
    var acc = 0L
    val cum = bucketCounts.zipWithIndex.map { case (c, i) =>
      acc += c.sum()
      val le = if (i < Metrics.writeBucketsMs.length)
        Metrics.writeBucketsMs(i).toString else "+Inf"
      le -> acc
    }.toSeq
    (cum, writeSumMs.sum(), writeCount.sum())
  }

  // -- task failures: a query that ended with an exception (a failed
  //    write, an ALTER that threw) stays visible until a query of that
  //    name starts again. `restartFailures` counts them; the name is kept
  //    for the sinkbench harness, which reads it.
  private val names = new ConcurrentHashMap[java.util.UUID, String]()
  private val failures = new ConcurrentHashMap[String, String]()
  val restartFailures = new LongAdder

  /** Task name -> the first line of the exception its query ended with. */
  def taskFailures: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    failures.asScala.toMap
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit = {
    val name = Option(event.name).getOrElse(event.id.toString)
    names.put(event.id, name)
    failures.remove(name)
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    batchesCompleted.increment()
    rowsConsumed.add(p.numInputRows)
    val lag = p.sources.map(s =>
      Metrics.lagFromOffsets(s.endOffset, s.latestOffset)).sum
    snapshots.put(name, QuerySnapshot(
      name, p.batchId,
      Option(p.inputRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
      Option(p.processedRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
      p.numInputRows,
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      lag))
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    val name = Option(names.remove(event.id)).getOrElse(event.id.toString)
    event.exception.foreach { e =>
      restartFailures.increment()
      failures.put(name, e.linesIterator.nextOption().getOrElse(""))
    }
  }

  /** `/state`-style snapshot (reference cmd/clickhouse_sinker/main.go:163-237). */
  def state: Map[String, QuerySnapshot] = {
    import scala.jdk.CollectionConverters._
    snapshots.asScala.toMap
  }

  /** Prometheus-exposition-format rendering of the counters. */
  def prometheus: String = {
    val sb = new StringBuilder
    sb.append("# TYPE graft_batches_completed counter\n")
    sb.append(s"graft_batches_completed ${batchesCompleted.sum()}\n")
    sb.append("# TYPE graft_rows_consumed counter\n")
    sb.append(s"graft_rows_consumed ${rowsConsumed.sum()}\n")
    sb.append("# TYPE graft_rows_written counter\n")
    sb.append(s"graft_rows_written ${rowsWritten.sum()}\n")
    sb.append("# TYPE graft_bad_rows counter\n")
    sb.append(s"graft_bad_rows ${badRows.sum()}\n")
    sb.append("# TYPE graft_write_retries counter\n")
    sb.append(s"graft_write_retries ${writeRetries.sum()}\n")
    sb.append("# TYPE graft_task_failures counter\n")
    sb.append(s"graft_task_failures ${restartFailures.sum()}\n")
    // generated-code classes Spark compiled in this JVM (in local mode,
    // the executors' too): a count that moves in every batch of a steady
    // stream means each batch's code differs and misses Spark's
    // generated-code cache
    sb.append("# TYPE graft_codegen_compilations counter\n")
    sb.append(s"graft_codegen_compilations ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount}\n")
    val (buckets, sum, count) = writeHistogram
    sb.append("# TYPE graft_write_duration_ms histogram\n")
    buckets.foreach { case (le, c) =>
      sb.append(s"""graft_write_duration_ms_bucket{le="$le"} $c\n""")
    }
    sb.append(s"graft_write_duration_ms_sum $sum\n")
    sb.append(s"graft_write_duration_ms_count $count\n")
    state.values.foreach { s =>
      sb.append(s"""graft_processed_rows_per_second{task="${s.name}"} ${s.processedRowsPerSecond}\n""")
      sb.append(s"""graft_consumer_lag{task="${s.name}"} ${s.consumerLag}\n""")
    }
    taskFailures.foreach { case (task, _) =>
      sb.append(s"""graft_task_failed{task="$task"} 1\n""")
    }
    sb.toString
  }
}

object Metrics {
  /** Write-duration bucket upper bounds in ms (last implicit bucket is +Inf). */
  val writeBucketsMs: Array[Long] =
    Array(5L, 10L, 25L, 50L, 100L, 250L, 500L, 1000L, 2500L, 5000L, 10000L)

  final case class QuerySnapshot(
      name: String,
      batchId: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double,
      numInputRows: Long,
      batchDurationMs: Long,
      /** A4 — sum over topic-partitions of (broker latest - consumed). */
      consumerLag: Long = 0L)

  def install(spark: SparkSession): Metrics = {
    val m = new Metrics
    spark.streams.addListener(m)
    m
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A4 — consumer-lag sum from a Kafka source progress's offset JSONs
    * (`{"topic":{"0":123,...}}`): sum over partitions of
    * latest - consumed, clamped at 0. The reference sums broker high
    * watermark minus committed per assigned partition
    * (task/consumer.go lag stats); the Kafka source's `latestOffset` is
    * the same high watermark. Non-Kafka sources (files, memory) report
    * offsets in other shapes -> 0.
    */
  def lagFromOffsets(endOffset: String, latestOffset: String): Long = {
    def parse(s: String): Map[(String, String), Long] =
      try {
        val n = mapper.readTree(s)
        if (n == null || !n.isObject) Map.empty
        else {
          val out = Map.newBuilder[(String, String), Long]
          n.properties().forEach { topic =>
            if (topic.getValue.isObject)
              topic.getValue.properties().forEach { part =>
                if (part.getValue.isNumber)
                  out += ((topic.getKey, part.getKey) -> part.getValue.asLong())
              }
          }
          out.result()
        }
      } catch { case _: Exception => Map.empty }
    val end = parse(Option(endOffset).getOrElse(""))
    val latest = parse(Option(latestOffset).getOrElse(""))
    // a partition the query has not consumed yet (e.g. just added to the
    // topic) has its whole high watermark outstanding
    latest.map { case (tp, hi) =>
      math.max(0L, hi - end.getOrElse(tp, 0L))
    }.sum
  }
}
