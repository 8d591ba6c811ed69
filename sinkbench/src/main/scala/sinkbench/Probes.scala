package sinkbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One completed micro-batch, from Spark's public progress events. */
final case class BatchRec(
    queryId: String, batchId: Long, rows: Long,
    /** Trigger start, epoch ms. */
    startMs: Long,
    durations: Map[String, Long]) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
  def triggerMs: Long = d("triggerExecution")
  def endMs: Long = startMs + triggerMs
}

/** Streaming progress of every query in the session. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(BatchRec(p.id.toString, p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(queryId: String): Seq[BatchRec] =
    batches.asScala.toSeq.filter(_.queryId == queryId).sortBy(b => (b.startMs, b.batchId))
}

/** Job, stage and task counters of streaming batches, read through a
  * [[SparkListener]]: jobs are tied to their query and batch by the local
  * properties Spark's micro-batch engine sets on them.
  */
final class EngineLog extends SparkListener {
  import EngineLog._
  private val jobBatch = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val completedStages = new ConcurrentLinkedQueue[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val q = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val b = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    for (qid <- q; bid <- b) {
      jobBatch.put(e.jobId, qid -> bid.toLong)
      e.stageIds.foreach(s => stageBatch.put(s, qid -> bid.toLong))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.failureReason.isEmpty) completedStages.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => StageAgg())
      a.synchronized {
        a.tasks += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Per-batch engine counters of the given (query, batch) pairs. */
  def perBatch(keys: Seq[(String, Long)]): Seq[BatchEngine] = {
    val done = completedStages.asScala.toSet
    val jobs = jobBatch.asScala.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size }
    val byBatch = stageBatch.asScala.toSeq.filter(s => done(s._1)).groupBy(_._2)
    keys.map { k =>
      val ss = byBatch.getOrElse(k, Nil).map(s => stages.getOrDefault(s._1, StageAgg()))
      BatchEngine(jobs.getOrElse(k, 0), ss.size, ss.map(_.tasks).sum,
        ss.map(_.shuffleWrite).sum, ss.map(_.shuffleRead).sum,
        ss.map(s => s.shuffleWriteNs / 1e6 + s.fetchWaitMs).sum, ss.map(_.spill).sum)
    }
  }
}

object EngineLog {
  final case class StageAgg(var tasks: Long = 0, var shuffleWrite: Long = 0,
      var shuffleRead: Long = 0, var shuffleWriteNs: Long = 0, var fetchWaitMs: Long = 0,
      var spill: Long = 0)
  final case class BatchEngine(jobs: Int, stages: Int, tasks: Long, shuffleWrite: Long,
      shuffleRead: Long, exchangeMs: Double, spill: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, p in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it:
    * p = 1 - 10/n. With ten samples or fewer no percentile qualifies and
    * the maximum is reported instead (the sample count goes with it).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size > 10) { val p = 1.0 - 10.0 / xs.size; (percentile(xs, p), p) }
    else (xs.max, 1.0)

  /** Peak resident set of this process in MB (Linux VmHWM), else the JVM's
    * committed heap plus non-heap.
    */
  def rssPeakMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    val hwm =
      if (f.canRead) scala.io.Source.fromFile(f).getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      else None
    hwm.getOrElse {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      (m.getHeapMemoryUsage.getCommitted + m.getNonHeapMemoryUsage.getCommitted) / 1048576.0
    }
  }

  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}

/** The machine's state over a run, recorded beside the results so that a
  * spread between runs can be told apart from a change in the program: the
  * share of CPU time stolen by the hypervisor and the CPU pressure (Linux
  * `/proc`; null elsewhere).
  */
final class Env {
  private def stat(): Option[Array[Long]] = readLine("/proc/stat", "cpu ")
    .map(_.trim.split("\\s+").drop(1).map(_.toLong))
  private def psiSomeUs(): Option[Long] = readLine("/proc/pressure/cpu", "some")
    .flatMap(_.split(' ').find(_.startsWith("total=")).map(_.drop(6).toLong))
  private def readLine(path: String, prefix: String): Option[String] = {
    val f = new java.io.File(path)
    if (!f.canRead) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    }
  }
  private val t0 = System.nanoTime()
  private val stat0 = stat()
  private val psi0 = psiSomeUs()

  def json(): String = {
    val wallUs = (System.nanoTime() - t0) / 1000.0
    // /proc/stat cpu fields: user nice system idle iowait irq softirq steal
    val steal = for (a <- stat0; b <- stat()) yield {
      val d = b.zip(a).map { case (x, y) => x - y }
      d(7).toDouble / math.max(1L, d.take(8).sum)
    }
    val psi = for (a <- psi0; b <- psiSomeUs()) yield (b - a) / wallUs
    Json.obj(Seq(
      "cpu_steal_share" -> steal.map(Json.num).getOrElse("null"),
      "cpu_pressure_some_share" -> psi.map(Json.num).getOrElse("null")))
  }
}

/** Minimal JSON rendering for the result line and the detail file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
