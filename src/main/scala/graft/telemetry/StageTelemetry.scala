package graft.telemetry

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The one job-mapped stage listener. It records every job (id, job
  * group, description, start/end time, stage ids) and every stage ATTEMPT
  * (owning job, name, wall, tasks, input, shuffle read/write, spill, max
  * task read) between two [[reset]]s, and derives the bench's shuffle
  * fields from them ([[totals]]). Read it after [[drain]]: the listener
  * bus delivers asynchronously, and a fixed sleep undercounts whenever a
  * loaded machine drains the bus late.
  *
  * Stage attempts stand alone: merging a retried attempt into its first
  * would double-count its read sum and task count while the per-task max
  * stays, deflating the skew ratio on exactly the flaky runs where
  * attribution matters.
  */
final class StageTelemetry private (sc: SparkContext) extends SparkListener {
  import StageTelemetry._

  private val jobRecs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageRecs = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  // running SQL executions: id -> description (the job description set
  // when the action started, else the action's call site)
  private val executionLabels = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(executionLabels(s.executionId) = s.description)
    case s: SparkListenerSQLExecutionEnd =>
      synchronized(executionLabels -= s.executionId)
    case _ =>
  }

  /** A job without its own description takes its SQL execution's: a
    * broadcast exchange runs its job on another thread, whose call site
    * names only a CompletableFuture frame.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobRecs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description")
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => executionLabels.get(id.toLong)))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("").takeWhile(_ != '\n'),
      e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(j => jobRecs(e.jobId) = j.copy(endMs = e.time))
  }

  /** A stage belongs to the job that submits it: the earliest job still
    * running that lists it (a later job that reuses the stage's shuffle
    * output lists it too, but skips it). -1 for a stage whose job started
    * before the last [[reset]].
    */
  private def owner(stageId: Int): Int =
    jobRecs.valuesIterator
      .filter(j => j.endMs < 0 && j.stageIds.contains(stageId))
      .map(_.id).minOption.getOrElse(-1)

  private def stage(id: Int, attempt: Int): Stage =
    stageRecs.getOrElseUpdate((id, attempt), Stage(id, attempt, owner(id)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      stageRecs((i.stageId, i.attemptNumber())) =
        s.copy(name = i.name.takeWhile(_ != '\n'), partitions = i.numTasks)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) {
      val s = stage(te.stageId, te.stageAttemptId)
      val r = m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead
      stageRecs((te.stageId, te.stageAttemptId)) = s.copy(
        tasks = s.tasks + 1,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
        writeBytes = s.writeBytes + m.shuffleWriteMetrics.bytesWritten,
        readBytes = s.readBytes + r,
        readTasks = s.readTasks + (if (r > 0) 1 else 0),
        maxTaskRead = math.max(s.maxTaskRead, r),
        spillBytes = s.spillBytes + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      val wall = (for { a <- i.completionTime; b <- i.submissionTime }
        yield a - b).getOrElse(-1L)
      stageRecs((i.stageId, i.attemptNumber())) = s.copy(
        name = i.name.takeWhile(_ != '\n'), partitions = i.numTasks,
        wallMs = wall, completed = true)
    }

  /** Forget everything recorded so far (between measured runs). */
  def reset(): Unit = synchronized { jobRecs.clear(); stageRecs.clear() }

  /** Wait until the bus has delivered every event posted so far. */
  def drain(): Unit = ListenerBusBridge.drain(sc, DrainTimeoutMs)

  /** Stop listening. */
  def detach(): Unit = sc.removeSparkListener(this)

  /** Jobs in id order. */
  def jobs: Seq[Job] = synchronized(jobRecs.values.toSeq.sortBy(_.id))

  /** Stage attempts in (stage id, attempt) order. */
  def stages: Seq[Stage] =
    synchronized(stageRecs.values.toSeq.sortBy(s => (s.id, s.attempt)))

  /** The stage attempts owned by jobs of one job group — a concurrent
    * caller's stray stages stay out of the count.
    */
  def stagesInGroup(group: String): Seq[Stage] = synchronized {
    val ids = jobRecs.valuesIterator.filter(_.group.contains(group))
      .map(_.id).toSet
    stages.filter(s => ids(s.job))
  }

  def totals: Totals = StageTelemetry.totals(stages)
}

object StageTelemetry {
  /** How long [[StageTelemetry.drain]] waits for a backed-up bus. */
  val DrainTimeoutMs: Long = 60000L

  /** Register a fresh listener on `sc`. */
  def attach(sc: SparkContext): StageTelemetry = {
    val t = new StageTelemetry(sc)
    sc.addSparkListener(t)
    t
  }

  /** One job; times are the scheduler's event times (epoch ms), `endMs`
    * is -1 while it runs. `description` is the job's own, else its SQL
    * execution's, else its result stage's call site.
    */
  final case class Job(id: Int, group: Option[String], description: String,
      startMs: Long, endMs: Long, stageIds: Seq[Int])

  /** One stage attempt. `tasks` counts finished tasks, `partitions` the
    * attempt's task slots; `readTasks`/`maxTaskRead` cover the tasks
    * that read shuffle bytes. `wallMs` is submission to completion.
    */
  final case class Stage(id: Int, attempt: Int, job: Int, name: String = "",
      partitions: Int = 0, wallMs: Long = -1L, completed: Boolean = false,
      tasks: Int = 0, inputBytes: Long = 0L, readBytes: Long = 0L,
      writeBytes: Long = 0L, readTasks: Int = 0, maxTaskRead: Long = 0L,
      spillBytes: Long = 0L) {
    /** Intra-stage max/mean task shuffle read; 0 without read tasks. */
    def skew: Double =
      if (readTasks == 0) 0.0
      else maxTaskRead.toDouble / (readBytes.toDouble / readTasks)
  }

  /** The bench's per-run shuffle fields. `skew` is the historical
    * CROSS-stage max/mean task read; `stageSkew` the worst INTRA-stage
    * ratio, which is the one that detects a hot key (a run whose stages
    * have different per-task sizes by design reads as "skewed" on the
    * cross-stage ratio: timeseries_chain read 9.3 for years from a
    * 5.8 MB/task aggregate stage next to a 0.35 MB/task window stage,
    * both internally uniform).
    */
  final case class Totals(writeBytes: Long, readBytes: Long,
      maxTaskRead: Long, readTasks: Long, skew: Double, spillBytes: Long,
      stageSkew: Double)

  def totals(stages: Seq[Stage]): Totals = {
    val read = stages.map(_.readBytes).sum
    val readTasks = stages.map(_.readTasks.toLong).sum
    val maxRead = stages.map(_.maxTaskRead).maxOption.getOrElse(0L)
    Totals(stages.map(_.writeBytes).sum, read, maxRead, readTasks,
      if (readTasks == 0) 0.0 else maxRead.toDouble / (read.toDouble / readTasks),
      stages.map(_.spillBytes).sum, stageSkew(stages))
  }

  /** Worst intra-stage max/mean over the MATERIAL shuffle-read stages
    * (>= 1% of the read bytes — a 3-task broadcast-prep stage must not
    * flag a "hot key" on a run whose 10 GB exchange is uniform; when
    * every stage is below the floor, all count).
    */
  def stageSkew(stages: Seq[Stage]): Double = {
    val reading = stages.filter(_.readTasks > 0)
    val floor = reading.map(_.readBytes).sum / 100
    val eligible = reading.filter(_.readBytes >= floor)
    (if (eligible.nonEmpty) eligible else reading).map(_.skew)
      .maxOption.getOrElse(0.0)
  }
}
