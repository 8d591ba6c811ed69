package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.{ConfigReload, TaskConfig}
import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.parse.Projector.Dim
import graft.types.{ChKind, ChTypeInfo}

/** The driver loop (SURVEY §3.2-§3.3): owns per-task streaming queries,
  * wires schema introspection -> projection dims, and runs the
  * stop-flush-ALTER-restart cycle when dynamic schema detects new keys —
  * the same lifecycle as the reference's Sinker.Run / applyConfig /
  * cloneTask chain, minus Nacos (Spark's own cluster manager schedules;
  * SURVEY C1-C2 non-goals).
  *
  * Tasks sharing a consumerGroup share one source DataFrame fan-out
  * (C4): each task filters the shared stream by its routing predicate
  * (FL7) and writes to its own sink.
  */
final class SinkerApp(
    spark: SparkSession,
    mkSource: TaskConfig => DataFrame,
    mkSink: (TaskConfig, Seq[Dim]) => Pipeline.SinkSpec,
    /** Executes DDL against ClickHouse (or records it under test). */
    execDdl: String => Unit,
    checkpointRoot: String,
    /** Restart failures surface here (and in `/state`) instead of dying
      * silently with the restart thread.
      */
    metrics: Option[Metrics] = None,
    restartRetries: Int = 3,
    restartRetryDelayMs: Long = 200L) {

  /** Live schema per task: dims evolve as ALTERs land. */
  private val schemas = new ConcurrentHashMap[String, Seq[Dim]]()
  private val queries = new ConcurrentHashMap[String, StreamingQuery]()
  private val restarts = new ConcurrentHashMap[String, Integer]()
  private val taskConfigs = new ConcurrentHashMap[String, TaskConfig]()
  /** All evolution restarts run on ONE thread: two tasks of a shared
    * group evolving in the same window must not bounce the group
    * concurrently (interleaved stop/start could leave a stale query
    * writing beside its replacement). `pendingBounce` coalesces bounces
    * queued for the same consumer group: the queued run reads the LATEST
    * schemas when it executes, so a second evolution arriving before it
    * starts needs no second bounce.
    */
  private val restartExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-evolution-restart"); t.setDaemon(true); t
    })
  private val pendingBounce = ConcurrentHashMap.newKeySet[String]()
  /** How long a batch that found new keys waits for its restart. */
  private val holdForRestartMs = 60000L

  def currentDims(task: String): Seq[Dim] = schemas.get(task)
  def restartCount(task: String): Int =
    Option(restarts.get(task)).map(_.intValue).getOrElse(0)
  def query(name: String): Option[StreamingQuery] = Option(queries.get(name))

  /** Start one task (one streaming query). */
  def startTask(task: TaskConfig, initialDims: Seq[Dim]): StreamingQuery = {
    schemas.putIfAbsent(task.name, initialDims)
    taskConfigs.put(task.name, task)
    val dims = schemas.get(task.name)
    val src  = Pipeline.routingFilter(mkSource(task), task)
    val q = Pipeline.start(spark, src, task, dims,
      mkSink(task, dims), s"$checkpointRoot/${task.name}",
      onNewKeys = keys => onNewKeys(task, keys), metrics = metrics)
    queries.put(task.name, q)
    q
  }

  /** §3.3 — dynamic schema evolution: issue ALTERs, refresh the cached
    * dims, and restart the query from its checkpoint under the new
    * schema. The in-flight micro-batch is re-run under the new schema,
    * never written under the old one: this callback holds the stream
    * thread until the restart's `stop()` interrupts it (a write racing
    * a slow stop lands under the old schema, with the batches after it).
    *
    * When the consumer group has more than one task, the WHOLE group is
    * bounced (the reference restarts the shared consumer before the ALTER
    * when `len(group.Tasks) > 1` — task/task.go:198-211): with a shared
    * source fan-out, siblings reading on while one task ALTERs would
    * observe a torn group state.
    */
  private def onNewKeys(task: TaskConfig, keys: Seq[(String, ChKind)]): Unit = {
    val dims = schemas.get(task.name)
    val (db, tbl) = task.tableName.split('.') match {
      case Array(d, t) => (d, t)
      case Array(t)    => ("default", t)
    }
    SchemaEvolution.changeSchemaStatements(db, tbl, dims.size, keys,
      NewKeyPolicy()).foreach(execDdl)
    val newDims = dims ++ keys.sortBy(_._1).map { case (k, kind) =>
      Dim(k, ChTypeInfo(kind, nullable = true,
        dateTime64Precision = if (kind == ChKind.DateTime) 3 else 0))
    }
    schemas.put(task.name, newDims)
    restarts.merge(task.name, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
    // restart asynchronously (stopping the query from inside its own
    // batch handler would deadlock on the streaming lock), serialized on
    // restartExec; skip if a bounce for this group is already queued
    if (pendingBounce.add(task.consumerGroup))
      restartExec.submit(new Runnable {
        def run(): Unit = {
          pendingBounce.remove(task.consumerGroup)
          restartAfterEvolution(task)
        }
      })
    // the stop ends this with an InterruptedException; past the bound
    // (a stop that never came) the batch writes under the old schema
    Thread.sleep(holdForRestartMs)
  }

  /** The restart thread body: bounce the task (or its whole group), with
    * bounded retries; a final failure is logged AND surfaced via
    * [[Metrics]] — never swallowed (the reference Fatal-exits so a
    * supervisor restarts it; a library can't exit the JVM, so visible +
    * retried is the equivalent).
    */
  private def restartAfterEvolution(task: TaskConfig): Unit = {
    import scala.jdk.CollectionConverters._
    val group = taskConfigs.values.asScala
      .filter(_.consumerGroup == task.consumerGroup).toSeq.sortBy(_.name)
    val targets = if (group.size > 1) group else Seq(task)
    targets.foreach { t =>
      Option(queries.get(t.name)).foreach { q =>
        try q.stop() catch { case _: Exception => () }
      }
    }
    targets.foreach { t =>
      var attempt = 0
      var started = false
      var lastErr: Throwable = null
      while (!started && attempt <= restartRetries) {
        try {
          startTask(t, schemas.get(t.name))
          started = true
          metrics.foreach(_.recordRestartSuccess(t.name))
        } catch {
          case e: Exception =>
            lastErr = e
            attempt += 1
            metrics.foreach(_.recordRestartFailure(t.name,
              Option(e.getMessage).getOrElse(e.getClass.getName)))
            if (attempt <= restartRetries) Thread.sleep(restartRetryDelayMs)
        }
      }
      if (!started)
        System.err.println(s"[graft] task ${t.name} failed to restart after " +
          s"$restartRetries retries: ${lastErr.getMessage}")
    }
  }

  def awaitAllProcessed(): Unit =
    queries.values().forEach(q => if (q.isActive) q.processAllAvailable())

  def stopAll(): Unit = queries.values().forEach(_.stop())

  /** C3 — config hot-reload with a deep diff (task/sinker.go:340-519):
    * stop removed/changed consumers, start new ones, re-init changed
    * tasks in place; untouched tasks keep running. Returns the applied
    * plan.
    */
  def applyConfig(oldTasks: Seq[TaskConfig], newTasks: Seq[TaskConfig],
      dimsFor: TaskConfig => Seq[Dim],
      globalSectionChanged: Boolean = false): ConfigReload.Plan = {
    val plan = ConfigReload.plan(oldTasks, newTasks, globalSectionChanged)
    val byName = newTasks.map(t => t.name -> t).toMap
    (plan.stopTasks ++ plan.restartTasks).foreach { n =>
      Option(queries.remove(n)).foreach(_.stop())
      // drop the cached schema so the restart re-introspects through
      // dimsFor — startTask's putIfAbsent would otherwise pin the OLD
      // config's dims onto the restarted query
      schemas.remove(n)
      taskConfigs.remove(n)
    }
    (plan.startTasks ++ plan.restartTasks).foreach { n =>
      byName.get(n).foreach(t => startTask(t, dimsFor(t)))
    }
    plan
  }
}
