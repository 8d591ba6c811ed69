package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.annotation.unused

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.{ConfigReload, TaskConfig}
import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.parse.Projector.Dim
import graft.types.ChKind

/** The driver loop (SURVEY §3.2-§3.3): owns per-task streaming queries,
  * wires schema introspection -> projection dims, and evolves a
  * dynamic-schema task inside the batch that found its new keys — the
  * lifecycle of the reference's Sinker.Run / applyConfig / cloneTask
  * chain, minus Nacos (Spark's own cluster manager schedules; SURVEY
  * C1-C2 non-goals).
  *
  * Each task is its own streaming query over its own source (C4): it
  * filters that source by its routing predicate (FL7) and writes to its
  * own sink. So a task's schema change touches no other task, and needs
  * no restart: the reference restarts because every task of a group
  * shares one consumer and its parser (task/task.go:198-219).
  */
final class SinkerApp(
    spark: SparkSession,
    mkSource: TaskConfig => DataFrame,
    mkSink: (TaskConfig, Seq[Dim]) => Pipeline.SinkSpec,
    /** Executes DDL against ClickHouse (or records it under test). */
    execDdl: String => Unit,
    checkpointRoot: String,
    /** Passed to every task's query (write counters); a failed query
      * shows there when it is also the session's query listener.
      */
    metrics: Option[Metrics] = None) {

  /** Live schema per task: dims evolve as ALTERs land. */
  private val schemas = new ConcurrentHashMap[String, Seq[Dim]]()
  private val queries = new ConcurrentHashMap[String, StreamingQuery]()

  def currentDims(task: String): Seq[Dim] = schemas.get(task)
  /** Always 0: a schema change no longer restarts the query. Kept only
    * for the sinkbench harness, which reads it.
    */
  def restartCount(@unused task: String): Int = 0
  def query(name: String): Option[StreamingQuery] = Option(queries.get(name))

  /** Start one task (one streaming query). A dynamicSchema task whose
    * `tableName` its ALTERs could not name is refused here, before any
    * query starts ([[dbTable]]).
    */
  def startTask(task: TaskConfig, initialDims: Seq[Dim]): StreamingQuery = {
    if (task.dynamicSchema) dbTable(task)
    schemas.putIfAbsent(task.name, initialDims)
    val dims = schemas.get(task.name)
    val src  = Pipeline.routingFilter(mkSource(task), task)
    val q = Pipeline.start(spark, src, task, dims,
      mkSink(task, dims), s"$checkpointRoot/${task.name}",
      onNewKeys = keys => Some(evolve(task, keys)), metrics = metrics)
    queries.put(task.name, q)
    q
  }

  /** §3.3 — dynamic schema evolution, run by the batch that found the
    * keys, before any of its rows is written: issue the ALTERs, then
    * widen the task's dims and build their sink. An ALTER that throws
    * fails the batch unwritten, with its offsets uncommitted; a task
    * started again from the checkpoint replays it, and `ADD COLUMN IF NOT
    * EXISTS` makes the repeated ALTERs safe.
    */
  private def evolve(task: TaskConfig,
      keys: Seq[(String, ChKind)]): (Seq[Dim], Pipeline.SinkSpec) = {
    val dims = schemas.get(task.name)
    val (db, tbl) = dbTable(task)
    SchemaEvolution.changeSchemaStatements(db, tbl, dims.size, keys,
      NewKeyPolicy()).foreach(execDdl)
    val widened = SchemaEvolution.widen(dims, keys)
    schemas.put(task.name, widened)
    (widened, mkSink(task, widened))
  }

  /** `tableName` as (database, table): `table` (in `default`) or
    * `db.table`, every part non-empty; anything else is refused.
    */
  private def dbTable(task: TaskConfig): (String, String) =
    task.tableName.split("\\.", -1) match {
      case Array(d, t) if d.nonEmpty && t.nonEmpty => (d, t)
      case Array(t) if t.nonEmpty                  => ("default", t)
      case _ => throw new IllegalArgumentException(
        s"task ${task.name}: tableName '${task.tableName}' is not " +
          "`table` or `db.table`")
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
    }
    (plan.startTasks ++ plan.restartTasks).foreach { n =>
      byName.get(n).foreach(t => startTask(t, dimsFor(t)))
    }
    plan
  }
}
