package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Prometheus-mode series deduplication (SURVEY FL5/ST5/D5; reference
  * `output/clickhouse.go:163-228`, `task/sinker.go:561-718`).
  *
  * Each datapoint splits into a metric row (always written) and a series
  * row (written once per `__series_id__`, re-written when the series'
  * `__mgmt_id__` mapping changes, rate-limited by a quota). The reference
  * keeps `map[sid]mid` in memory seeded from ClickHouse; here the state
  * lives in Spark's streaming state store (checkpointed, partitioned by
  * sid — so it scales horizontally instead of being bounded by one
  * process's heap), with an optional bootstrap snapshot unioned in as a
  * seed batch.
  */
object SeriesDedup {

  final case class SeriesRow(sid: Long, mid: Long, labels: String)

  /** Labels sentinel marking a RE-SEED row (periodic series-map reload,
    * ST5): it syncs the state store with rows written by OTHER instances
    * and is never emitted. A NUL byte (U+0000) cannot appear in real
    * labels JSON.
    */
  val SeedMarker: String = "\u0000reseed"

  /** Re-seed rows from a fresh ClickHouse snapshot (the reference reloads
    * `map[sid]mid` every `ReloadSeriesMapInterval` restricted to
    * `ActiveSeriesRange` — task/sinker.go:561-718). Inject these into the
    * dedup input (union / MemoryStream.addData / a side topic): each
    * updates its sid's state without emitting, so a series another
    * instance already wrote stops re-emitting here.
    */
  def seedRows(snapshot: org.apache.spark.sql.DataFrame): Dataset[SeriesRow] = {
    import snapshot.sparkSession.implicits._
    bootstrapFromSnapshot(snapshot)
      .map { case (sid, mid) => SeriesRow(sid, mid, SeedMarker) }
  }

  /** Quota parity: at most `writtenQuota` changed-series rewrites per
    * `windowMs` (WrSeriesQuota 16384 / 10 s, output/clickhouse.go:59,
    * 173-183). New series are never quota-dropped. Scope delta vs the
    * reference: its quota is process-global; this instance is captured in
    * the flatMapGroupsWithState closure and deserialized per TASK with
    * its @transient counters reset, so the effective window is
    * per-task-attempt — the global budget multiplies by the number of
    * state partitions (an upper bound, still bounded; acceptable for a
    * rate limiter). Inside [[dedup]] the window clock is the BATCH's
    * processing time (GroupState's stored trigger timestamp), not wall
    * clock — so a recovered/replayed batch makes the same quota decisions
    * it made the first time.
    */
  final class WriteQuota(val quota: Int, val windowMs: Long) extends Serializable {
    @transient private var windowStart = 0L
    @transient private var written     = 0
    def allow(now: Long = System.currentTimeMillis()): Boolean = synchronized {
      if (now - windowStart >= windowMs) { windowStart = now; written = 0 }
      if (written < quota) { written += 1; true } else false
    }
  }

  /** AllowWriteSeries as a flatMapGroupsWithState function: emit the row
    * when the sid is unseen or its mid changed (quota-gated).
    *
    * `bootstrap` seeds the state store with a (sid, mid) snapshot before
    * the first batch — the reference loads `map[sid]mid` from ClickHouse
    * at startup (task/sinker.go:561-614: the DISTINCT (sid, mid) pairs of
    * the series active in the reload window): pre-seeded sids with an
    * unchanged mid never re-emit across restarts.
    */
  def dedup(rows: Dataset[SeriesRow], quota: WriteQuota,
      stateTtl: Option[String] = None,
      bootstrap: Option[Dataset[(Long, Long)]] = None): Dataset[SeriesRow] = {
    import rows.sparkSession.implicits._
    // a TTL bounds state like the reference's ActiveSeriesRange reload
    // window; note processing-time timeouts keep the query ticking, so
    // tests (and drain-to-quiescence callers) run without one
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val fn = (_: Long, it: Iterator[SeriesRow], state: GroupState[Long]) => {
      stateTtl.foreach(state.setTimeoutDuration)
      var out = List.empty[SeriesRow]
      it.foreach { r =>
        if (r.labels == SeedMarker) {
          // periodic re-seed (ST5): adopt the snapshot's mapping, emit
          // nothing — the row is already persisted (by another instance)
          state.update(r.mid)
        } else if (!state.exists) {
          state.update(r.mid)
          out = r :: out
        } else if (state.get != r.mid &&
            quota.allow(state.getCurrentProcessingTimeMs())) {
          state.update(r.mid)
          out = r :: out
        }
      }
      out.reverseIterator
    }
    val grouped = rows.groupByKey(_.sid)
    bootstrap match {
      case Some(b) =>
        grouped.flatMapGroupsWithState[Long, SeriesRow](
          OutputMode.Append(), timeoutConf, b.groupByKey(_._1).mapValues(_._2))(fn)
      case None =>
        grouped.flatMapGroupsWithState[Long, SeriesRow](
          OutputMode.Append(), timeoutConf)(fn)
    }
  }

  /** Adapter: a ClickHouse series snapshot (the reference's startup
    * load, task/sinker.go:561-614, read over JDBC) -> bootstrap
    * dataset for [[dedup]]. The snapshot is DISTINCT (sid, mid) PAIRS —
    * a series whose mid was ever rewritten appears once per mid (a
    * ReplacingMergeTree dedups only eventually) — and
    * flatMapGroupsWithState rejects duplicate initial-state keys, so
    * reduce to one row per sid here (max mid = the rewrite winner).
    */
  def bootstrapFromSnapshot(df: org.apache.spark.sql.DataFrame): Dataset[(Long, Long)] = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, max}
    df.select(
      col("__series_id__").cast("long").as("sid"),
      col("__mgmt_id__").cast("long").as("mid"))
      .groupBy(col("sid")).agg(max(col("mid")).as("mid"))
      .as[(Long, Long)]
  }

  /** Driver-side re-seed ticker: every `intervalMs` runs `tick` (which
    * should read the active range's series snapshot and inject
    * [[seedRows]] into the stream). Mirrors the reference's
    * ReloadSeriesMapInterval loop (task/sinker.go:135-286); tick failures
    * are logged and the ticker keeps running.
    */
  final class Reseeder(intervalMs: Long)(tick: () => Unit) extends AutoCloseable {
    private val exec =
      java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-series-reseed"); t.setDaemon(true); t
      })
    exec.scheduleAtFixedRate(() => {
      try tick()
      catch { case e: Exception =>
        System.err.println(s"[graft] series re-seed tick failed: ${e.getMessage}")
      }
    }, intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    override def close(): Unit = { exec.shutdownNow(); () }
  }

  /** Batch-mode equivalent (used by micro-batch pipelines and the oracle
    * queries): first row per sid, plus mid-changes vs a known snapshot.
    */
  def dedupBatch(rows: Dataset[SeriesRow]): Dataset[SeriesRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.sid)
      .reduceGroups((a, _) => a) // first occurrence wins per sid
      .map(_._2)
  }
}
