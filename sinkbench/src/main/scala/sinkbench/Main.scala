package sinkbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.parse.Projector.Dim
import graft.sink.ChWriter
import graft.streaming.{Metrics, Pipeline, SinkerApp}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, results: File)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toInt, trace = need("trace") == "1",
      work = new File(need("work")), results = new File(need("results")))
    val code =
      try {
        val out = new Run(a).execute()
        println(out.line)
        if (out.correct) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"[sinkbench] run failed: $e"); e.printStackTrace(); 2
      }
    System.out.flush(); System.err.flush()
    // leave no Spark threads behind
    Runtime.getRuntime.halt(code)
  }
}

final case class Outcome(line: String, correct: Boolean)

/** One benchmark run of one workload: setup, catch-up over a pre-filled
  * backlog, then an open-loop phase at a fixed rate; with `trace`, also the
  * traced per-layer measurements.
  */
final class Run(a: Args) {
  import Run.Group
  private val w = Workloads.byName(a.workload)
  private val F = w.filesPerTrigger
  /** Spark's local cores; the generator thread gets the remaining one. */
  private val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
  private val deadline = System.nanoTime() + 165L * 1000000000L
  private val t0 = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[sinkbench] ${(System.nanoTime() - t0) / 1e9}%6.1fs $s")

  // ---- layout: every message has a unique id; files are rendered up front
  private val setupReps = 3
  private val setupRows = 500
  /** Whole batches, at least five (schema drift puts cohorts in 1-3). */
  private def roundFiles(rows: Double): Int =
    math.max(5, math.ceil(rows / w.rowsPerFile / F).toInt) * F
  private val backlogFiles = roundFiles(0.6 * a.seconds * w.catchupRowsPerSecond)
  private val warmFiles = 2 * F
  // at most 5 files a second: fewer than a trigger's maxFilesPerTrigger
  private val tickMs = 200
  private val ticks = (0.4 * a.seconds * 1000 / tickMs).toInt
  private val rowsPerTick = w.offeredRowsPerSecond * tickMs / 1000
  private val refFiles = if (a.trace) F else 0
  private val oneCoreFiles = if (a.trace) 2 * F else 0

  private val groups = ArrayBuffer.empty[Group]
  private var nextId = 0
  private def group(name: String, nFiles: Int, rowsPer: Int): Group = {
    val g = Group(name, (0 until nFiles).map { i =>
      val r = nextId until nextId + rowsPer
      nextId += rowsPer
      new File(a.work, s"stage/$name-${"%05d".format(i)}.txt") -> r
    })
    groups += g; g
  }
  private val setupG = (0 until setupReps).map(r => group(s"setup$r", 1, setupRows))
  private val warmG = group("warm", warmFiles, w.rowsPerFile)
  private val backlogG = group("backlog", backlogFiles, w.rowsPerFile)
  private val openG = group("open", ticks, rowsPerTick)
  private val refWG = if (a.trace) Some(group("refW", refFiles, w.rowsPerFile)) else None
  private val refAG = if (a.trace) Some(group("refA", refFiles, w.rowsPerFile)) else None
  private val refBG = if (a.trace) Some(group("refB", refFiles, w.rowsPerFile)) else None
  private val oneCoreG = if (a.trace) Some(group("onecore", oneCoreFiles, w.rowsPerFile / 2)) else None
  private val gen = w.newGen(a.seed,
    Phase(backlogG.ids.start, backlogG.ids.size, F * w.rowsPerFile))
  private val exp = new Expected(nextId, w.baseCols, w.idCol, gen)

  /** Render every file, in parallel (before the session exists, so the
    * cores are idle).
    */
  private def render(): Unit = {
    // distinct, increasing mtimes: the file source plans batches in
    // modification-time order
    val mtime0 = System.currentTimeMillis() - 3600L * 1000L
    val jobs = groups.toSeq.flatMap(g => g.files.zipWithIndex.map { case ((f, ids), i) =>
      (f, ids, if (g.name == "open") i.toLong * tickMs else -1L) }).zipWithIndex
    new File(a.work, "stage").mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try jobs.map { case ((f, ids, stamp), k) => pool.submit(() => {
        val sb = new java.lang.StringBuilder(ids.size * 200)
        ids.foreach { id =>
          val (line, shard, hash) = gen.message(id, stamp)
          exp.shard(id) = shard.toByte; exp.hash(id) = hash
          sb.append(line).append('\n')
        }
        Files.write(f.toPath, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.setLastModified(mtime0 + k * 1000L)
      }) }.foreach(_.get())
    finally pool.shutdown()
  }
  private def expectedDelivered(ids: Range): Int = ids.count(exp.shard(_) >= 0)

  private def publish(g: Group, dir: File): Unit = g.files.foreach { case (f, _) => move(f, dir) }
  /** Rename a rendered file into a source directory (names are unique). */
  private def move(f: File, dir: File): Unit = {
    dir.mkdirs()
    Files.move(f.toPath, new File(dir, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    located.put(f, new File(dir, f.getName))
  }
  private val located = new java.util.concurrent.ConcurrentHashMap[File, File]()
  private def loc(f: File): File = located.getOrDefault(f, f)

  private def waitUntil(what: String)(cond: => Boolean): Long = {
    while (!cond) {
      if (System.nanoTime() > deadline) throw new RuntimeException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
    System.nanoTime()
  }

  // ---- session, source and sink as the sinker's operators wire them
  private var spark: SparkSession = _
  private val progress = new ProgressLog
  private val engine = new EngineLog
  private var programMetrics: Metrics = _
  private val ddl = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

  /** The benchmark's bounded file source: `Pipeline.fileSource`'s columns,
    * plus `maxFilesPerTrigger` so a backlog arrives as many batches.
    */
  private def source(dir: File): DataFrame =
    spark.readStream.format("text").option("maxFilesPerTrigger", F.toString)
      .load(dir.getPath)
      .select(
        lit(null).cast("string").as("key"),
        col("value"),
        lit(w.task.topic).as("topic"),
        lit(0).as("partition"),
        crc32(col("value").cast("binary")).as("offset"),
        current_timestamp().as("timestamp"))

  private trait Handle {
    def queryId: String; def stop(): Unit; def restarts: Int; def newKeys: Int }

  private def start(dir: File, ck: File, mode: String): Handle = {
    val spec = (dims: Seq[Dim]) => Run.sinkSpec(w, dims, mode)
    if (!w.task.dynamicSchema) {
      val q = Pipeline.start(spark, source(dir), w.task, w.dims, spec(w.dims), ck.getPath,
        metrics = Some(programMetrics))
      new Handle {
        val queryId = q.id.toString
        def stop(): Unit = q.stop()
        def restarts = 0
        def newKeys = 0
      }
    } else {
      val app = new SinkerApp(spark, _ => source(dir), (_, dims) => spec(dims),
        execDdl = s => { ddl.add(System.currentTimeMillis() -> s); () },
        checkpointRoot = ck.getPath, metrics = Some(programMetrics))
      val q = app.startTask(w.task, w.dims)
      new Handle {
        val queryId = q.id.toString
        def stop(): Unit = app.stopAll()
        def restarts = app.restartCount(w.task.name)
        def newKeys = app.currentDims(w.task.name).size - w.dims.size
      }
    }
  }

  private def newSession(cores: Int): Unit = {
    spark = GraftSession.local(cores)
    spark.streams.addListener(progress)
    programMetrics = Metrics.install(spark)
  }

  // ---- the run
  def execute(): Outcome = {
    val env = new Env
    val rssStart = Stats.rssPeakMb()
    render()
    log("rendered")
    Discard.register()
    Ledger.reset(exp)
    log(s"${w.name}: ${nextId} messages rendered; backlog $backlogFiles files, " +
      s"open loop $ticks ticks x $rowsPerTick rows")

    // setup: session creation, then query start -> first batch committed,
    // several times on fresh checkpoints (median reported)
    val s0 = System.nanoTime()
    newSession(cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val repS = setupG.zipWithIndex.map { case (g, r) =>
      val dir = new File(a.work, s"src_setup$r")
      publish(g, dir)
      val t0 = System.nanoTime()
      val h = start(dir, new File(a.work, s"ck/setup$r"), "main")
      val t1 = waitUntil("first setup batch")(progress.of(h.queryId).exists(_.rows > 0))
      h.stop()
      (t1 - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(repS)
    log(f"setup: session $sessionS%.3f s, first commit ${repS.map(x => f"$x%.3f").mkString(", ")} s")

    // warm-up: the main query first drains a few base-shape batches, so the
    // measured catch-up runs on JIT-compiled code, not on the warm-up curve
    val src = new File(a.work, "src")
    src.mkdirs()
    val main = start(src, new File(a.work, "ck/main"), "main")
    drain(warmG, src, main)
    log("warmed up")

    // catch-up over a pre-filled backlog, published all at once
    if (a.trace) spark.sparkContext.addSparkListener(engine)
    val cpu0 = Stats.processCpuNanos(); val gc0 = Stats.gcMillis()
    val catchBatches = drain(backlogG, src, main)
    val cpuS = (Stats.processCpuNanos() - cpu0) / 1e9
    val gcS = (Stats.gcMillis() - gc0) / 1e3
    val catchUp = Run.throughput(catchBatches)
    val catchMs = catchBatches.map(_.triggerMs.toDouble)
    log(f"catch-up: ${catchBatches.size} batches, ${catchUp}%.0f rows/s")

    // open loop: the generator publishes one file per tick on a fixed
    // schedule, whatever the sinker does. The trigger fires on whole
    // multiples of its interval; publishing on a fixed phase of that grid
    // (half a tick past each slot) makes the wait for the next trigger
    // average half an interval in every run, instead of depending on where
    // in the interval the run happened to start.
    val nowMs = System.currentTimeMillis(); val nowNs = System.nanoTime()
    val intervalMs = w.task.flushInterval * 1000L
    val openStartMs = (nowMs / intervalMs + 1) * intervalMs + tickMs / 2
    val openStart = nowNs + (openStartMs - nowMs) * 1000000L
    Ledger.openStartNanos = openStart
    var lateMax = 0.0
    val published = new ArrayBuffer[(Long, Long)]() // (epoch ms, cumulative rows)
    val genThread = new Thread(() => {
      var rows = 0L
      openG.files.zipWithIndex.foreach { case ((f, ids), k) =>
        val due = openStart + k.toLong * tickMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L), 0); now = System.nanoTime() }
        move(f, src)
        val late = (System.nanoTime() - due) / 1e6
        if (late > lateMax) lateMax = late
        rows += ids.size
        published.synchronized(published += (System.currentTimeMillis() -> rows))
      }
    }, "sinkbench-generator")
    log("open loop")
    val openBefore = Ledger.delivered.get
    val openAfter = lastBatchId(main)
    genThread.start()
    genThread.join()
    waitUntil("open-loop drain")(Ledger.delivered.get >= openBefore + expectedDelivered(openG.ids))
    val openEndMs = System.currentTimeMillis()
    val lat = Ledger.latenciesMs(openG.ids).toSeq
    val openBatches = progress.of(main.queryId).filter(b => b.batchId > openAfter && b.rows > 0)

    val (layers, dropsOk) = if (a.trace) traced(main, src, catchBatches, openBatches,
      openStartMs, openEndMs, published.toSeq, lateMax, gcS)
      else (Map.empty[String, (Double, String)], true)
    if (!a.trace) main.stop()

    // correctness: every expected row exactly once, on its shard, typed as
    // the generator says; designed drops never arrive
    val offered = groups.filterNot(g => oneCoreG.contains(g)).map(_.ids)
    val attempted = offered.map(_.size).sum
    val missing = offered.map(Ledger.missing).sum
    val failed = missing + Ledger.wrong.sum + Ledger.duplicated.sum
    Ledger.firstErrors.asScala.foreach(e => log(s"MISMATCH $e"))
    log(s"correctness: attempted $attempted, delivered ${Ledger.delivered.get}, missing $missing, " +
      s"wrong ${Ledger.wrong.sum}, duplicated ${Ledger.duplicated.sum}")

    val (tail, tailP) = Stats.tail(catchMs)
    val e2e: Seq[(String, (Double, String))] = Seq(
      "setup_s" -> (setupS, "s"),
      "catchup_rows_per_s" -> (catchUp, "rows/s"),
      "batch_ms_p50" -> (Stats.median(catchMs), "ms"),
      "batch_ms_tail" -> (tail, "ms"),
      "latency_ms_p50" -> (Stats.median(lat), "ms"),
      "latency_ms_p99" -> (Stats.percentile(lat, 0.99), "ms"),
      "cpu_s_per_mrow" -> (cpuS / (catchBatches.map(_.rows).sum / 1e6), "s"),
      "rss_peak_mb" -> (math.max(rssStart, Stats.rssPeakMb()), "MB"))
    val metrics = if (a.trace) layers.toSeq.sortBy(_._1) else e2e
    val correct = failed == 0 && dropsOk

    val detail = Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> a.trace.toString, "cores" -> cores.toString,
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failed_share" -> Json.num(failed.toDouble / attempted),
      "missing" -> missing.toString, "wrong" -> Ledger.wrong.sum.toString,
      "duplicated" -> Ledger.duplicated.sum.toString,
      "samples" -> Json.obj(Seq(
        "setup_reps" -> repS.size.toString, "session_s" -> Json.num(sessionS),
        "catchup_batches" -> catchBatches.size.toString,
        "batch_ms_samples" -> catchMs.size.toString,
        "batch_ms_tail_percentile" -> Json.num(tailP),
        "catchup_batch_ms" -> catchBatches.map(_.triggerMs).mkString("[", ", ", "]"),
        "catchup_batch_rows" -> catchBatches.map(_.rows).mkString("[", ", ", "]"),
        "latency_samples" -> lat.size.toString)),
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.obj(Seq(
        "value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "environment" -> env.json(),
      "program_metrics" -> programSnapshot()))
    a.results.mkdirs()
    val tag = s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.write(new File(a.results, s"$tag.json").toPath, detail.getBytes("UTF-8"))

    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Outcome(line, correct)
  }

  /** The program's own `Metrics` snapshot, recorded beside the benchmark's
    * counts (which are the ground truth): its write histogram times the
    * whole lazy batch, not the writer; `WriteStats` and parse drops are not
    * exported at all.
    */
  private def programSnapshot(): String = {
    val m = programMetrics
    val (_, sumMs, count) = m.writeHistogram
    Json.obj(Seq(
      "graft_batches_completed" -> m.batchesCompleted.sum.toString,
      "graft_rows_consumed" -> m.rowsConsumed.sum.toString,
      "graft_write_duration_ms_sum" -> sumMs.toString,
      "graft_write_duration_ms_count" -> count.toString,
      "graft_restart_failures" -> m.restartFailures.sum.toString,
      "benchmark_sink_write_busy_ms" -> Json.num(TimedWriter.main.busyNanos.sum / 1e6),
      "benchmark_rows_written" -> Discard.main.rows.sum.toString,
      "prometheus" -> Json.str(m.prometheus)))
  }

  // ---- traced run: per-layer counters, replay spans, baselines
  private def traced(main: Handle, src: File, catchBatches: Seq[BatchRec],
      openBatches: Seq[BatchRec], openStartMs: Long, openEndMs: Long,
      published: Seq[(Long, Long)], lateMax: Double,
      gcS: Double): (Map[String, (Double, String)], Boolean) = {
    val out = scala.collection.mutable.Map.empty[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = out(k) = (v, u)
    def putL(k: String, v: Long, u: String): Unit = out(k) = (v.toDouble, u)
    def p50(f: BatchRec => Long) = Stats.median(catchBatches.map(b => f(b).toDouble))

    // streaming
    putL("streaming.batches", (catchBatches ++ openBatches).size, "count")
    put("streaming.trigger_ms_p50", p50(_.triggerMs), "ms")
    put("streaming.add_batch_ms_p50", p50(_.d("addBatch")), "ms")
    put("streaming.overhead_ms_p50", p50(b => b.triggerMs - b.d("addBatch")), "ms")
    put("streaming.plan_ms_p50", p50(_.d("queryPlanning")), "ms")
    put("streaming.wal_commit_ms_p50", p50(_.d("walCommit")), "ms")
    put("streaming.commit_offsets_ms_p50", p50(_.d("commitOffsets")), "ms")
    put("streaming.source_list_ms_p50", p50(_.d("latestOffset")), "ms")
    put("streaming.source_get_batch_ms_p50", p50(_.d("getBatch")), "ms")
    // open loop: rows published but not yet read when each batch started
    var consumed = 0L
    val backlogs = openBatches.map { b =>
      val avail = published.filter(_._1 <= b.startMs).lastOption.map(_._2).getOrElse(0L)
      val v = avail - consumed; consumed += b.rows; v.toDouble
    }
    put("streaming.backlog_rows_max", (0.0 +: backlogs).max, "rows")
    put("streaming.idle_share",
      1.0 - openBatches.map(_.triggerMs).sum.toDouble / math.max(1L, openEndMs - openStartMs), "ratio")

    // shard + engine, per steady catch-up batch
    val eng = engine.perBatch(catchBatches.map(b => b.queryId -> b.batchId))
    put("engine.jobs_per_batch", Stats.median(eng.map(_.jobs.toDouble)), "count")
    put("engine.stages_per_batch", Stats.median(eng.map(_.stages.toDouble)), "count")
    put("engine.tasks_per_batch", Stats.median(eng.map(_.tasks.toDouble)), "count")
    put("engine.gc_s", gcS, "s")
    putL("shard.exchange_write_bytes", eng.map(_.shuffleWrite).sum, "bytes")
    putL("shard.exchange_read_bytes", eng.map(_.shuffleRead).sum, "bytes")
    put("shard.exchange_ms", eng.map(_.exchangeMs).sum, "ms")
    putL("shard.spill_bytes", eng.map(_.spill).sum, "bytes")
    val perShard = (0 until w.numShards).map(s => Ledger.perShard.get(s).toDouble)
    put("shard.skew_max_over_mean", perShard.max / (perShard.sum / w.numShards), "ratio")

    // sink (main writes so far)
    val tw = TimedWriter.main
    put("sink.write_busy_s", tw.busyNanos.sum / 1e9, "s")
    put("sink.execute_busy_s", Discard.main.executeNanos.sum / 1e9, "s")
    putL("sink.flushes", tw.flushes.sum, "count")
    put("sink.rows_per_flush_mean", tw.rows.sum.toDouble / math.max(1L, tw.flushes.sum), "rows")
    putL("sink.opens", tw.opens.sum, "count")
    putL("sink.retries", tw.failedCalls.sum, "count")
    putL("sink.bad_rows", tw.badRows.sum, "count")

    // dynamic
    val restartPauses = ddl.asScala.toSeq.flatMap { case (t, _) =>
      progress.of(main.queryId).find(b => b.startMs > t && b.rows > 0).map(b => (b.endMs - t).toDouble)
    }
    putL("dynamic.new_keys", main.newKeys, "count")
    putL("dynamic.ddl_statements", ddl.size, "count")
    putL("dynamic.restarts", main.restarts, "count")
    put("dynamic.restart_pause_ms_max", (0.0 +: restartPauses).max, "ms")

    // generator
    put("gen.offered_rows_per_s",
      published.last._2 / ((published.last._1 - published.head._1) / 1000.0 + tickMs / 1000.0), "rows/s")
    put("gen.late_ms_max", lateMax, "ms")

    // tracing overhead: one base-shape batch untraced, then one traced,
    // after a batch that takes the first-batch-after-idle cost
    spark.sparkContext.removeSparkListener(engine)
    drain(refWG.get, src, main)
    // rows per second of batch execution, so that idle time between
    // triggers does not count
    def busyRate(bs: Seq[BatchRec]) = bs.map(_.rows).sum * 1000.0 / bs.map(_.triggerMs).sum
    val bsA = drain(refAG.get, src, main)
    spark.sparkContext.addSparkListener(engine)
    val bsB = drain(refBG.get, src, main)
    def show(bs: Seq[BatchRec]) = bs.map(b => s"${b.rows} rows/${b.triggerMs} ms").mkString(", ")
    log(s"trace overhead: untraced ${show(bsA)}; traced ${show(bsB)}")
    val (rpsA, rpsB) = (busyRate(bsA), busyRate(bsB))
    put("trace.overhead_share", 1.0 - rpsB / rpsA, "ratio")
    main.stop()
    spark.sparkContext.removeSparkListener(engine)

    val replay = new Replay(spark, w, a)
    // the k-th catch-up batch read backlog files [k*F, (k+1)*F)
    val batchFiles = catchBatches.map(_.batchId).distinct.zipWithIndex.map { case (b, k) =>
      b -> backlogG.files.slice(k * F, (k + 1) * F).map(f => loc(f._1)) }
    out ++= replay.run(batchFiles.slice(1, 3), catchBatches)
    val (drops, dropsOk) = replay.dropCounts(groups.filterNot(g => oneCoreG.contains(g))
      .flatMap(_.files).map { case (f, ids) => loc(f) -> ids }.toSeq, exp)
    out ++= drops

    // one-core baseline of the same catch-up
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    newSession(1)
    val before = Discard.replay.rows.sum
    val want = expectedDelivered(oneCoreG.get.ids)
    val dir1 = new File(a.work, "src_onecore")
    publish(oneCoreG.get, dir1)
    val h1 = start(dir1, new File(a.work, "ck/onecore"), "replay")
    waitUntil("one-core drain")(Discard.replay.rows.sum >= before + want &&
      progress.of(h1.queryId).map(_.rows).sum >= oneCoreG.get.ids.size)
    // a fresh session: the first batch is the warm-up
    put("streaming.catchup_rows_per_s_1core",
      Run.throughput(progress.of(h1.queryId).filter(_.rows > 0).drop(1)), "rows/s")
    h1.stop()
    (out.toMap, dropsOk)
  }

  /** The last batch that read data. Batch ids grow within a query (across
    * restarts too), so later batches read only what was published later; a
    * trigger's start time cannot tell that apart, as it may precede the
    * listing that sees a new file. (Idle progress events carry the next,
    * not yet run, batch id: they are skipped.)
    */
  private def lastBatchId(h: Handle): Long =
    progress.of(h.queryId).filter(_.rows > 0).map(_.batchId).maxOption.getOrElse(-1L)

  /** Publish a group into the live query's directory and wait until every
    * expected row arrived and every batch that read it committed; returns
    * those batches.
    */
  private def drain(g: Group, src: File, h: Handle): Seq[BatchRec] = {
    val after = lastBatchId(h)
    val want = Ledger.delivered.get + expectedDelivered(g.ids)
    publish(g, src)
    def batches = progress.of(h.queryId).filter(b => b.batchId > after && b.rows > 0)
    waitUntil(s"${g.name} drain")(Ledger.delivered.get >= want &&
      batches.map(_.rows).sum >= g.ids.size)
    batches
  }
}

object Run {
  /** Rendered input files with the message ids each holds. */
  final case class Group(name: String, files: Seq[(File, Range)]) {
    def ids: Range = files.head._2.start until files.last._2.end
  }

  /** Input rows per second over consecutive batches, from the start of the
    * first to the end of the last.
    */
  def throughput(bs: Seq[BatchRec]): Double = {
    require(bs.nonEmpty, "no batches to time")
    bs.map(_.rows).sum * 1000.0 / math.max(1L, bs.last.endMs - bs.head.startMs)
  }

  /** The sink as an operator would configure it: the shipped JDBC writer,
    * one endpoint per shard. Built here, outside [[Run]], so the writer
    * factory captures only serializable values.
    */
  def sinkSpec(w: Workload, dims: Seq[Dim], mode: String): Pipeline.SinkSpec = {
    val urls = (0 until w.numShards).map(s => s -> Discard.url(mode, s)).toMap
    val cols = dims.map(_.name)
    val Array(db, tbl) = w.task.tableName.split('.')
    val mk: () => ChWriter.RowWriter =
      if (mode == "main") () => new TimedWriter(new ChWriter.JdbcRowWriter(urls, db, tbl, cols, Map.empty))
      else () => new ChWriter.JdbcRowWriter(urls, db, tbl, cols, Map.empty)
    Pipeline.SinkSpec(w.numShards,
      ChWriter.WriteConfig(w.numShards, retryTimes = 3, retryDelayMs = 100L), mk, w.writersPerShard)
  }
}
