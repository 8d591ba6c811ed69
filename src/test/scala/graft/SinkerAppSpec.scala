package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TaskConfig
import graft.parse.Projector.Dim
import graft.sink.ChWriter
import graft.streaming.{Metrics, OpsServer, Pipeline, SinkerApp}
import graft.types.ChType

/** §3.3 lifecycle: a batch with unseen keys issues the ALTER DDL and
  * widens the task's dims inside the running query; that batch and every
  * later one are written under the widened schema, with no restart
  * (reference task/task.go:198-219 restarts instead).
  */
class SinkerAppSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  private def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(200)
    }
    cond
  }

  private val baseDims = Seq(
    Dim("name", ChType.whichType("String")),
    Dim("value", ChType.whichType("Float64")))

  private def publish(dir: java.nio.file.Path, file: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(file), lines.mkString("\n").getBytes)

  /** One JSON-lines directory per task under `out`. */
  private def jsonSink(out: String) = (t: TaskConfig, dims: Seq[Dim]) => {
    val (dir, names) = (s"$out/${t.name}", dims.map(_.name))
    Pipeline.SinkSpec(2,
      ChWriter.WriteConfig(2, retryTimes = 2, retryDelayMs = 5),
      () => new ChWriter.JsonLinesWriter(dir, names))
  }

  private def written(out: String, task: String) =
    spark.read.json(s"$out/$task/shard=*/*.jsonl")

  test("dynamic schema: detect -> ALTER -> widened writes in the same running query") {
    val inDir  = Files.createTempDirectory("app_in")
    val outStr = Files.createTempDirectory("app_out").toString
    val ckDir  = Files.createTempDirectory("app_ck")
    val ddlLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val task = TaskConfig(name = "dyn", topic = "t", consumerGroup = "g",
      tableName = "default.dyn", dynamicSchema = true,
      bufferSize = 1000, flushInterval = 1)

    val app = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = jsonSink(outStr),
      execDdl = ddl => { ddlLog.add(ddl); () },
      checkpointRoot = ckDir.toString)

    // batch 1: base schema only
    publish(inDir, "part-0.txt", (1 to 100).map(i => s"""{"name":"n$i","value":$i}"""))
    val q0 = app.startTask(task, baseDims)
    q0.processAllAvailable()
    val runId = q0.runId
    assert(app.restartCount("dyn") === 0)

    // batch 2: new keys appear -> detect + ALTER + widen, in this batch
    publish(inDir, "part-1.txt",
      (101 to 200).map(i => s"""{"name":"n$i","value":$i,"newkey01":$i}"""))
    q0.processAllAvailable()
    // the query was never stopped
    assert(app.query("dyn").exists(_ eq q0))
    assert(q0.isActive && q0.runId === runId && q0.exception.isEmpty)
    assert(app.restartCount("dyn") === 0)
    assert(app.currentDims("dyn") === baseDims :+
      Dim("newkey01", ChType.whichType("Nullable(Int64)")))
    assert(ddlLog.toArray.toSeq === Seq(
      "ALTER TABLE `default`.`dyn` ADD COLUMN IF NOT EXISTS `newkey01` Nullable(Int64)"))
    // every row of the batch that evolved was written under the new schema
    val evolved = written(outStr, "dyn").filter(col("name").isin(
      (101 to 200).map(i => s"n$i"): _*))
    assert(evolved.count() === 100L)
    assert(evolved.filter(col("newkey01") === substring(col("name"), 2, 3).cast("long"))
      .count() === 100L)

    // batch 3: the same query, under the widened schema
    publish(inDir, "part-2.txt",
      (201 to 250).map(i => s"""{"name":"n$i","value":$i,"newkey01":$i}"""))
    q0.processAllAvailable()
    assert(q0.isActive && q0.runId === runId)
    val all = written(outStr, "dyn")
    assert(all.count() === 250L)
    assert(all.select(col("name")).distinct().count() === 250L)
    assert(all.filter(col("newkey01").isNotNull).count() === 150L)
    assert(ddlLog.size === 1)
    app.stopAll()
  }

  test("a sibling task in the consumer group keeps its query and dims") {
    val inDir  = Files.createTempDirectory("grp_in")
    val outStr = Files.createTempDirectory("grp_out").toString
    val ckDir  = Files.createTempDirectory("grp_ck")
    def mk(name: String, dyn: Boolean) =
      TaskConfig(name = name, topic = "t", consumerGroup = "shared",
        tableName = s"default.$name", dynamicSchema = dyn,
        bufferSize = 1000, flushInterval = 1)

    val app = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = jsonSink(outStr),
      execDdl = _ => (),
      checkpointRoot = ckDir.toString)

    publish(inDir, "p0.txt", (1 to 10).map(i => s"""{"name":"n$i","value":$i}"""))
    val qA = app.startTask(mk("grp_a", dyn = true), baseDims)
    val qB = app.startTask(mk("grp_b", dyn = false), baseDims)
    qA.processAllAvailable(); qB.processAllAvailable()
    val (runA, runB) = (qA.runId, qB.runId)

    publish(inDir, "p1.txt", (11 to 20).map(i => s"""{"name":"n$i","value":$i,"nk":$i}"""))
    qA.processAllAvailable(); qB.processAllAvailable()
    assert(app.currentDims("grp_a").map(_.name) === Seq("name", "value", "nk"))
    // task A evolved in place; its sibling B was not touched
    assert(app.query("grp_a").exists(q => (q eq qA) && q.isActive && q.runId === runA))
    assert(app.query("grp_b").exists(q => (q eq qB) && q.isActive && q.runId === runB))
    assert(app.currentDims("grp_b") === baseDims)
    assert(written(outStr, "grp_a").filter(col("nk").isNotNull).count() === 10L)
    val b = written(outStr, "grp_b")
    assert(b.count() === 20L && !b.columns.contains("nk"))
    app.stopAll()
  }

  test("a throwing ALTER fails the query unwritten; a new start writes the batch once") {
    val inDir  = Files.createTempDirectory("rf_in")
    val outStr = Files.createTempDirectory("rf_out").toString
    val ckDir  = Files.createTempDirectory("rf_ck")
    val metrics = Metrics.install(spark)
    val task = TaskConfig(name = "rf", topic = "t", consumerGroup = "grf",
      tableName = "default.rf", dynamicSchema = true,
      bufferSize = 1000, flushInterval = 1)

    val refuse = new java.util.concurrent.atomic.AtomicBoolean(true)
    val ddlLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = jsonSink(outStr),
      execDdl = ddl => {
        ddlLog.add(ddl)
        if (refuse.get) throw new RuntimeException("injected: ALTER refused")
      },
      checkpointRoot = ckDir.toString,
      metrics = Some(metrics))
    try {
      publish(inDir, "p0.txt", (1 to 20).map(i => s"""{"name":"n$i","value":$i}"""))
      val q0 = app.startTask(task, baseDims)
      q0.processAllAvailable()

      publish(inDir, "p1.txt", (21 to 40).map(i => s"""{"name":"n$i","value":$i,"nk":$i}"""))
      val e = intercept[StreamingQueryException](q0.processAllAvailable())
      assert(e.getMessage.contains("injected: ALTER refused"), e.getMessage)
      assert(!q0.isActive)
      // nothing of the failed batch was written, and the dims did not widen
      assert(written(outStr, "rf").count() === 20L)
      assert(app.currentDims("rf") === baseDims)
      // the failure is visible: counted, and named on /state and /metrics
      assert(waitFor(20000)(metrics.taskFailures.contains("rf")),
        "the failed query did not reach the metrics")
      assert(metrics.taskFailures("rf").contains("injected: ALTER refused"))
      assert(metrics.restartFailures.sum() === 1L)
      val ops = new OpsServer(metrics)
      try {
        val state = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ops.stateJson)
        assert(state.get("taskFailures").get("rf").asText().contains("ALTER refused"))
      } finally ops.close()
      assert(metrics.prometheus.contains("""graft_task_failed{task="rf"} 1"""))

      // a new start from the same checkpoint replays the batch: the ALTER
      // is issued again and the batch lands once, under the widened schema
      refuse.set(false)
      val q1 = app.startTask(task, baseDims)
      q1.processAllAvailable()
      assert(q1.isActive)
      val all = written(outStr, "rf")
      assert(all.count() === 40L)
      assert(all.select(col("name")).distinct().count() === 40L)
      assert(all.filter(col("nk").isNotNull).count() === 20L)
      assert(ddlLog.toArray.toSeq === Seq.fill(2)(
        "ALTER TABLE `default`.`rf` ADD COLUMN IF NOT EXISTS `nk` Nullable(Int64)"))
      assert(waitFor(20000)(metrics.taskFailures.isEmpty),
        "a new start did not clear the failure")
      app.stopAll()
    } finally spark.streams.removeListener(metrics)
  }

  test("SinkerApp registers its Metrics once as the query listener; a failure counts once") {
    val inDir  = Files.createTempDirectory("rm_in")
    val outStr = Files.createTempDirectory("rm_out").toString
    val ckDir  = Files.createTempDirectory("rm_ck")
    val metrics = new Metrics // not installed by this caller
    val task = TaskConfig(name = "rm", topic = "t", consumerGroup = "grm",
      tableName = "default.rm", dynamicSchema = true,
      bufferSize = 1000, flushInterval = 1)
    def mkApp() = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = jsonSink(outStr),
      execDdl = _ => throw new RuntimeException("injected: ALTER refused"),
      checkpointRoot = ckDir.toString,
      metrics = Some(metrics))
    def registered = spark.streams.listListeners().count(_ eq metrics)
    val app = mkApp()
    try {
      assert(registered === 1)
      mkApp() // the same Metrics: already the listener, not added again
      assert(registered === 1)
      publish(inDir, "p0.txt", Seq("""{"name":"a","value":1,"nk":2}"""))
      val q = app.startTask(task, baseDims)
      intercept[StreamingQueryException](q.processAllAvailable())
      assert(waitFor(20000)(metrics.taskFailures.contains("rm")),
        "the failed query did not reach the metrics")
      assert(metrics.taskFailures("rm").contains("injected: ALTER refused"))
      assert(metrics.restartFailures.sum() === 1L)
      assert(metrics.prometheus.contains("""graft_task_failed{task="rm"} 1"""))
    } finally {
      app.stopAll()
      spark.streams.removeListener(metrics)
    }
  }

  test("applyConfig restarts only the changed task, with re-introspected dims") {
    val inDir  = Files.createTempDirectory("cfg_in")
    val outDir = Files.createTempDirectory("cfg_out").toString
    val ckDir  = Files.createTempDirectory("cfg_ck")
    Files.write(inDir.resolve("p.txt"),
      """{"name":"a","value":1}""".getBytes)

    val dimsA = Seq(Dim("name", ChType.whichType("String")),
      Dim("value", ChType.whichType("Float64")))
    val dimsB = dimsA :+ Dim("extra", ChType.whichType("Int64"))

    def task(name: String, topic: String, buf: Int = 1000) =
      TaskConfig(name = name, topic = topic, consumerGroup = name,
        tableName = s"default.$name", bufferSize = buf, flushInterval = 1)
    val t1 = task("cfg_t1", "top1")
    val t2 = task("cfg_t2", "top2")

    val app = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = (t, dims) => Pipeline.SinkSpec(1,
        ChWriter.WriteConfig(1, retryTimes = 2, retryDelayMs = 5),
        () => new ChWriter.JsonLinesWriter(outDir, dims.map(_.name))),
      execDdl = _ => (),
      checkpointRoot = ckDir.toString)

    val q1 = app.startTask(t1, dimsA)
    val q2 = app.startTask(t2, dimsA)
    q1.processAllAvailable(); q2.processAllAvailable()

    // t2's config changes (bufferSize); t1 untouched
    val plan = app.applyConfig(Seq(t1, t2), Seq(t1, task("cfg_t2", "top2", buf = 9)),
      dimsFor = _ => dimsB)
    assert(plan.restartTasks === Seq("cfg_t2"))
    assert(plan.stopTasks.isEmpty && plan.startTasks.isEmpty)
    // the untouched task keeps its original query and dims
    assert(q1.isActive)
    assert(app.currentDims("cfg_t1") === dimsA)
    // the changed task was stopped and restarted under FRESH dims — a
    // stale cached schema here would write the old columns
    assert(waitFor(20000)(!q2.isActive))
    assert(app.currentDims("cfg_t2") === dimsB)
    app.stopAll()
  }

  test("a dynamicSchema task whose tableName is not `table` or `db.table` " +
      "is refused before its query starts") {
    val app = new SinkerApp(spark,
      mkSource = t => fail(s"source built for refused table '${t.tableName}'"),
      mkSink = (_, _) => fail("sink built for a refused task"),
      execDdl = _ => (),
      checkpointRoot = Files.createTempDirectory("bad_tbl_ck").toString)
    val dims = Seq(Dim("name", ChType.whichType("String")))
    Seq("a.b.c", "", "db.", ".t").foreach { table =>
      val task = TaskConfig(name = s"bad_$table", topic = "t",
        consumerGroup = "g", tableName = table, dynamicSchema = true)
      val e = intercept[IllegalArgumentException](app.startTask(task, dims))
      assert(e.getMessage.contains(s"'$table'"), e.getMessage)
      assert(app.query(task.name).isEmpty)
    }
  }

  test("metrics listener tracks batches and rows (A5)") {
    val m = Metrics.install(spark)
    val inDir = Files.createTempDirectory("m_in")
    Files.write(inDir.resolve("p.txt"), (1 to 10).map(i => s"m$i").mkString("\n").getBytes)
    val q = spark.readStream.format("text").load(inDir.toString)
      .writeStream.format("noop").queryName("metrics_probe")
      .option("checkpointLocation", Files.createTempDirectory("m_ck").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(waitFor(20000)(m.batchesCompleted.sum() >= 1))
    assert(m.rowsConsumed.sum() >= 10)
    assert(m.prometheus.contains("graft_rows_consumed"))
    spark.streams.removeListener(m)
  }
}
