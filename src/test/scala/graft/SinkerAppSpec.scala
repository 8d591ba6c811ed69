package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TaskConfig
import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.sink.ChWriter
import graft.streaming.{Metrics, Pipeline, SinkerApp}
import graft.types.ChType

/** §3.3 lifecycle: a batch with unseen keys triggers ALTER DDL, a dims
  * refresh, and a query restart from the checkpoint; rows keep flowing
  * under the widened schema (reference task/task.go:198-219).
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

  test("dynamic schema: detect -> ALTER -> restart -> widened writes") {
    val inDir  = Files.createTempDirectory("app_in")
    val outDir = Files.createTempDirectory("app_out")
    val ckDir  = Files.createTempDirectory("app_ck")
    val outStr = outDir.toString

    val baseDims = Seq(
      Dim("name", ChType.whichType("String")),
      Dim("value", ChType.whichType("Float64")))
    val ddlLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val task = TaskConfig(name = "dyn", topic = "t", consumerGroup = "g",
      tableName = "default.dyn", dynamicSchema = true,
      bufferSize = 1000, flushInterval = 1)

    val app = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = (t, dims) => {
        val names = dims.map(_.name)
        Pipeline.SinkSpec(2,
          ChWriter.WriteConfig(2, retryTimes = 2, retryDelayMs = 5),
          () => new ChWriter.JsonLinesWriter(outStr, names))
      },
      execDdl = ddl => { ddlLog.add(ddl); () },
      checkpointRoot = ckDir.toString)

    // batch 1: base schema only
    Files.write(inDir.resolve("part-0.txt"),
      (1 to 100).map(i => s"""{"name":"n$i","value":$i}""")
        .mkString("\n").getBytes)
    val q0 = app.startTask(task, baseDims)
    q0.processAllAvailable()
    assert(app.restartCount("dyn") === 0)

    // batch 2: new keys appear -> detect + alter + restart
    Files.write(inDir.resolve("part-1.txt"),
      (101 to 200).map(i => s"""{"name":"n$i","value":$i,"newkey01":$i}""")
        .mkString("\n").getBytes)
    try q0.processAllAvailable() catch { case _: Exception => () } // may stop mid-flight
    assert(waitFor(60000)(app.restartCount("dyn") === 1),
      "schema-evolution restart did not happen")
    assert(waitFor(60000)(app.currentDims("dyn").exists(_.name == "newkey01")))
    assert(ddlLog.toArray.toSeq === Seq(
      "ALTER TABLE `default`.`dyn` ADD COLUMN IF NOT EXISTS `newkey01` Nullable(Int64)"))

    // batch 3: processed by the restarted query under the widened schema
    Files.write(inDir.resolve("part-2.txt"),
      (201 to 250).map(i => s"""{"name":"n$i","value":$i,"newkey01":$i}""")
        .mkString("\n").getBytes)
    assert(waitFor(60000) {
      app.awaitAllProcessed()
      val written = spark.read.json(outStr + "/shard=*/*.jsonl")
      written.count() === 250L &&
        written.columns.contains("newkey01") &&
        written.filter(col("newkey01").isNotNull).count() >= 50L
    }, "widened rows did not land")
    app.stopAll()
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

  test("restart failure is surfaced in metrics and the task recovers on retry") {
    val inDir  = Files.createTempDirectory("rf_in")
    val outDir = Files.createTempDirectory("rf_out").toString
    val ckDir  = Files.createTempDirectory("rf_ck")
    val metrics = new Metrics

    val baseDims = Seq(
      Dim("name", ChType.whichType("String")),
      Dim("value", ChType.whichType("Float64")))
    val task = TaskConfig(name = "rf", topic = "t", consumerGroup = "grf",
      tableName = "default.rf", dynamicSchema = true,
      bufferSize = 1000, flushInterval = 1)

    // injected failure: the restart's startTask dies once (a bad DDL /
    // checkpoint hiccup stand-in), then succeeds
    val failRemaining = new java.util.concurrent.atomic.AtomicInteger(0)
    val app = new SinkerApp(
      spark,
      mkSource = t => {
        if (failRemaining.getAndUpdate(n => math.max(0, n - 1)) > 0)
          throw new RuntimeException("injected restart failure")
        Pipeline.fileSource(spark, inDir.toString, t.topic)
      },
      mkSink = (t, dims) => Pipeline.SinkSpec(1,
        ChWriter.WriteConfig(1, retryTimes = 2, retryDelayMs = 5),
        () => new ChWriter.JsonLinesWriter(outDir, dims.map(_.name))),
      execDdl = _ => (),
      checkpointRoot = ckDir.toString,
      metrics = Some(metrics),
      restartRetries = 5, restartRetryDelayMs = 100L)

    Files.write(inDir.resolve("p0.txt"),
      (1 to 20).map(i => s"""{"name":"n$i","value":$i}""").mkString("\n").getBytes)
    val q0 = app.startTask(task, baseDims)
    q0.processAllAvailable()

    failRemaining.set(1)
    Files.write(inDir.resolve("p1.txt"),
      (21 to 40).map(i => s"""{"name":"n$i","value":$i,"nk":$i}""")
        .mkString("\n").getBytes)
    try q0.processAllAvailable() catch { case _: Exception => () }

    // the injected failure was counted AND the retry recovered the task
    assert(waitFor(60000)(metrics.restartFailures.sum() >= 1),
      "restart failure was not surfaced in metrics")
    assert(waitFor(60000)(app.query("rf").exists(_.isActive) &&
      metrics.restartErrors.isEmpty),
      "task did not recover after the injected failure")
    app.stopAll()
  }

  test("schema evolution bounces the whole consumer group when it has >1 task") {
    val inDir  = Files.createTempDirectory("grp_in")
    val outDir = Files.createTempDirectory("grp_out").toString
    val ckDir  = Files.createTempDirectory("grp_ck")

    val dims = Seq(
      Dim("name", ChType.whichType("String")),
      Dim("value", ChType.whichType("Float64")))
    def mk(name: String, dyn: Boolean) =
      TaskConfig(name = name, topic = "t", consumerGroup = "shared",
        tableName = s"default.$name", dynamicSchema = dyn,
        bufferSize = 1000, flushInterval = 1)
    val tA = mk("grp_a", dyn = true)
    val tB = mk("grp_b", dyn = false)

    val app = new SinkerApp(
      spark,
      mkSource = t => Pipeline.fileSource(spark, inDir.toString, t.topic),
      mkSink = (t, ds) => Pipeline.SinkSpec(1,
        ChWriter.WriteConfig(1, retryTimes = 2, retryDelayMs = 5),
        () => new ChWriter.JsonLinesWriter(s"$outDir/${t.name}", ds.map(_.name))),
      execDdl = _ => (),
      checkpointRoot = ckDir.toString)

    Files.write(inDir.resolve("p0.txt"),
      (1 to 10).map(i => s"""{"name":"n$i","value":$i}""").mkString("\n").getBytes)
    val qA = app.startTask(tA, dims)
    val qB = app.startTask(tB, dims)
    qA.processAllAvailable(); qB.processAllAvailable()

    // evolution detected by task A must bounce sibling B too (the
    // reference restarts the shared consumer — task/task.go:198-211)
    Files.write(inDir.resolve("p1.txt"),
      (11 to 20).map(i => s"""{"name":"n$i","value":$i,"nk":$i}""")
        .mkString("\n").getBytes)
    try qA.processAllAvailable() catch { case _: Exception => () }
    assert(waitFor(60000)(app.restartCount("grp_a") === 1))
    assert(waitFor(60000)(!qB.isActive),
      "sibling task in the shared group was not stopped")
    assert(waitFor(60000)(app.query("grp_b").exists(q => q.ne(qB) && q.isActive)),
      "sibling task was not restarted")
    app.stopAll()
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
