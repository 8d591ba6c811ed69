package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.TaskConfig
import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.parse.Projector.Dim
import graft.sink.{ChSql, ChWriter}
import graft.streaming.{Metrics, Pipeline}
import graft.telemetry.StageTelemetry
import graft.types.{ChKind, ChType}

/** E2E golden test mirroring the reference's `go.test.sh`: 100 000 JSON
  * messages in 5 cohorts, streamed through the full pipeline
  * (file source -> tolerant projection -> shard -> per-shard sink), with
  * the cohort row counts and the dynamic-schema golden
  * (`newkey00 Bool .. newkey04 DateTime64(3)`, arrays/objects skipped)
  * asserted like go.test.sh:58-76.
  */
class PipelineSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  private def cohortMessages: IndexedSeq[String] = {
    val now   = "2023-05-01T12:34:56.789Z"
    (1 to 100000).map { i =>
      val base = s""""time": "$now", "name": "name$i", "value": $i, "price": ${i / 1000.0}"""
      val extra =
        if (i <= 10000) ""
        else if (i <= 30000) s""", "newkey00": false, "newkey01": $i"""
        else if (i <= 50000)
          s""", "newkey02": $i.123, "newkey03": "name$i", "newkey04": "$now", "newkey05": {"k1":1,"k2":2}"""
        else if (i <= 70000)
          s""", "newkey06": [$i], "newkey07": [$i.123], "newkey08": ["name$i"], "newkey09": ["$now"], "newkey10": [{"k":1},{"k":2}]"""
        else ""
      s"{$base$extra}"
    }
  }

  private val fixedDims = Seq(
    Dim("time", ChType.whichType("DateTime")),
    Dim("name", ChType.whichType("String")),
    Dim("value", ChType.whichType("Float32")),
    Dim("price", ChType.whichType("Decimal32(3)")))

  /** A 4-shard JSON-lines sink under `out` for `dims`; the writer
    * factory captures only its two locals, not the suite.
    */
  private def jsonSink(out: String, dims: Seq[Dim]): Pipeline.SinkSpec = {
    val colNames = dims.map(_.name)
    Pipeline.SinkSpec(4, ChWriter.WriteConfig(4, retryTimes = 2, retryDelayMs = 10),
      () => new ChWriter.JsonLinesWriter(out, colNames))
  }

  test("go.test.sh fixed-schema E2E: 100k messages through the stream") {
    val inDir  = Files.createTempDirectory("graft_in")
    val outDir = Files.createTempDirectory("graft_out")
    val ckDir  = Files.createTempDirectory("graft_ck")
    val msgs = cohortMessages
    msgs.grouped(25000).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(inDir.resolve(s"part-$i.txt"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }

    val task = TaskConfig(name = "test_fixed_schema", topic = "topic1",
      consumerGroup = "g1", bufferSize = 50000, flushInterval = 1)
    val numShards = 4
    val outStr = outDir.toString
    val colNames = fixedDims.map(_.name) // local copy: lambda must not capture the suite
    val sink = Pipeline.SinkSpec(
      numShards,
      ChWriter.WriteConfig(numShards, retryTimes = 2, retryDelayMs = 10),
      () => new ChWriter.JsonLinesWriter(outStr, colNames))

    val src = Pipeline.fileSource(spark, inDir.toString, "topic1")
      // fileSource has no headers column -> topic routing branch
    val routed = Pipeline.routingFilter(src, task)
    val q = Pipeline.start(spark, routed, task, fixedDims, sink, ckDir.toString)
    q.processAllAvailable()
    q.stop()

    // golden: every message lands exactly once, spread over the shards
    val files = outDir.toFile.listFiles().filter(_.isDirectory)
    assert(files.map(_.getName).sorted.forall(_.startsWith("shard=")))
    val written = spark.read.json(outDir.toString + "/shard=*/*.jsonl")
    assert(written.count() === 100000L)
    // projection check: values survived the tolerant casts
    val r = written.agg(
      sum(col("value")).as("sv"),
      count(when(col("name").startsWith("name"), 1)).as("named")).head()
    assert(r.getDouble(0) === (1L to 100000L).map(_.toDouble).sum)
    assert(r.getLong(1) === 100000L)
  }

  test("a fixed-schema batch runs as one job of one stage, with no shuffle") {
    val inDir  = Files.createTempDirectory("graft_in")
    val outDir = Files.createTempDirectory("graft_out")
    val ckDir  = Files.createTempDirectory("graft_ck")
    Files.write(inDir.resolve("part-0.txt"),
      cohortMessages.take(2000).mkString("\n").getBytes("UTF-8"))
    val task = TaskConfig(name = "test_one_stage", topic = "topic1",
      consumerGroup = "g1", bufferSize = 50000, flushInterval = 1)
    val outStr = outDir.toString
    val sink = jsonSink(outStr, fixedDims)
    val tel = StageTelemetry.attach(spark.sparkContext)
    try {
      val q = Pipeline.start(spark,
        Pipeline.fileSource(spark, inDir.toString, "topic1"),
        task, fixedDims, sink, ckDir.toString)
      q.processAllAvailable()
      q.stop()
      tel.drain()
      val batch = tel.jobs.filter(_.group.contains(q.runId.toString))
      val stages = tel.stagesInGroup(q.runId.toString)
      // the shard exchange is gone: parse, projection, shard routing and
      // the per-shard writes share one stage
      assert(batch.size === 1, tel.jobs)
      assert(stages.size === 1, stages)
      assert(stages.map(s => s.writeBytes + s.readBytes).sum === 0L, stages)
    } finally tel.detach()
    // the write tasks routed their rows to all four shards' writers
    val shardDirs = outDir.toFile.listFiles().filter(_.isDirectory)
    assert(shardDirs.length === 4)
    assert(spark.read.json(outStr + "/shard=*/*.jsonl").count() === 2000L)
  }

  test("a dynamic-schema batch runs as two jobs of one stage each, with no shuffle") {
    val inDir  = Files.createTempDirectory("graft_in")
    val outDir = Files.createTempDirectory("graft_out")
    val ckDir  = Files.createTempDirectory("graft_ck")
    // 1,000 base messages, then 1,000 with newkey00/newkey01
    Files.write(inDir.resolve("part-0.txt"),
      cohortMessages.slice(9000, 11000).mkString("\n").getBytes("UTF-8"))
    val task = TaskConfig(name = "test_dynamic_stages", topic = "topic1",
      consumerGroup = "g1", bufferSize = 50000, flushInterval = 1,
      dynamicSchema = true)
    val outStr = outDir.toString
    val tel = StageTelemetry.attach(spark.sparkContext)
    try {
      val q = Pipeline.start(spark,
        Pipeline.fileSource(spark, inDir.toString, "topic1"),
        task, fixedDims, jsonSink(outStr, fixedDims), ckDir.toString,
        onNewKeys = keys => {
          val dims = SchemaEvolution.widen(fixedDims, keys)
          Some(dims -> jsonSink(outStr, dims))
        })
      q.processAllAvailable()
      q.stop()
      tel.drain()
      val batch = tel.jobs.filter(_.group.contains(q.runId.toString))
      val stages = tel.stagesInGroup(q.runId.toString)
      // one scan-local job fills the parsed stage's cache and folds the
      // new keys; one job projects and writes from that cache
      assert(batch.size === 2, tel.jobs)
      assert(batch.forall(_.stageIds.size == 1), batch)
      assert(stages.size === 2, stages)
      assert(stages.map(s => s.writeBytes + s.readBytes).sum === 0L, stages)
    } finally tel.detach()
    // the batch that found the keys was written under them
    val written = spark.read.json(outStr + "/shard=*/*.jsonl")
    assert(written.count() === 2000L)
    assert(written.filter(col("newkey01").isNotNull).count() === 1000L)
    assert(written.filter(col("newkey00") === false).count() === 1000L)
  }

  test("a batch is written by min(source partitions, cores) tasks, every row once") {
    val inDir  = Files.createTempDirectory("graft_in")
    val outDir = Files.createTempDirectory("graft_out")
    val ckDir  = Files.createTempDirectory("graft_ck")
    cohortMessages.take(1600).grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(inDir.resolve(s"part-$i.txt"), chunk.mkString("\n").getBytes("UTF-8"))
    }
    val task = TaskConfig(name = "test_tasks_per_core", topic = "topic1",
      consumerGroup = "g1", bufferSize = 50000, flushInterval = 1)
    val outStr = outDir.toString
    val sink = jsonSink(outStr, fixedDims)
    // a file's open cost at the split size gives the scan one partition
    // per file, as the benchmark's 1.5 MB files have
    val openCost = "spark.sql.files.openCostInBytes"
    val before = spark.conf.get(openCost)
    val tel = StageTelemetry.attach(spark.sparkContext)
    try {
      spark.conf.set(openCost, spark.conf.get("spark.sql.files.maxPartitionBytes"))
      assert(spark.read.text(inDir.toString).rdd.getNumPartitions === 16)
      val q = Pipeline.start(spark,
        Pipeline.fileSource(spark, inDir.toString, "topic1"),
        task, fixedDims, sink, ckDir.toString)
      q.processAllAvailable()
      q.stop()
      tel.drain()
      val batch = tel.jobs.filter(_.group.contains(q.runId.toString))
      val stages = tel.stagesInGroup(q.runId.toString)
      assert(batch.size === 1, tel.jobs)
      assert(stages.size === 1, stages)
      assert(stages.head.tasks === math.min(16, spark.sparkContext.defaultParallelism), stages)
    } finally { spark.conf.set(openCost, before); tel.detach() }
    val written = spark.read.json(outStr + "/shard=*/*.jsonl")
    assert(written.count() === 1600L)
    assert(written.select("name").distinct().count() === 1600L)
  }

  test("a steady-state batch compiles no generated code") {
    val inDir  = Files.createTempDirectory("graft_in")
    val stage  = Files.createTempDirectory("graft_stage")
    val outDir = Files.createTempDirectory("graft_out")
    val ckDir  = Files.createTempDirectory("graft_ck")
    val task = TaskConfig(name = "test_no_recompile", topic = "topic1",
      consumerGroup = "g1", bufferSize = 50000, flushInterval = 1)
    val outStr = outDir.toString
    val sink = jsonSink(outStr, fixedDims)
    val metrics = new Metrics
    def compilations: Long = metrics.prometheus.linesIterator
      .collectFirst { case l if l.startsWith("graft_codegen_compilations ") =>
        l.stripPrefix("graft_codegen_compilations ").toLong }
      .getOrElse(fail("graft_codegen_compilations is not on /metrics"))
    // fileSource keeps current_timestamp() in its `timestamp` column: a
    // streaming batch writes it as the batch's own literal
    val q = Pipeline.start(spark, Pipeline.fileSource(spark, inDir.toString, "topic1"),
      task, fixedDims, sink, ckDir.toString)
    val seen = try (1 to 6).map { b =>
      // one file per batch, moved in whole so no batch sees half of it
      val f = stage.resolve(s"part-$b.txt")
      Files.write(f, cohortMessages.slice(b * 500, b * 500 + 500).mkString("\n")
        .getBytes("UTF-8"))
      Files.move(f, inDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      compilations
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 6)
    // batches 3-6 reuse the generated classes the first batches compiled
    assert(seen(5) === seen(1), seen)
    assert(spark.read.json(outStr + "/shard=*/*.jsonl").count() === 3000L)
  }

  test("F13: every __kafka_* meta dim reads its source column, also when evolution adds it") {
    val outDir = Files.createTempDirectory("graft_out")
    def run(name: String, lines: Seq[String], dims: Seq[Dim],
        dynamic: Boolean): Map[String, org.apache.spark.sql.Row] = {
      val inDir = Files.createTempDirectory("graft_in")
      val ckDir = Files.createTempDirectory("graft_ck")
      Files.write(inDir.resolve("part-0.txt"), lines.mkString("\n").getBytes("UTF-8"))
      val out = s"$outDir/$name"
      val task = TaskConfig(name = name, topic = "topic1", consumerGroup = "g1",
        bufferSize = 50000, flushInterval = 1, dynamicSchema = dynamic)
      val q = Pipeline.start(spark, Pipeline.fileSource(spark, inDir.toString, "topic1"),
        task, dims, jsonSink(out, dims), ckDir.toString,
        onNewKeys = keys => {
          val widened = SchemaEvolution.widen(dims, keys)
          Some(widened -> jsonSink(out, widened))
        })
      q.processAllAvailable()
      q.stop()
      spark.read.json(out + "/shard=*/*.jsonl").collect()
        .map(r => r.getAs[String]("name") -> r).toMap
    }
    def crc(line: String): Long = {
      val c = new java.util.zip.CRC32
      c.update(line.getBytes("UTF-8"))
      c.getValue
    }

    // the task's own dims: each is filled from fileSource's column
    val lines = (1 to 50).map(i => s"""{"name": "n$i", "__kafka_topic": "in-message"}""")
    val meta = Seq(
      Dim("__kafka_topic", ChType.whichType("String")),
      Dim("__kafka_partition", ChType.whichType("Int64")),
      Dim("__kafka_offset", ChType.whichType("Int64")),
      Dim("__kafka_key", ChType.whichType("Nullable(String)")),
      Dim("__kafka_timestamp", ChType.whichType("DateTime64(3)")))
    val static = run("f13_static", lines, Dim("name", ChType.whichType("String")) +: meta,
      dynamic = false)
    assert(static.size === 50)
    lines.zipWithIndex.foreach { case (line, i) =>
      val r = static(s"n${i + 1}")
      assert(r.getAs[String]("__kafka_topic") === "topic1")
      assert(r.getAs[Long]("__kafka_partition") === 0L)
      assert(r.getAs[Long]("__kafka_offset") === crc(line))
      assert(r.isNullAt(r.fieldIndex("__kafka_key")))
      assert(!r.isNullAt(r.fieldIndex("__kafka_timestamp")))
    }

    // keys that schema evolution adds later: the query reads only the
    // source columns of its starting dims, so `topic` is gone and
    // __kafka_topic reads NULL, while the default shard policy keeps
    // `offset` and __kafka_offset reads it, not the message's value
    val evolving = (1 to 50).map(i =>
      s"""{"name": "e$i", "__kafka_topic": "in-message", "__kafka_offset": -$i}""")
    val evolved = run("f13_evolved", evolving, Seq(Dim("name", ChType.whichType("String"))),
      dynamic = true)
    assert(evolved.size === 50)
    evolving.zipWithIndex.foreach { case (line, i) =>
      val r = evolved(s"e${i + 1}")
      assert(r.isNullAt(r.fieldIndex("__kafka_topic")))
      assert(r.getAs[Long]("__kafka_offset") === crc(line))
    }
  }

  test("go.test.sh dynamic-schema golden: newkey00-04 added, 05-10 skipped") {
    val df = cohortMessages.toDF("value")
    val known = fixedDims.map(_.name).toSet
    val got = SchemaEvolution.detectNewKeys(df, known, NewKeyPolicy())
    assert(got.toMap === Map(
      "newkey00" -> ChKind.Bool,
      "newkey01" -> ChKind.Int64,
      "newkey02" -> ChKind.Float64,
      "newkey03" -> ChKind.Str,
      "newkey04" -> ChKind.DateTime))

    val ddl = SchemaEvolution.changeSchemaStatements(
      "default", "test_dynamic_schema", currentDims = 4, got, NewKeyPolicy())
    assert(ddl === Seq(
      "ALTER TABLE `default`.`test_dynamic_schema` ADD COLUMN IF NOT EXISTS `newkey00` Nullable(Bool)",
      "ALTER TABLE `default`.`test_dynamic_schema` ADD COLUMN IF NOT EXISTS `newkey01` Nullable(Int64)",
      "ALTER TABLE `default`.`test_dynamic_schema` ADD COLUMN IF NOT EXISTS `newkey02` Nullable(Float64)",
      "ALTER TABLE `default`.`test_dynamic_schema` ADD COLUMN IF NOT EXISTS `newkey03` Nullable(String)",
      "ALTER TABLE `default`.`test_dynamic_schema` ADD COLUMN IF NOT EXISTS `newkey04` Nullable(DateTime64(3))"))
  }

  test("white/black list gates new keys (FL3)") {
    val df = Seq("""{"ok_key": 1, "secret_key": 2, "other": 3}""").toDF("value")
    val got = SchemaEvolution.detectNewKeys(df, Set.empty,
      NewKeyPolicy(whiteList = Some("key$"), blackList = Some("^secret")))
    assert(got.toMap === Map("ok_key" -> ChKind.Int64))
  }

  test("static fields override message content (P6)") {
    val df = Seq("""{"a": 1, "b": 2}""").toDF("value")
    val dims = Seq(
      Dim("a", ChType.whichType("Int64")),
      Dim("b", ChType.whichType("Int64")),
      Dim("c", ChType.whichType("String")))
    val out = graft.parse.Projector.projectJson(
      df, dims, graft.functions.ChGetters.ParseOpts(),
      fields = Map("b" -> "42", "c" -> "\"injected\""))
    val r = out.head()
    assert(r.getLong(0) === 1L)
    assert(r.getLong(1) === 42L)   // static field wins
    assert(r.getString(2) === "injected")
  }

  test("not-nullable guard drops the whole message (F14/FL2)") {
    val df = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": 2}""",
      """not json at all""").toDF("value")
    val dims = Seq(
      Dim("a", ChType.whichType("Int64")),
      Dim("b", ChType.whichType("Nullable(String)"), notNullable = true))
    val out = graft.parse.Projector.projectJson(
      df, dims, graft.functions.ChGetters.ParseOpts())
    // corrupt row dropped (P5), null-in-notnull row dropped (FL2)
    assert(out.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("tolerant write skips bad rows and retries transient errors (S6/S7)") {
    import org.apache.spark.sql.Row
    var failuresLeft = 2
    val written = scala.collection.mutable.ArrayBuffer.empty[Row]
    val w = new ChWriter.RowWriter {
      override def open(shard: Int): Unit = ()
      override def writeBatch(rows: Seq[Row]): Unit = {
        if (failuresLeft > 0) { failuresLeft -= 1; throw new RuntimeException("transient") }
        val bad = rows.zipWithIndex.collect { case (r, i) if r.getInt(0) < 0 => i }
        if (bad.nonEmpty) throw new ChWriter.BadRowsException(bad, "bad rows")
        written ++= rows
      }
      override def close(): Unit = ()
    }
    val rows = Seq(Row(1), Row(-5), Row(3), Row(-7), Row(4))
    val (ok, bad, retries) = ChWriter.writeWithRetry(
      w, rows, ChWriter.WriteConfig(1, retryTimes = 5, retryDelayMs = 1))
    assert(ok === 3L)
    assert(bad === 2L)
    assert(retries === 2L)
    assert(written.map(_.getInt(0)).toSeq === Seq(1, 3, 4))
  }

  test("task config parses the reference's hjson-style task section") {
    val cfg = TaskConfig.fromJson(
      """{
        |  // hjson-style comment
        |  name: "test_dynamic_schema",
        |  topic: "topic1",
        |  consumerGroup: "group1",
        |  earliest: true,
        |  parser: "json",
        |  clickhouse: "default",
        |  autoSchema: true,
        |  promLabelsBlackList: "^go_",
        |  excludeColumns: ["day"],
        |  dynamicSchema: true,
        |  bufferSize: 50000,
        |  fields: {"env": "prod", "pi": 3.14},
        |  dims: [
        |    {name: "time", type: "DateTime"},
        |    {name: "name", type: "String", sourcename: "title"},
        |  ],
        |}""".stripMargin)
    assert(cfg.name === "test_dynamic_schema")
    assert(cfg.topic === "topic1")
    assert(cfg.bufferSize === 50000)
    assert(cfg.dynamicSchema)
    assert(cfg.fields === Map("env" -> "\"prod\"", "pi" -> "3.14"))
    assert(cfg.dims.map(_.source) === Seq("time", "title"))
    assert(cfg.excludeColumns === Seq("day"))
  }

  test("insert/introspection SQL golden (S8/S11)") {
    assert(ChSql.insertStatement("db", "tbl", Seq("a", "b")) ===
      "INSERT INTO `db`.`tbl` (`a`,`b`)")
    assert(ChSql.insertStatement("db", "tbl", Seq("a", "b"), withValues = true) ===
      "INSERT INTO `db`.`tbl` (`a`,`b`) VALUES (?,?)")
    assert(ChSql.columnsQuery("db", "tbl").contains("default_kind != 'MATERIALIZED'"))
    val dims = ChSql.dimsFromColumns(
      Seq(("a", "Int64", ""), ("b", "Nullable(String)", "DEFAULT"),
        ("mat", "String", "MATERIALIZED")),
      referedNullable = Set("b"), excluded = Set("mat"))
    assert(dims.map(_._1) === Seq("a", "b"))
    assert(!dims(1)._2.nullable) // refered-nullable override
    // S12: the Distributed tables over a local table, and the sharding key
    assert(ChSql.distributedTablesQuery("db", "tbl", "c1") ===
      """SELECT database, name FROM system.tables WHERE engine = 'Distributed' """ +
      """AND match(engine_full, 'Distributed\\(\\s*\'c1\'\\s*,\\s*\'db\'\\s*,\\s*\'tbl\'.*\\)')""")
    assert(ChSql.addShardingKeyStatement("db", "tbl") ===
      "ALTER TABLE `db`.`tbl` ADD COLUMN IF NOT EXISTS `__shardingkey` Int64")
    assert(ChSql.sortingKeysQuery("db", "tbl") ===
      "SELECT name FROM system.columns WHERE database = 'db' AND table = 'tbl' " +
      "AND is_in_sorting_key = 1 ORDER BY position")
    // D4: the active-series count behind the series reload
    assert(ChSql.countSeriesQuery("db", "series", "metric", 3600L) ===
      "SELECT count() FROM (SELECT DISTINCT __series_id__ FROM `db`.`series` " +
      "WHERE __series_id__ GLOBAL IN (SELECT DISTINCT __series_id__ FROM " +
      "`db`.`metric` WHERE timestamp >= addSeconds(now(), -3600)))")
  }

  test("the writer's written/bad/retry counts reach /metrics") {
    val inDir = Files.createTempDirectory("graft_in")
    val ckDir = Files.createTempDirectory("graft_ck")
    val lines = (1 to 9).map(i => s"""{"name": "ok$i"}""") ++
      Seq("""{"name": "bad1"}""", """{"name": "bad2"}""", "not json")
    Files.write(inDir.resolve("part-0.txt"), lines.mkString("\n").getBytes("UTF-8"))
    val task = TaskConfig(name = "test_write_stats", topic = "topic1",
      consumerGroup = "g1", bufferSize = 100, flushInterval = 1)
    val sink = Pipeline.SinkSpec(1,
      ChWriter.WriteConfig(1, retryTimes = 3, retryDelayMs = 1),
      () => new FlakyFlaggingWriter)
    val metrics = new graft.streaming.Metrics
    val q = Pipeline.start(spark, Pipeline.fileSource(spark, inDir.toString, "topic1"),
      task, Seq(Dim("name", ChType.whichType("String"))), sink, ckDir.toString,
      metrics = Some(metrics))
    q.processAllAvailable()
    q.stop()
    // the corrupt line never reaches the writer; one writer, one transient failure
    assert(metrics.rowsWritten.sum() === 9L)
    assert(metrics.badRows.sum() === 2L)
    assert(metrics.writeRetries.sum() === 1L)
    val prom = metrics.prometheus
    assert(prom.contains("graft_rows_written 9\n"))
    assert(prom.contains("graft_bad_rows 2\n"))
    assert(prom.contains("graft_write_retries 1\n"))
  }
}

/** Fails its first batch once (a transient error), then flags every row
  * whose first column starts with "bad".
  */
final class FlakyFlaggingWriter extends ChWriter.RowWriter {
  private var failedOnce = false
  override def open(shard: Int): Unit = ()
  override def writeBatch(rows: Seq[org.apache.spark.sql.Row]): Unit = {
    if (!failedOnce) { failedOnce = true; throw new RuntimeException("transient") }
    val bad = rows.zipWithIndex.collect { case (r, i) if r.getString(0).startsWith("bad") => i }
    if (bad.nonEmpty) throw new ChWriter.BadRowsException(bad, "bad rows")
  }
  override def close(): Unit = ()
}
