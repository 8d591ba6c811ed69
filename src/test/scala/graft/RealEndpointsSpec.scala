package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{EncSecrets, KafkaConfig, TaskConfig}
import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.parse.Projector.Dim
import graft.sink.{ChSql, ChWriter}
import graft.streaming.{Pipeline, SeriesDedup}
import graft.types.ChType

/** The reference's live end-to-end gate (`go.test.sh:1-131` and
  * `go.metrictest.sh:1-63`) against REAL endpoints — env-gated because
  * this sandbox ships neither a Kafka broker nor a ClickHouse server.
  * With a `docker compose up` stack running, set:
  *
  * {{{
  *   SPARK_GRAFT_KAFKA_BOOTSTRAP=localhost:9092        # broker list
  *   SPARK_GRAFT_CH_URL=jdbc:clickhouse://localhost:8123/default
  *   SPARK_GRAFT_CH_USER=default                       # optional
  *   SPARK_GRAFT_CH_PASSWORD=...                       # optional, ENC(...) ok
  *   SPARK_GRAFT_CH_DB=default                         # optional
  * }}}
  *
  * and run `sbt "testOnly graft.RealEndpointsSpec"`. Unset, every test
  * cancels (not fails) with a pointer here. Running also needs the two
  * runtime-resolved artifacts a real cluster has and this sandbox lacks:
  * the spark-sql-kafka connector (for `format("kafka")`) and a
  * ClickHouse JDBC driver on the classpath. A ClickHouse whose INSERT
  * settings map NULL to column defaults (`input_format_null_as_default`,
  * on by default in modern releases) matches the reference's tolerance
  * for the cohort rows that omit `price`.
  *
  * Cohorts, counts, and the dynamic-schema DESC golden mirror
  * `go.test.sh:27-76`; the Prometheus two-table flow and its
  * metric<=N / series==1000 asserts mirror `go.metrictest.sh:42-63`.
  */
class RealEndpointsSpec extends AnyFunSuite with LocalSpark {

  private val kafkaBootstrap = sys.env.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
  private val chUrl  = sys.env.get("SPARK_GRAFT_CH_URL")
  private val chUser = sys.env.getOrElse("SPARK_GRAFT_CH_USER", "default")
  private val chPass = EncSecrets.resolve(
    sys.env.getOrElse("SPARK_GRAFT_CH_PASSWORD", ""))
  private val db     = sys.env.getOrElse("SPARK_GRAFT_CH_DB", "default")

  private def gate(): Unit = assume(
    kafkaBootstrap.isDefined && chUrl.isDefined,
    "real-endpoint E2E: set SPARK_GRAFT_KAFKA_BOOTSTRAP and " +
      "SPARK_GRAFT_CH_URL (see RealEndpointsSpec scaladoc)")

  import spark.implicits._

  // unique per run: we cannot delete topics without an admin client, so
  // stale runs must never alias (go.test.sh deletes the topic instead)
  private lazy val runId =
    java.lang.Long.toHexString(System.currentTimeMillis())

  private def bq(s: String): String = "`" + s + "`"

  // ---- JDBC helpers ----------------------------------------------------

  private def chProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", chUser)
    if (chPass.nonEmpty) p.setProperty("password", chPass)
    p
  }

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(chUrl.get, chProps)
    try f(c) finally c.close()
  }

  private def exec(sql: String): Unit =
    withConn(c => { val s = c.createStatement(); try s.execute(sql) finally s.close() })

  private def queryLong(sql: String): Long = withConn { c =>
    val s = c.createStatement()
    try { val rs = s.executeQuery(sql); rs.next(); rs.getLong(1) }
    finally s.close()
  }

  private def queryRows(sql: String, nCols: Int): Seq[Seq[String]] = withConn { c =>
    val s = c.createStatement()
    try {
      val rs = s.executeQuery(sql)
      val buf = Seq.newBuilder[Seq[String]]
      while (rs.next()) buf += (1 to nCols).map(rs.getString)
      buf.result()
    } finally s.close()
  }

  // ---- cohort + pipeline helpers --------------------------------------

  /** go.test.sh:27-45 message cohorts, 1:1 (five ranges incl. the
    * newkey00-10 waves).
    */
  private def cohortMessages: IndexedSeq[String] = {
    val now = "2023-05-01T12:34:56.789Z"
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

  /** go.test.sh:5-14 DDL (MergeTree instead of the script's replicated
    * variants — topology is not what this harness gates on).
    */
  private def createSinkTable(table: String): Unit = {
    exec(s"DROP TABLE IF EXISTS ${bq(db)}.${bq(table)} SYNC")
    exec(s"""CREATE TABLE ${bq(db)}.${bq(table)}
      (
          time DateTime,
          name String,
          value Float32,
          price Decimal32(3) DEFAULT(9.9)
      )
      ENGINE = MergeTree
      PARTITION BY toYYYYMMDD(time)
      ORDER BY (time, name)""")
  }

  /** Publish the cohort to a fresh topic through Spark's Kafka sink
    * (the stand-in for go.test.sh's kafka-console-producer).
    */
  private def produce(topic: String, msgs: Seq[String]): Unit =
    msgs.toDF("value").write.format("kafka")
      .option("kafka.bootstrap.servers", kafkaBootstrap.get)
      .option("topic", topic)
      .save()

  /** One sinker run: Kafka source -> routing -> projection -> sharded
    * JDBC INSERT — the production path of SURVEY §1's rebuild sketch,
    * exercised end-to-end.
    */
  private def runSinker(task: TaskConfig, dims: Seq[Dim],
      onNewKeys: Seq[(String, graft.types.ChKind)] => Unit = _ => ())
      : Unit = {
    val kc = KafkaConfig(brokers = kafkaBootstrap.get)
    val src = Pipeline.kafkaSource(spark, kc, task)
    val routed = Pipeline.routingFilter(src, task)
    val cols = dims.map(_.name)
    val url = chUrl.get
    val (u, pw, dbName, tbl) = (chUser, chPass, db, task.tableName)
    val sink = Pipeline.SinkSpec(1,
      ChWriter.WriteConfig(1, retryTimes = 3, retryDelayMs = 500),
      () => new ChWriter.JdbcRowWriter(Map(0 -> url), dbName, tbl, cols,
        Map("user" -> u) ++ (if (pw.nonEmpty) Map("password" -> pw) else Map.empty)))
    val q = Pipeline.start(spark, routed, task, dims, sink,
      Files.createTempDirectory(s"ck_${task.name}").toString, onNewKeys)
    q.processAllAvailable()
    q.stop()
  }

  // ---- go.test.sh ------------------------------------------------------

  test("go.test.sh fixed-schema: 100k Kafka messages land in ClickHouse") {
    gate()
    val table = s"test_fixed_schema_$runId"
    val topic = s"graft_fixed_$runId"
    createSinkTable(table)
    produce(topic, cohortMessages)
    runSinker(TaskConfig(name = table, topic = topic, consumerGroup = table,
      tableName = table, bufferSize = 50000, flushInterval = 1), fixedDims)
    // go.test.sh:55-57
    assert(queryLong(s"SELECT count() FROM ${bq(db)}.${bq(table)}")
      === 100000L)
  }

  test("go.test.sh auto-schema: dims come from system.columns introspection") {
    gate()
    val table = s"test_auto_schema_$runId"
    val topic = s"graft_auto_$runId"
    createSinkTable(table)
    produce(topic, cohortMessages)
    // S11: fetch the schema the way the production path does
    val cols = queryRows(ChSql.columnsQuery(db, table), 3)
      .map { case Seq(n, t, d) => (n, t, d) }
    val refered = queryRows(ChSql.referedNullableQuery(db, table), 1)
      .map(_.head).toSet
    val dims = ChSql.dimsFromColumns(cols, refered)
      .map { case (n, ti) => Dim(n, ti) }
    assert(dims.map(_.name) === fixedDims.map(_.name),
      s"introspection drift: ${dims.map(_.name)}")
    runSinker(TaskConfig(name = table, topic = topic, consumerGroup = table,
      tableName = table, bufferSize = 50000, flushInterval = 1), dims)
    assert(queryLong(s"SELECT count() FROM ${bq(db)}.${bq(table)}")
      === 100000L)
  }

  test("go.test.sh dynamic-schema: newkey00-04 ALTERed in, DESC golden holds") {
    gate()
    val table = s"test_dynamic_schema_$runId"
    val topic = s"graft_dyn_$runId"
    createSinkTable(table)
    produce(topic, cohortMessages)
    runSinker(
      TaskConfig(name = table, topic = topic, consumerGroup = table,
        tableName = table, bufferSize = 50000, flushInterval = 1,
        dynamicSchema = true),
      fixedDims,
      onNewKeys = keys => SchemaEvolution.changeSchemaStatements(
        db, table, currentDims = fixedDims.size, keys, NewKeyPolicy())
        .foreach(exec))
    // go.test.sh:66-70 DESC golden: exactly newkey00-04, arrays/objects
    // (newkey05-10) skipped
    val newkeys = queryRows(
      s"SELECT name, type FROM system.columns WHERE database = '$db' " +
        s"AND table = '$table' AND name LIKE 'newkey%' ORDER BY name", 2)
      .map { case Seq(n, t) => s"$n$t" }
    assert(newkeys === Seq(
      "newkey00Nullable(Bool)", "newkey01Nullable(Int64)",
      "newkey02Nullable(Float64)", "newkey03Nullable(String)",
      "newkey04Nullable(DateTime64(3))"), s"DESC drift: $newkeys")
    assert(queryLong(s"SELECT count() FROM ${bq(db)}.${bq(table)}")
      === 100000L)
  }

  // ---- go.metrictest.sh ------------------------------------------------

  test("go.metrictest.sh prom two-table: every point lands, series dedup to 1000") {
    gate()
    val metricTable = s"test_prom_metric_$runId"
    val seriesTable = s"test_prom_series_$runId"
    val topic = s"graft_prom_$runId"
    exec(s"DROP TABLE IF EXISTS ${bq(db)}.${bq(metricTable)} SYNC")
    exec(s"""CREATE TABLE ${bq(db)}.${bq(metricTable)}
      (__series_id__ Int64, timestamp DateTime, value Float32)
      ENGINE = ReplacingMergeTree
      PARTITION BY toYYYYMMDD(timestamp) ORDER BY (__series_id__, timestamp)""")
    exec(s"DROP TABLE IF EXISTS ${bq(db)}.${bq(seriesTable)} SYNC")
    exec(s"""CREATE TABLE ${bq(db)}.${bq(seriesTable)}
      (__series_id__ Int64, __mgmt_id__ Int64, labels String, __name__ String)
      ENGINE = ReplacingMergeTree ORDER BY (__name__, __series_id__)""")

    val dims = Seq(
      Dim("timestamp", ChType.whichType("DateTime")),
      Dim("value", ChType.whichType("Float32")),
      Dim("__name__", ChType.whichType("String")),
      Dim("key_0", ChType.whichType("String")),
      Dim("__series_id__", ChType.whichType("Int64")),
      Dim("__mgmt_id__", ChType.whichType("Int64")))
    val points = (0 until 10000).map { i =>
      val sid = i % 1000
      s"""{"timestamp":"2023-01-20T00:${"%02d".format(i % 60)}:00+08:00","value":0.${i % 997},""" +
        s""""__name__":"metric_${"%08d".format(sid % 10)}","key_0":"${('a' + sid % 26).toChar}",""" +
        s""""__series_id__":$sid,"__mgmt_id__":$sid}"""
    }
    produce(topic, points)

    def jdbcBatch(table: String, cols: Seq[String])(batch: DataFrame): Unit = {
      val url = chUrl.get
      val (u, pw, dbName) = (chUser, chPass, db)
      ChWriter.write(batch.select(cols.map(col): _*)
          .withColumn("__shard__", lit(0)),
        ChWriter.WriteConfig(1, retryTimes = 3, retryDelayMs = 500),
        () => new ChWriter.JdbcRowWriter(Map(0 -> url), dbName, table, cols,
          Map("user" -> u) ++ (if (pw.nonEmpty) Map("password" -> pw) else Map.empty)))
      ()
    }

    val kc = KafkaConfig(brokers = kafkaBootstrap.get)
    val task = TaskConfig(name = metricTable, topic = topic,
      consumerGroup = metricTable, bufferSize = 2500, flushInterval = 1,
      prometheusSchema = true)
    val src = Pipeline.kafkaSource(spark, kc, task)
    val projected = graft.parse.Projector.projectJson(src, dims,
      graft.functions.ChGetters.ParseOpts(timeZone = "UTC", timeUnit = 1.0))
    val (metric, series) = Pipeline.promSplit(projected, dims, blackList = None)

    val mq = metric.writeStream
      .option("checkpointLocation", Files.createTempDirectory("ck_pm").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        jdbcBatch(metricTable, Seq("__series_id__", "timestamp", "value"))(b)
      }.start()
    val sq = SeriesDedup.dedup(
        series.select(col("sid"), col("mid"), col("labels"))
          .as[SeriesDedup.SeriesRow],
        new SeriesDedup.WriteQuota(16384, 10000))
      .writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck_ps").toString)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[SeriesDedup.SeriesRow], _: Long) =>
        jdbcBatch(seriesTable,
          Seq("__series_id__", "__mgmt_id__", "labels", "__name__"))(
          b.toDF().select(col("sid").as("__series_id__"), col("mid").as("__mgmt_id__"),
            col("labels"),
            // __name__ recovered from labels' source row is not carried
            // by SeriesRow; the reference stores it denormalized — derive
            // it from the mgmt id's metric bucket like the generator does
            concat(lit("metric_"),
              lpad((col("sid") % 10).cast("string"), 8, "0")).as("__name__")))
      }.start()
    mq.processAllAvailable(); sq.processAllAvailable()
    mq.stop(); sq.stop()

    // go.metrictest.sh:55-63
    assert(queryLong(
      s"SELECT count() FROM ${bq(db)}.${bq(metricTable)}") === 10000L)
    assert(queryLong(
      s"SELECT count(DISTINCT __series_id__) FROM ${bq(db)}.${bq(seriesTable)}")
      === 1000L)
  }
}
