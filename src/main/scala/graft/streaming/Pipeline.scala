package graft.streaming

import scala.annotation.unused

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.{KafkaConfig, TaskConfig}
import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.functions.ChGetters
import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.shard.Sharding
import graft.sink.ChWriter
import graft.types.ChKind

/** The end-to-end ingest pipeline (SURVEY §3.1), Spark-first:
  *
  * {{{
  * Kafka source --> tolerant typed projection --> shard column
  *   --> foreachBatch: each task routes its rows to per-shard writers
  *   --> checkpoint advances (= offset commit AFTER write, at-least-once)
  * }}}
  *
  * A fixed-schema batch runs as one job of one stage, with no shard
  * exchange; write parallelism follows the source's partitions.
  *
  * The reference's buffer/flush knobs map to `maxOffsetsPerTrigger`
  * (bufferSize) + `Trigger.ProcessingTime` (flushInterval); duplicates on
  * recovery land on the same shard so a ReplacingMergeTree target dedups —
  * the same effective-exactly-once design the reference documents
  * (docs/dev/design.md:5-12).
  */
object Pipeline {

  final case class SinkSpec(
      numShards: Int,
      writeCfg: ChWriter.WriteConfig,
      mkWriter: () => ChWriter.RowWriter,
      /** Ignored: write parallelism follows the source's partitions. Kept
        * only for the sinkbench harness, which passes it positionally.
        */
      writersPerShard: Int = 1)

  /** S1 — the Kafka micro-batch source with the reference's consumer
    * options mapped onto Spark's. (Requires the spark-sql-kafka package at
    * runtime; local tests use [[fileSource]] instead.)
    */
  def kafkaSource(spark: SparkSession, kafka: KafkaConfig, task: TaskConfig): DataFrame = {
    var r = spark.readStream.format("kafka")
    kafka.sourceOptions.foreach { case (k, v) => r = r.option(k, v) }
    r.option("subscribe", task.topic)
      .option("startingOffsets", if (task.earliest) "earliest" else "latest")
      .option("maxOffsetsPerTrigger", task.bufferSize.toLong)
      .option("includeHeaders", "true")
      .option("failOnDataLoss", "false")
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"),
        col("timestamp"), col("headers"))
  }

  /** Local/test source: a directory of text files, one message per line,
    * with synthetic kafka metadata columns.
    */
  def fileSource(spark: SparkSession, dir: String, topic: String): DataFrame =
    spark.readStream
      .format("text")
      .load(dir)
      .select(
        lit(null).cast("string").as("key"),
        col("value"),
        lit(topic).as("topic"),
        lit(0).as("partition"),
        // streaming-safe synthetic offset (only feeds the default shard
        // policy; real offsets come from the Kafka source)
        crc32(col("value").cast("binary")).as("offset"),
        current_timestamp().as("timestamp"))

  /** FL7 — route by `__table_name` header when present, else by topic
    * (task/consumer.go:233-254).
    */
  def routingFilter(src: DataFrame, task: TaskConfig): DataFrame =
    if (src.columns.contains("headers"))
      src.filter(
        coalesce(
          filter(col("headers"), h => h.getField("key") === "__table_name")(0)
            .getField("value").cast("string") === task.tableName,
          col("topic") === task.topic))
    else src.filter(col("topic") === task.topic)

  /** Parse + project one (micro-)batch according to the task config. */
  def project(src: DataFrame, task: TaskConfig, dims: Seq[Dim]): DataFrame = {
    val opts = ParseOpts(task.timeZone, task.timeUnit)
    task.parser match {
      case "csv" => Projector.projectCsv(src, task.csvFormat, dims, opts, task.delimiter)
      case _     => Projector.projectJson(src, dims, opts, task.fields)
    }
  }

  /** X1-X3 — the shard column for the configured policy. */
  def shardColumn(task: TaskConfig, dims: Seq[Dim], numShards: Int): Column =
    dims.find(d => d.name == task.shardingKey && task.shardingKey.nonEmpty) match {
      case Some(d) if task.shardingStripe > 0 =>
        Sharding.stripe(col(d.name), d.ti, task.shardingStripe, numShards)
      case Some(d) if d.ti.kind == ChKind.Str =>
        Sharding.hash(col(d.name), numShards)
      case Some(d) =>
        Sharding.stripe(col(d.name), d.ti, 1L, numShards)
      case None =>
        Sharding.byOffset(col("__kafka_offset"), col("__kafka_partition"),
          task.bufferSize, numShards)
    }

  /** Assemble the full streaming query. `onNewKeys` is invoked (with the
    * batch's accepted new keys) before the batch is written when
    * dynamicSchema is on — the caller issues the ALTERs and restarts
    * (SURVEY §3.3). `spark` is ignored (the session is `src`'s); it
    * stays only for callers that pass it positionally (the sinkbench
    * harness).
    */
  def start(@unused spark: SparkSession, src: DataFrame, task: TaskConfig,
      dims: Seq[Dim], sink: SinkSpec, checkpoint: String,
      onNewKeys: Seq[(String, ChKind)] => Unit = _ => (),
      metrics: Option[Metrics] = None): StreamingQuery = {

    val knownKeys = dims.map(_.source).toSet
    // the default policy shards on kafka coordinates (X3) -> carry the
    // metadata dims through projection, drop them again before the write
    val metaDims =
      if (task.shardingKey.isEmpty)
        Seq(Dim("__kafka_offset", graft.types.ChType.whichType("Int64")),
          Dim("__kafka_partition", graft.types.ChType.whichType("Int64")))
      else Nil

    src.writeStream
      .queryName(task.name)
      .trigger(Trigger.ProcessingTime(task.flushInterval * 1000L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Single-parse invariant (reference: one parse per message,
        // GetNewKeys piggybacked — parser/fastjson.go:512-536): with
        // dynamicSchema on, parse ONCE into a cached stage and run both
        // the new-key detection and the projection from it.
        val (input, cached) =
          if (task.dynamicSchema && task.parser != "csv") {
            val stage = batch.withColumn("__msg__",
              graft.functions.Once(ChGetters.parsed(col("value")))).persist()
            val newKeys = SchemaEvolution.detectNewKeys(
              stage, knownKeys,
              NewKeyPolicy(task.whiteList, task.blackList, timeZone = task.timeZone),
              parsedCol = Some("__msg__"))
            if (newKeys.nonEmpty) onNewKeys(newKeys)
            (stage, true)
          } else (batch, false)
        try {
          val projected = project(input, task, dims ++ metaDims)
          val sharded = Sharding.partitionByShard(
            projected, shardColumn(task, dims ++ metaDims, sink.numShards),
            sink.numShards)
            .select((dims.map(d => col(d.name)) :+ col("__shard__")): _*)
          val t0 = System.nanoTime()
          val stats = ChWriter.write(sharded, sink.writeCfg, sink.mkWriter)
          val ms = (System.nanoTime() - t0) / 1000000L
          metrics.foreach { m => m.observeWriteMs(ms); m.observeWriteStats(stats) }
        } finally if (cached) input.unpersist()
        ()
      }
      .start()
  }

  /** F16 — Prometheus `labels` JSON assembly: string dims except
    * `__name__`/`le`/blacklist, serialized as a JSON object
    * (task/task.go:256-271). Key order is canonical (sorted) here.
    */
  def labelsJson(dims: Seq[Dim], blackList: Option[String]): Column = {
    val black = blackList.map(_.r)
    val labelDims = dims
      .filter(_.ti.kind == ChKind.Str)
      .filterNot(d => d.name == "__name__" || d.name == "le")
      .filterNot(d => black.exists(_.findFirstIn(d.name).isDefined))
      .sortBy(_.name)
    to_json(struct(labelDims.map(d => col(d.name)): _*))
  }

  /** D5 — Prometheus two-table split: metric rows (sid, timestamp, value)
    * and candidate series rows (sid, mgmt, labels).
    */
  def promSplit(projected: DataFrame, dims: Seq[Dim],
      blackList: Option[String]): (DataFrame, DataFrame) = {
    val metric = projected.select(
      col("__series_id__"), col("timestamp"), col("value"))
    val series = projected.select(
      col("__series_id__").as("sid"),
      col("__mgmt_id__").as("mid"),
      labelsJson(dims, blackList).as("labels"))
    (metric, series)
  }
}
