package graft.streaming

import scala.annotation.unused

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.config.{KafkaConfig, TaskConfig}
import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.shard.Sharding
import graft.sink.ChWriter
import graft.types.{ChKind, ChType}

/** The end-to-end ingest pipeline (SURVEY §3.1), Spark-first:
  *
  * {{{
  * Kafka source --> tolerant typed projection --> shard column
  *   --> foreachBatch: each task routes its rows to per-shard writers
  *   --> checkpoint advances (= offset commit AFTER write, at-least-once)
  * }}}
  *
  * A fixed-schema batch runs as one job of one stage, with no shard
  * exchange; it is written by min(source partitions, cores) tasks.
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
      /** Ignored: a batch is written by min(source partitions, cores)
        * tasks. Kept only for the sinkbench harness, which passes it
        * positionally.
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

  /** Parse + project one (micro-)batch according to the task config;
    * `parseErrors` counts the JSON messages dropped as corrupt.
    */
  def project(src: DataFrame, task: TaskConfig, dims: Seq[Dim],
      parseErrors: Option[LongAccumulator] = None): DataFrame = {
    val opts = ParseOpts(task.timeZone, task.timeUnit)
    task.parser match {
      case "csv" => Projector.projectCsv(src, task.csvFormat, dims, opts, task.delimiter)
      case _     => Projector.projectJson(src, dims, opts, task.fields, parseErrors)
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

  /** The dims the default shard policy (X3) routes on: the Kafka
    * coordinates, carried through projection and dropped before the write.
    */
  private def shardMetaDims(task: TaskConfig): Seq[Dim] =
    if (task.shardingKey.isEmpty)
      Seq(Dim("__kafka_offset", ChType.whichType("Int64")),
        Dim("__kafka_partition", ChType.whichType("Int64")))
    else Nil

  /** The source columns a task reads: `value`, and the source column of
    * each `__kafka_*` meta dim ([[Projector.metaSource]]), the default
    * shard policy's offset and partition among them.
    */
  private def sourceColumns(task: TaskConfig, dims: Seq[Dim]): Seq[String] =
    ("value" +: (dims ++ shardMetaDims(task)).flatMap(d => Projector.metaSource(d.name)))
      .distinct

  /** Assemble the full streaming query. With dynamicSchema on, each
    * batch's new keys are detected before any of its rows is written, and
    * `onNewKeys` gets the accepted ones: it issues the ALTERs and returns
    * the widened dims and their sink, under which this batch and every
    * later one are projected and written (SURVEY §3.3); None keeps the
    * current ones. If it throws, the batch fails unwritten and its offsets
    * stay uncommitted, so a query restarted from the checkpoint replays
    * it. `spark` is ignored (the session is `src`'s); it stays only for
    * callers that pass it positionally (the sinkbench harness).
    *
    * The per-batch fixed cost stays small and constant:
    *   - The query reads only [[sourceColumns]]. Spark's foreachBatch
    *     sink computes every column of its input before the batch
    *     function sees it, and a per-batch literal in one (a file source's
    *     `current_timestamp()` is the batch's timestamp) makes the stage's
    *     generated code differ in every batch, so Spark compiles it again
    *     each time. A `__kafka_*` dim that schema evolution adds later
    *     finds its source column pruned and reads NULL, unless the default
    *     shard policy keeps that column (offset, partition).
    *   - A batch is written by one task per core: `coalesce` to the
    *     session's default parallelism is narrow (one stage, no shuffle)
    *     and packs the source's partitions by count, not by size. A batch
    *     with fewer partitions than cores keeps its own.
    */
  def start(@unused spark: SparkSession, src: DataFrame, task: TaskConfig,
      dims: Seq[Dim], sink: SinkSpec, checkpoint: String,
      onNewKeys: Seq[(String, ChKind)] => Option[(Seq[Dim], SinkSpec)] = _ => None,
      metrics: Option[Metrics] = None): StreamingQuery = {

    val metaDims = shardMetaDims(task)
    // the task's current schema; only the stream thread, one batch at a
    // time, reads and widens it
    var (curDims, curSink) = (dims, sink)
    val dynamic = task.dynamicSchema && task.parser != "csv"
    // messages the decoder drops as corrupt, summed by the write tasks
    val parseErrors = src.sparkSession.sparkContext.longAccumulator(s"${task.name} parse errors")

    src.select(sourceColumns(task, dims).map(col): _*).writeStream
      .queryName(task.name)
      .trigger(Trigger.ProcessingTime(task.flushInterval * 1000L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val perCore = batch.coalesce(batch.sparkSession.sparkContext.defaultParallelism)
        // With dynamicSchema on, the batch's source columns are cached
        // once: new-key detection and the projection each decode every
        // message from them once, and no variant is built per message
        // (the reference piggybacks GetNewKeys on its one parse,
        // parser/fastjson.go:512-536).
        val input = if (dynamic) perCore.persist() else perCore
        try {
          if (dynamic) {
            val newKeys = SchemaEvolution.detectNewKeys(
              input, curDims.map(_.source).toSet,
              NewKeyPolicy(task.whiteList, task.blackList, timeZone = task.timeZone))
            if (newKeys.nonEmpty)
              onNewKeys(newKeys).foreach { case (d, s) => curDims = d; curSink = s }
          }
          // a task's own offset/partition dim is the one X3 routes on
          val allDims = curDims ++ metaDims.filterNot(m => curDims.exists(_.name == m.name))
          val sharded = Sharding.partitionByShard(
            project(input, task, allDims, Some(parseErrors)),
            shardColumn(task, allDims, curSink.numShards), curSink.numShards)
            .select((curDims.map(d => col(d.name)) :+ col("__shard__")): _*)
          val t0 = System.nanoTime()
          val stats = ChWriter.write(sharded, curSink.writeCfg, curSink.mkWriter)
          val ms = (System.nanoTime() - t0) / 1000000L
          val corrupt = parseErrors.value
          parseErrors.reset()
          metrics.foreach { m =>
            m.observeWriteMs(ms); m.observeWriteStats(stats); m.parseErrors.add(corrupt) }
        } finally if (dynamic) input.unpersist()
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
