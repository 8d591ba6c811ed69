package sinkbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dynamic.SchemaEvolution
import graft.dynamic.SchemaEvolution.NewKeyPolicy
import graft.functions.{ChGetters, Once}
import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.shard.Sharding
import graft.sink.ChWriter
import graft.streaming.Pipeline
import graft.types.ChType

/** A span: one call into a layer, under the batch span that caused it. */
final case class Span(id: Int, parent: Int, name: String, batch: Long,
    startNs: Long, endNs: Long, rows: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  val all = new ArrayBuffer[Span]()
  def record[T](name: String, parent: Int, batch: Long)(f: => (T, Long)): (T, Int) = {
    val t0 = System.nanoTime()
    val (v, rows) = f
    val id = all.size + 1
    all += Span(id, parent, name, batch, t0, System.nanoTime(), rows)
    (v, id)
  }
  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo); if (b > lo) { covered += b - lo; upTo = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, all.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "batch" -> s.batch.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "rows" -> s.rows.toString, "self_ms" -> Json.num(selfMs(s))))
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The traced replay: a sample of catch-up batches is re-run layer by layer
  * through the layers' public calls, each materialized on the cached output
  * of the one before, and recorded as spans under a batch span carrying the
  * batch id. Writes go to the discard driver's `replay` endpoints.
  */
final class Replay(spark: SparkSession, w: Workload, a: Args) {
  private val task = w.task
  private val opts = ParseOpts(task.timeZone, task.timeUnit)
  private val metaDims =
    if (task.shardingKey.isEmpty)
      Seq(Dim("__kafka_offset", ChType.whichType("Int64")),
        Dim("__kafka_partition", ChType.whichType("Int64")))
    else Nil

  /** The benchmark source's columns over a fixed file list (batch read). */
  private def read(files: Seq[File]): DataFrame =
    spark.read.text(files.map(_.getPath): _*).select(
      lit(null).cast("string").as("key"), col("value"), lit(task.topic).as("topic"),
      lit(0).as("partition"), crc32(col("value").cast("binary")).as("offset"),
      current_timestamp().as("timestamp"))

  private def parsed(df: DataFrame): DataFrame =
    df.withColumn("__msg__", Once(ChGetters.parsed(col("value"))))

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Replays `sample` (batch id -> the files it read); `catchBatches` give
    * the fused time of the same batches.
    */
  def run(sample: Seq[(Long, Seq[File])], catchBatches: Seq[BatchRec]): Map[String, (Double, String)] = {
    val spans = new Spans
    val sink = Run.sinkSpec(w, w.dims, "replay")
    var stageBytes = 0L
    var fusion = 0.0
    sample.foreach { case (b, files) =>
      val (_, batchSpan) = spans.record("batch", 0, b) {
        val (src, _) = spans.record("streaming.source_read", -1, b) {
          val d = read(files).persist(); (d, d.count()) }
        val cached0 = cachedBytes()
        val (p, _) = spans.record("parse.decode", -1, b) {
          val d = parsed(src).persist(); (d, d.count()) }
        if (task.dynamicSchema) {
          // the parsed stage the dynamic-schema path persists per batch
          stageBytes = math.max(stageBytes, cachedBytes() - cached0)
          spans.record("dynamic.detect", -1, b) {
            val keys = SchemaEvolution.detectNewKeys(p, w.dims.map(_.source).toSet,
              NewKeyPolicy(task.whiteList, task.blackList, timeZone = task.timeZone),
              parsedCol = Some("__msg__"))
            (keys, keys.size.toLong)
          }
        }
        val (proj, _) = spans.record("parse.project", -1, b) {
          val d = Projector.projectJson(p, w.dims ++ metaDims, opts, task.fields).persist()
          (d, d.count())
        }
        val (sharded, _) = spans.record("shard.partition", -1, b) {
          val d = Sharding.partitionByShard(proj,
            Pipeline.shardColumn(task, w.dims ++ metaDims, w.numShards),
            w.numShards, w.writersPerShard)
            .select((w.dims.map(d => col(d.name)) :+ col("__shard__")): _*).persist()
          (d, d.count())
        }
        spans.record("sink.write", -1, b) {
          val st = ChWriter.write(sharded, sink.writeCfg, sink.mkWriter); (st, st.written) }
        Seq(src, p, proj, sharded).foreach(_.unpersist(true))
        ((), files.size.toLong)
      }
      // children were recorded before their parent id existed: re-parent
      val bs = spans.all.find(_.id == batchSpan).get
      spans.all.indices.foreach { i =>
        val s = spans.all(i)
        if (s.parent == -1 && s.startNs >= bs.startNs && s.endNs <= bs.endNs)
          spans.all(i) = s.copy(parent = batchSpan)
      }
      val layerMs = spans.all.filter(_.parent == batchSpan).map(_.ms).sum
      val fused = catchBatches.filter(_.batchId == b).lastOption.map(_.d("addBatch").toDouble)
      fused.foreach(f => fusion += layerMs - f)
    }
    val tag = s"${w.name}-seed${a.seed}-trace1"
    spans.write(new File(a.results, s"$tag.spans.jsonl"))

    def named(n: String) = spans.all.filter(_.name == n).toSeq
    def busy(n: String) = named(n).map(_.ms).sum / 1e3
    val decodeRows = named("parse.decode").map(_.rows).sum
    Map(
      "parse.decode_rows_per_s" -> (decodeRows / math.max(1e-9, busy("parse.decode")), "rows/s"),
      "parse.decode_busy_s" -> (busy("parse.decode"), "s"),
      // projection consumes the decoded rows
      "parse.project_rows_per_s" -> (decodeRows / math.max(1e-9, busy("parse.project")), "rows/s"),
      "parse.project_busy_s" -> (busy("parse.project"), "s"),
      "sink.write_ms" -> ((Stats.median(named("sink.write").map(_.ms)), "ms")),
      "dynamic.detect_ms_p50" -> ((if (named("dynamic.detect").isEmpty) 0.0
        else Stats.median(named("dynamic.detect").map(_.ms)), "ms")),
      "dynamic.stage_cache_bytes" -> (stageBytes.toDouble, "bytes"),
      "trace.fusion_benefit_ms" -> (fusion, "ms"))
  }

  /** Parse drops over every offered message, counted through the parse
    * layer's public calls, against the generator's injected counts.
    */
  def dropCounts(files: Seq[(File, Range)], exp: Expected): (Map[String, (Double, String)], Boolean) = {
    val p = parsed(read(files.map(_._1))).persist()
    val total = p.count()
    val corrupt = p.filter(col("__msg__").isNull).count()
    val projected = Projector.projectJson(p.filter(col("__msg__").isNotNull),
      w.dims ++ metaDims, opts, task.fields).count()
    p.unpersist(true)
    val ids = files.flatMap(_._2)
    val wantCorrupt = ids.count(exp.shard(_) == Expected.Corrupt)
    val wantNull = ids.count(exp.shard(_) == Expected.NullDropped)
    val notNull = total - corrupt - projected
    val ok = total == ids.size && corrupt == wantCorrupt && notNull == wantNull
    if (!ok) System.err.println(s"[sinkbench] MISMATCH drop counts: read $total of ${ids.size}, " +
      s"corrupt $corrupt vs $wantCorrupt, not-null drops $notNull vs $wantNull")
    (Map("parse.corrupt_dropped" -> ((corrupt.toDouble, "count")),
      "parse.notnull_dropped" -> ((notNull.toDouble, "count"))), ok)
  }
}
