package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.streaming.{Pipeline, SeriesDedup}
import graft.streaming.SeriesDedup.{SeriesRow, WriteQuota}
import graft.types.ChType

/** Prometheus-mode E2E mirroring `go.metrictest.sh`: 10 000 datapoints
  * over 1 000 series stream through projection -> two-table split ->
  * stateful series dedup; the metric table keeps every point, the series
  * table ends with exactly one row per series even though points arrive
  * across many micro-batches (the reference asserts metric <= 10000,
  * series == 1000).
  */
class PromE2ESpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  private val dims = Seq(
    Dim("timestamp", ChType.whichType("DateTime")),
    Dim("value", ChType.whichType("Float32")),
    Dim("__name__", ChType.whichType("String")),
    Dim("key_0", ChType.whichType("String")),
    Dim("__series_id__", ChType.whichType("Int64")),
    Dim("__mgmt_id__", ChType.whichType("Int64")))

  private def datapoints: IndexedSeq[String] =
    (0 until 10000).map { i =>
      val sid = i % 1000
      s"""{"timestamp":"2023-01-20T00:${"%02d".format(i % 60)}:00+08:00","value":0.${i % 997},""" +
        s""""__name__":"metric_${"%08d".format(sid % 10)}","key_0":"${('a' + sid % 26).toChar}",""" +
        s""""__series_id__":$sid,"__mgmt_id__":$sid}"""
    }

  test("metric table keeps all points; series table dedups to 1000") {
    val inDir = Files.createTempDirectory("prom_in")
    datapoints.grouped(2500).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(inDir.resolve(s"p$i.txt"), chunk.mkString("\n").getBytes)
    }
    val src = Pipeline.fileSource(spark, inDir.toString, "prom")

    // the projected stream feeds both sinks (D5 split)
    val projected = Projector.projectJson(
      src, dims, ParseOpts(timeZone = "UTC", timeUnit = 1.0))
    val (metric, series) = Pipeline.promSplit(projected, dims, blackList = None)

    val mq = metric.writeStream.format("memory").queryName("prom_metric")
      .option("checkpointLocation", Files.createTempDirectory("ck_m").toString)
      .start()
    val sq = SeriesDedup.dedup(
        series.select(col("sid"), col("mid"), col("labels")).as[SeriesRow],
        new WriteQuota(16384, 10000))
      .writeStream.format("memory").queryName("prom_series")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck_s").toString)
      .start()
    mq.processAllAvailable(); sq.processAllAvailable()
    mq.stop(); sq.stop()

    assert(spark.table("prom_metric").count() === 10000L)
    val seriesRows = spark.table("prom_series")
    assert(seriesRows.count() === 1000L) // dedup across micro-batches
    assert(seriesRows.select(countDistinct(col("sid"))).head().getLong(0) === 1000L)

    // F16 labels: string dims except __name__/le, canonical JSON
    val lbl = seriesRows.filter(col("sid") === 3L).head().getString(2)
    assert(lbl === """{"key_0":"d"}""")

    // event-time landed UTC-normalized through the +08:00 offset
    val ts = spark.table("prom_metric")
      .agg(min(col("timestamp"))).head().getAs[java.sql.Timestamp](0)
    assert(ts.toInstant === java.time.Instant.parse("2023-01-19T16:00:00Z"))
  }
}
