package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SeriesDedup
import graft.streaming.SeriesDedup.{SeriesRow, WriteQuota}

/** Prometheus series dedup semantics (SURVEY FL5/ST5; reference
  * output/clickhouse.go:163-228): first sight of a sid writes, repeats
  * don't, a changed mid rewrites (quota-gated).
  */
class SeriesDedupSpec extends AnyFunSuite with LocalSpark {

  test("streaming dedup: new sids pass, repeats drop, mid change rewrites") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SeriesRow]
    val out = SeriesDedup.dedup(input.toDS(), new WriteQuota(16384, 10000))
    val q = out.writeStream.format("memory").queryName("series_out")
      .outputMode("append").start()

    input.addData(
      SeriesRow(1L, 10L, "{\"a\":\"x\"}"),
      SeriesRow(1L, 10L, "{\"a\":\"x\"}"),
      SeriesRow(2L, 20L, "{\"a\":\"y\"}"))
    q.processAllAvailable()
    assert(spark.table("series_out").count() === 2) // 1 and 2, dup dropped

    input.addData(
      SeriesRow(1L, 10L, "{\"a\":\"x\"}"), // unchanged -> dropped
      SeriesRow(2L, 21L, "{\"a\":\"y2\"}"), // mid changed -> rewritten
      SeriesRow(3L, 30L, "{\"a\":\"z\"}")) // new
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("series_out").as[SeriesRow].collect().sortBy(r => (r.sid, r.mid))
    assert(rows.map(r => (r.sid, r.mid)).toSeq ===
      Seq((1L, 10L), (2L, 20L), (2L, 21L), (3L, 30L)))
  }

  test("bootstrap snapshot: pre-seeded sids don't re-emit, changed mids do") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SeriesRow]
    // ClickHouse snapshot (the startup series load): sid 1 -> mid 10,
    // sid 2 -> mid 20 already known at startup. Sid 1 appears TWICE (an
    // old mid not yet merged away) — the bootstrap must keep max(mid)
    // or the initial state would have duplicate keys and crash
    val snapshot = spark.createDataFrame(Seq((1L, 10L), (1L, 9L), (2L, 20L)))
      .toDF("__series_id__", "__mgmt_id__")
    val boot = SeriesDedup.bootstrapFromSnapshot(snapshot)
    val out = SeriesDedup.dedup(input.toDS(), new WriteQuota(16384, 10000),
      bootstrap = Some(boot))
    val q = out.writeStream.format("memory").queryName("series_boot")
      .outputMode("append").start()

    input.addData(
      SeriesRow(1L, 10L, "{}"), // pre-seeded, unchanged -> dropped
      SeriesRow(2L, 21L, "{}"), // pre-seeded, mid changed -> rewritten
      SeriesRow(3L, 30L, "{}")) // unseen -> emitted
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("series_boot").as[SeriesRow].collect()
      .map(r => (r.sid, r.mid)).sorted.toSeq
    assert(rows === Seq((2L, 21L), (3L, 30L)))
  }

  test("periodic re-seed: a sid written by another instance stops re-emitting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SeriesRow]
    val out = SeriesDedup.dedup(input.toDS(), new WriteQuota(16384, 10000))
    val q = out.writeStream.format("memory").queryName("series_reseed")
      .outputMode("append").start()

    input.addData(SeriesRow(1L, 10L, "{}"))
    q.processAllAvailable()
    assert(spark.table("series_reseed").count() === 1)

    // the re-seed tick: ANOTHER instance wrote sid 99 -> the fresh
    // ClickHouse snapshot (restricted to ActiveSeriesRange) carries it;
    // seedRows turns the snapshot into no-emit state updates
    val snapshot = spark.createDataFrame(Seq((99L, 5L)))
      .toDF("__series_id__", "__mgmt_id__")
    SeriesDedup.seedRows(snapshot).collect().foreach(r => input.addData(r))
    q.processAllAvailable()
    // the seed row itself emits NOTHING
    assert(spark.table("series_reseed").count() === 1)

    input.addData(
      SeriesRow(99L, 5L, "{}"),  // already written elsewhere -> dropped
      SeriesRow(99L, 6L, "{}"),  // mid CHANGED vs the seed -> rewritten
      SeriesRow(7L, 70L, "{}"))  // genuinely new -> emitted
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("series_reseed").as[SeriesRow].collect()
      .map(r => (r.sid, r.mid)).sorted.toSeq
    assert(rows === Seq((1L, 10L), (7L, 70L), (99L, 6L)))
  }

  test("re-seed ticker fires repeatedly and survives tick failures") {
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val t = new SeriesDedup.Reseeder(50L)(() => {
      if (ticks.incrementAndGet() == 1)
        throw new RuntimeException("transient snapshot read failure")
    })
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (ticks.get() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ticks.get() >= 3, "ticker stopped after a failing tick")
    } finally t.close()
  }

  test("quota limits changed-series rewrites (16384/10s parity, small window)") {
    val quota = new WriteQuota(2, 60000)
    assert(quota.allow(1000))
    assert(quota.allow(1001))
    assert(!quota.allow(1002)) // window quota spent
    assert(quota.allow(70000)) // next window
  }

  test("batch dedup keeps first occurrence per sid") {
    import spark.implicits._
    val ds = Seq(
      SeriesRow(1L, 10L, "a"), SeriesRow(1L, 11L, "b"), SeriesRow(2L, 20L, "c")).toDS()
    val got = SeriesDedup.dedupBatch(ds).collect().map(_.sid).sorted.toSeq
    assert(got === Seq(1L, 2L))
  }
}
