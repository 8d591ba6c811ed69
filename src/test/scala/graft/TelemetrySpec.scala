package graft

import org.apache.spark.HashPartitioner
import org.scalatest.funsuite.AnyFunSuite

import graft.telemetry.{Measure, StageTelemetry}
import graft.telemetry.StageTelemetry.Stage

/** The telemetry layer the bench and `tools/Profile` share: the stage
  * listener's job mapping and shuffle fields, and the measured run's row
  * count and cache release.
  */
class TelemetrySpec extends AnyFunSuite with LocalSpark {

  test("StageTelemetry maps each stage of a grouped job to that job and " +
      "attributes its tasks, shuffle bytes and skew") {
    val sc = spark.sparkContext
    val tel = StageTelemetry.attach(sc)
    try {
      val n = 40000
      // stage 0 writes keys 0..n-1; stage 1 reads them uniformly (key i
      // lands on partition i % 8) and re-keys: 7 rows in 8 go to the
      // planted hot key 0, the rest spread evenly; stage 2 reads the hot
      // partition (~57/64 of the rows) and 7 light ones
      val base = sc.parallelize(0 until n, 8).map(i => (i, i.toLong))
      val uniform = base.partitionBy(new HashPartitioner(8))
      val hot = uniform
        .map { case (i, v) => (if (i % 8 != 0) 0 else i / 8, v) }
        .partitionBy(new HashPartitioner(8))
      val group = "telemetry-spec"
      sc.setJobGroup(group, "two shuffles, one hot key")
      val rows = try hot.count() finally sc.clearJobGroup()
      tel.drain()
      assert(rows === n.toLong)

      val jobs = tel.jobs
      val stages = tel.stages
      assert(jobs.size === 1 && jobs.head.group.contains(group), jobs)
      assert(stages.map(_.id) === jobs.head.stageIds.sorted, stages)
      assert(stages.forall(s => s.job == jobs.head.id && s.completed), stages)
      assert(tel.stagesInGroup(group) === stages)
      assert(tel.stagesInGroup("another-group").isEmpty)

      assert(stages.map(_.tasks) ===
        Seq(base, uniform, hot).map(_.getNumPartitions), stages)
      assert(stages.forall(s => s.tasks == s.partitions), stages)

      val t = tel.totals
      assert(t.writeBytes > 0 && t.writeBytes === t.readBytes, t)
      assert(t.readBytes === stages.map(_.readBytes).sum)
      assert(t.readTasks === 16L, t)
      val Seq(_, flat, skewed) = stages
      assert(flat.skew < 1.3, s"uniform stage reads evenly: $flat")
      assert(skewed.skew > 2.5, s"the hot key shows in its stage: $skewed")
      assert(t.stageSkew === skewed.skew)
    } finally tel.detach()
  }

  test("stageSkew ignores a stage below 1% of the read bytes") {
    val big = Stage(1, 0, 0, readBytes = 1000000000L, readTasks = 100,
      maxTaskRead = 11000000L)
    val tiny = Stage(2, 0, 0, readBytes = 3000000L, readTasks = 3,
      maxTaskRead = 2700000L)
    assert(math.abs(big.skew - 1.1) < 1e-9)
    assert(tiny.skew > 2.0)
    assert(StageTelemetry.stageSkew(Seq(big, tiny)) === big.skew)
    // with every stage below the floor, all of them count
    assert(StageTelemetry.stageSkew(Seq(tiny)) === tiny.skew)
    // and a stage that read nothing has no ratio
    assert(StageTelemetry.stageSkew(Seq(Stage(3, 0, 0))) === 0.0)
  }

  test("runOnce returns the observed row count and leaves no cached plan " +
      "or persisted RDD behind") {
    var cachedDuringRun = false
    val (sec, rows) = Measure.runOnce(spark, () => {
      // an operator that persists internally and leaves the release to
      // its caller, like the pinned minhash pair table
      val pinned = spark.range(10000).selectExpr("id % 7 AS k").persist()
      pinned.count()
      cachedDuringRun = !spark.sharedState.cacheManager.isEmpty
      pinned.groupBy("k").count()
    })
    assert(rows === 7L)
    assert(sec > 0.0)
    assert(cachedDuringRun, "the plan under test must persist something")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a later run would reuse this run's cached result")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
