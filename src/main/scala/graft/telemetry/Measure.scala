package graft.telemetry

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The measured run shared by [[graft.Bench]] and [[graft.tools.Profile]]:
  * one execution of the exact plan with its row count, and the host
  * context (load, external cores, IO stall) taken around it.
  */
object Measure {
  /** 1-min system load; -1 when `/proc/loadavg` is unreadable. Sampled
    * BEFORE a timed run: a 3.5 s query recorded at 6 s under load 30
    * explains itself in the artifact.
    */
  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** One execution of the EXACT measured plan: a noop write with a
    * row-count observation riding on it, so the count can never come
    * from a differently-planned execution. `mk()` runs INSIDE the timed
    * window — iterative operators (connected components, BPE train)
    * execute eager per-round jobs during construction, and timing only
    * the final write would silently drop that work. Returns (wall
    * seconds, observed rows).
    *
    * No result caching across runs: operators that persist internally
    * and hand the release to the caller (the pinned minhash pair table)
    * leave their RESULT in the session CacheManager, and Spark
    * substitutes it into any later canonically-equal plan — run 2 of a
    * min-of-N row (and the cluster row that embeds the same pair plan)
    * would silently skip the verify join and read run 1's pairs. Every
    * run therefore ends by dropping all cached plans and persisted RDDs:
    * outside the timed window (the wall is already taken), and blocking,
    * so block-removal IO cannot spill into the next run's window.
    */
  def runOnce(spark: SparkSession, mk: () => DataFrame): (Double, Long) = {
    val obs = Observation()
    val t0 = System.nanoTime()
    mk().observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    (sec, obs.get("n").asInstanceOf[Long])
  }

  /** A measured run: wall seconds, rows, and its host context. */
  final case class Sample(sec: Double, rows: Long, load: Double, ext: Double,
      io: Double)

  /** `run` (returning wall seconds and rows) with its context: `load` is
    * the 1-min loadavg before the run, `ext` the busy cores outside this
    * JVM over the run ([[ExternalLoad]], -1 when unreadable), `io` the
    * IO-stall fraction of the run's wall ([[IoPressure]]).
    */
  def withContext(cpus: Int)(run: => (Double, Long)): Sample = {
    val la = loadAvg()
    val io0 = IoPressure.totalStallUs()
    val e0 = ExternalLoad.trySnap()
    val (sec, n) = run
    val io = IoPressure.stallFrac(io0, IoPressure.totalStallUs(), sec)
    Sample(sec, n, la, ExternalLoad.coresSince(e0, cpus), io)
  }

  /** One [[runOnce]] [[withContext]]. `telemetry` is reset before the run
    * and drained after it, so its stage table is this run's alone.
    */
  def sample(spark: SparkSession, cpus: Int, telemetry: StageTelemetry,
      mk: () => DataFrame): Sample = {
    telemetry.reset()
    val s = withContext(cpus)(runOnce(spark, mk))
    telemetry.drain()
    s
  }
}
