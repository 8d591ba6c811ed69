package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Standalone single-query timer with the EXACT measurement shape of
  * [[graft.Bench]] (observe-count riding a noop write, warm-up run, N
  * timed runs, per-run 1-min loadavg) — the adjudication tool for
  * apparent bench regressions: `runMain graft.tools.TimeQuery <sfDir>
  * <query>[,query2,...] [runs]` reproduces one query's bench number on
  * an otherwise-quiet box without paying for the whole bench sweep.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <query[,query2,..]> [runs]")
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def loadAvg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      def runOnce(): (Double, Long) = {
        val obs = org.apache.spark.sql.Observation()
        val t0 = System.nanoTime()
        fn(spark, sfDir).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, obs.get("n").asInstanceOf[Long])
      }
      runOnce() // warm-up, same plan
      val rs = (1 to runs).map { _ => val la = loadAvg(); (runOnce(), la) }
      println(f"TIMEQUERY $name min=${rs.map(_._1._1).min}%.3f s " +
        s"rows=${rs.head._1._2} " +
        s"runs=[${rs.map(r => f"${r._1._1}%.3f").mkString(",")}] " +
        s"load=[${rs.map(_._2).mkString(",")}]")
    }
    spark.stop()
  }
}
