package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{BenchScale100, GraftSession, SparkEntry}
import graft.telemetry.{Measure, StageTelemetry}

/** Profile one or more bench rows with the bench's own measured run:
  *
  *   sbt "runMain graft.tools.Profile <sfDir> <name[,name...]> [runs]"
  *
  * A name is a registry query, run on `sfDir` with one warm-up run like
  * the bench's 1x tier, or `100x:<row>` — a row of
  * [[graft.BenchScale100.Table]] built from `sfDir` at
  * SPARK_GRAFT_BENCH_100X_REPS replicas, run without warm-up under the
  * tier's shuffle partitions, exactly as the bench times it. Every run
  * prints its wall, rows, 1-min load, external busy cores and IO-stall
  * fraction. The last run also prints its job table (with the driver
  * gap before each job), its stage table, the exchange, join and scan
  * lines of its executed plan, and each whole-stage codegen stage's
  * largest generated method. The session is the bench's
  * (`GraftSession.local`, SPARK_GRAFT_CPUS cores).
  */
object Profile extends AdaptiveSparkPlanHelper {
  /** HotSpot's `HugeMethodLimit`: the JIT never compiles a method of more
    * bytecode bytes (unless `-XX:-DontCompileHugeMethods`), so a codegen
    * stage whose `processNext` is larger runs in the interpreter.
    */
  val HugeMethodLimit = 8000

  /** Each whole-stage codegen stage of `plan`, through adaptive query
    * stages and subqueries, with its largest generated method in bytes.
    */
  def codegenMethodSizes(plan: SparkPlan): Seq[(Int, Int)] =
    collectWithSubqueries(plan) { case ws: WholeStageCodegenExec =>
      ws.codegenStageId -> CodeGenerator.compile(ws.doCodeGen()._2)._2.maxMethodCodeSize
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Profile <sfDir> <name[,name...]> [runs]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val runs = args.lift(2).map(_.toInt).getOrElse(3).max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    lazy val scale100 = new BenchScale100.Table(spark, sfDir, cpus,
      sys.env.get("SPARK_GRAFT_BENCH_100X_REPS").map(_.toInt)
        .getOrElse(BenchScale100.DefaultReps)).rows
    val tel = StageTelemetry.attach(spark.sparkContext)
    val plans = new LastPlan
    spark.listenerManager.register(plans)
    try names.foreach { name =>
      if (name.startsWith("100x:")) {
        val row = scale100.find(_.name == name.stripPrefix("100x:"))
          .getOrElse(sys.error(s"unknown 100x row $name (rows: " +
            scale100.map(_.name).mkString(",") + ")"))
        row.setup()
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
          BenchScale100.shufflePartitions(cpus).toString)
        try profile(spark, cpus, tel, plans, name, row.plan, runs, warm = false)
        finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      } else {
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query $name"))
        profile(spark, cpus, tel, plans, name, () => fn(spark, sfDir), runs,
          warm = true)
      }
    } finally {
      tel.detach()
      spark.stop()
    }
  }

  /** The last successfully executed query, for its final (post-AQE) plan. */
  private final class LastPlan extends QueryExecutionListener {
    @volatile var qe: Option[QueryExecution] = None
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = this.qe = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def profile(spark: SparkSession, cpus: Int, tel: StageTelemetry,
      plans: LastPlan, name: String, mk: () => DataFrame, runs: Int,
      warm: Boolean): Unit = {
    if (warm) Measure.runOnce(spark, mk)
    var t0Ms = 0L
    val samples = (1 to runs).map { i =>
      t0Ms = System.currentTimeMillis()
      val s = Measure.sample(spark, cpus, tel, mk)
      println(f"PROFILE $name run$i wall=${s.sec}%.3f s rows=${s.rows} " +
        f"load=${s.load}%.2f ext=${s.ext}%.2f io=${s.io}%.3f")
      s
    }
    println(f"PROFILE $name min=${samples.map(_.sec).min}%.3f s " +
      s"runs=[${samples.map(s => f"${s.sec}%.3f").mkString(",")}]")
    // the listener bus has been drained by the last sample: the tables
    // below are exactly the last run's jobs and stages
    val jobs = tel.jobs
    println(s"PROFILE $name jobs (last run; gap = driver time before the " +
      "job, overlap = it started while an earlier job ran)")
    var prevEnd = t0Ms
    jobs.foreach { j =>
      val dur = if (j.endMs < 0) -1.0 else (j.endMs - j.startMs) / 1e3
      val gap = j.startMs - prevEnd
      val gapS = if (gap < 0) "overlap  " else f"${gap / 1e3}%7.3f s"
      println(f"  job ${j.id}%4d gap=$gapS " +
        f"wall=$dur%8.3f s stages=${j.stageIds.size}%3d " +
        s"${j.group.fold("")(g => s"[$g] ")}${j.description.take(80)}")
      prevEnd = math.max(prevEnd, if (j.endMs < 0) j.startMs else j.endMs)
    }
    println(f"  tail gap=${(t0Ms + (samples.last.sec * 1e3).toLong - prevEnd) / 1e3}%7.3f s" +
      " (driver time after the last job)")
    println(s"PROFILE $name stages (last run)")
    val stages = tel.stages
    stages.foreach { s =>
      println(f"  stage ${s.id}%4d.${s.attempt} job ${s.job}%4d " +
        f"wall=${s.wallMs / 1e3}%8.3f s tasks=${s.tasks}%5d/${s.partitions}%-5d " +
        f"in=${mb(s.inputBytes)} rd=${mb(s.readBytes)} wr=${mb(s.writeBytes)} " +
        f"spill=${mb(s.spillBytes)} maxRd=${mb(s.maxTaskRead)} " +
        f"skew=${s.skew}%5.2f  ${s.name.take(60)}")
    }
    val t = StageTelemetry.totals(stages)
    println(s"PROFILE $name totals shuffle_write_bytes=${t.writeBytes} " +
      s"shuffle_read_bytes=${t.readBytes} " +
      s"max_task_shuffle_read_bytes=${t.maxTaskRead} " +
      s"read_tasks=${t.readTasks} " +
      f"skew_max_over_mean=${t.skew}%.2f stage_skew=${t.stageSkew}%.2f " +
      s"disk_spill_bytes=${t.spillBytes}")
    println(s"PROFILE $name plan (last run: exchange, join and scan lines)")
    // an adaptive plan prints its final plan before the initial one
    plans.qe.foreach(_.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("== Initial Plan =="))
      .filter(l => l.contains("Exchange") || l.contains("Join") ||
        l.contains("Scan"))
      .foreach(l => println("  " + l.take(160))))
    println(s"PROFILE $name codegen (last run: largest generated method per " +
      s"stage; over $HugeMethodLimit bytes HotSpot does not JIT-compile it)")
    plans.qe.foreach(qe => codegenMethodSizes(qe.executedPlan).foreach { case (id, bytes) =>
      println(f"  stage *($id%d) max_method=$bytes%6d B" +
        (if (bytes > HugeMethodLimit) "  NOT JIT-compiled (interpreted)" else ""))
    })
  }

  private def mb(b: Long): String = f"${b / 1e6}%9.2f MB"
}
