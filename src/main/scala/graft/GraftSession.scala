package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by Verify/Bench/tests.
  *
  * Scale notes: shuffle partitions default to the local core count here;
  * on a real cluster this is expected to be overridden (or left to AQE
  * coalescing, which is enabled). All queries below read the driver's
  * parquet tables; filters/projections are left declarative so Catalyst
  * pushes them into the scan.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // SQL-callable operator surface (see GraftExtensions)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // The engine's cast semantics are tolerant/saturating (ClickHouse
      // sinker-style), never throwing: keep legacy cast behavior.
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS); Spark reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle/spill/broadcast IO codec, env-parameterised so the
      // lz4-vs-zstd choice stays a measured decision (guide §2.3/§6).
      // Default zstd per the r20 controlled A/B on the two biggest
      // exchanges (fresh JVM, min-of-2, cache-cleared runs, 5M docs):
      // minhash band exchange 4.62 -> 3.84 GB written (-17%), winnow
      // 17.7 -> 13.6 GB (-23%), warm wall never worse in any stage —
      // these exchanges are fetch/IO-bound locally, so the byte savings
      // beat zstd's extra CPU; a cluster deployment re-measures per its
      // NIC/CPU balance via SPARK_GRAFT_IO_CODEC
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "zstd"))
      // local test tables are single small parquet files; split scans so
      // all cores participate (a real deployment reads many large files)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Lazy accessors for the driver-provided TPC-H-ish tables (TESTDATA.md). */
final case class Tables(spark: SparkSession, sfDir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `ts` arrives as nanos-as-long (see session config); surface it as a
    * proper timestamp column.
    */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}
