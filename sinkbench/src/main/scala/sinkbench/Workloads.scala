package sinkbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.config.TaskConfig
import graft.parse.Projector.Dim
import graft.types.ChType

/** One benchmark workload: the message shape, the task the sinker runs
  * with, and how much input a run offers.
  *
  * Every message carries a unique sequence number in `idCol` and an Int64
  * creation stamp in `stamp` (ms after the open-loop phase start at which
  * the generator was due to publish it; -1 for pre-filled backlog).
  */
final case class Workload(
    name: String,
    dims: Seq[Dim],
    idCol: String,
    task: TaskConfig,
    numShards: Int,
    writersPerShard: Int,
    rowsPerFile: Int,
    /** Files per micro-batch; sized so a catch-up batch takes well over the
      * 1 s trigger interval, so catch-up measures the program, not the clock.
      */
    filesPerTrigger: Int,
    /** Backlog rows offered per measured second (sizes the catch-up phase). */
    catchupRowsPerSecond: Int,
    /** Fixed open-loop rate, below catch-up capacity. */
    offeredRowsPerSecond: Int,
    newGen: (Long, Phase) => Gen) {
  def baseCols: Seq[String] = dims.map(_.name)
}

/** Renders messages and, independently of the program, the typed row each
  * should become: the expected shard and the row digest [[Canon.rowHash]]
  * over `baseCols`.
  */
trait Gen {
  /** (JSON line, expected shard or a [[Expected]] drop code, row digest). */
  def message(id: Int, stampMs: Long): (String, Int, Long)
  /** Expected value of a column outside the base schema (schema drift). */
  def extra(id: Int, col: String): Any = null
}

/** The id range of the catch-up backlog and its batch size; schema drift
  * places its key cohorts on whole catch-up batches.
  */
final case class Phase(backlogStart: Int, backlogRows: Int, rowsPerBatch: Int)

object Workloads {
  private def dt(n: String) = Dim(n, ChType.whichType("DateTime"))
  private def i64(n: String) = Dim(n, ChType.whichType("Int64"))
  private def str(n: String) = Dim(n, ChType.whichType("String"))

  /** Fixed epoch for all generated times (whole seconds, UTC). */
  val Epoch: Long = 1709287200L // 2024-03-01T10:00:00Z

  def rfc3339(sec: Long): String =
    java.time.Instant.ofEpochSecond(sec).toString // yyyy-MM-ddTHH:mm:ssZ

  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  val accessLogStrings: Seq[String] = Seq("@hostname", "@ip", "@path", "@message",
    "agent", "auth", "clientIp", "device_family", "httpversion", "ident",
    "os_family", "os_major", "os_minor", "referrer", "request", "response",
    "userAgent_family", "userAgent_major", "userAgent_minor", "verb", "xforwardfor")

  val accessLog: Workload = Workload(
    name = "access_log",
    dims = Seq(dt("@collectiontime"), dt("timestamp"), i64("@lineno"), i64("bytes"),
      i64("requesttime")) ++ accessLogStrings.map(str) :+ i64("stamp"),
    idCol = "@lineno",
    task = TaskConfig(name = "access_log", topic = "access_log", consumerGroup = "bench",
      tableName = "default.access_log", flushInterval = 1),
    numShards = 3, writersPerShard = 1,
    rowsPerFile = 2000, filesPerTrigger = 16,
    catchupRowsPerSecond = 19000, offeredRowsPerSecond = 2000,
    newGen = (seed, _) => new AccessLogGen(seed))

  private val narrowDims = Seq(
    dt("time"),
    Dim("name", ChType.whichType("Nullable(String)"), notNullable = true),
    Dim("value", ChType.whichType("Float32")),
    Dim("price", ChType.whichType("Decimal32(3)")),
    i64("stamp"))

  val keyedNarrow: Workload = Workload(
    name = "keyed_narrow", dims = narrowDims, idCol = "value",
    task = TaskConfig(name = "keyed_narrow", topic = "keyed_narrow", consumerGroup = "bench",
      tableName = "default.keyed_narrow", shardingKey = "name", flushInterval = 1),
    numShards = 8, writersPerShard = 2,
    rowsPerFile = 10000, filesPerTrigger = 16,
    catchupRowsPerSecond = 100000, offeredRowsPerSecond = 10000,
    newGen = (seed, _) => new NarrowGen(seed, None))

  val schemaDrift: Workload = keyedNarrow.copy(
    name = "schema_drift",
    task = keyedNarrow.task.copy(name = "schema_drift", topic = "schema_drift",
      tableName = "default.schema_drift", dynamicSchema = true),
    // half-size batches: the restart pause already takes a large share of
    // the catch-up phase
    filesPerTrigger = 8,
    catchupRowsPerSecond = 50000, offeredRowsPerSecond = 5000,
    newGen = (seed, phase) => new NarrowGen(seed, Some(phase)))

  val all: Seq[Workload] = Seq(accessLog, keyedNarrow, schemaDrift)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  /** Expected shard of the default policy over the file source's synthetic
    * coordinates: offset = CRC32 of the line, partition 0,
    * `((offset * (partition + 1)) >> log2(bufferSize)) % numShards`.
    */
  def offsetShard(line: String, bufferSize: Int, numShards: Int): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(line.getBytes(UTF_8))
    val shift = 63 - java.lang.Long.numberOfLeadingZeros(bufferSize.toLong)
    java.lang.Long.remainderUnsigned(crc.getValue >> shift, numShards).toInt
  }

  private val xxh64 = net.jpountz.xxhash.XXHashFactory.safeInstance().hash64()

  /** Expected shard of the string-key policy: XXH64 (seed 0) of the UTF-8
    * key, unsigned mod numShards.
    */
  def hashShard(key: String, numShards: Int): Int = {
    val b = key.getBytes(UTF_8)
    java.lang.Long.remainderUnsigned(xxh64.hash(b, 0, b.length, 0L), numShards).toInt
  }
}

/** The reference's `kafka_gen_log` shape: 26 access-log fields (two times,
  * three integers, 21 strings), ~750 bytes per message, plus the stamp.
  * No corrupt or null messages.
  */
final class AccessLogGen(seed: Long) extends Gen {
  import Workloads._
  private val w = Workloads.accessLog
  private val verbs = Array("GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD")
  private val paths = Array("/index.html", "/api/v1/orders", "/static/app.js",
    "/static/style.css", "/img/logo.png", "/api/v1/users/profile", "/search",
    "/checkout/cart", "/blog/2024/03/spark-streaming", "/favicon.ico")
  private val agents = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_3) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.3 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:123.0) Gecko/20100101 Firefox/123.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_3 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148")
  private val families = Array(("Chrome", "122", "0"), ("Safari", "17", "3"),
    ("Firefox", "123", "0"), ("Mobile Safari", "17", "3"))
  private val oses = Array(("Windows", "10", "0"), ("Mac OS X", "14", "3"),
    ("Linux", "6", "5"), ("iOS", "17", "3"))
  private val devices = Array("Other", "Other", "Other", "iPhone")
  private val codes = Array("200", "200", "200", "200", "304", "404", "500", "301")

  private def ip(r: SplittableRandom) =
    s"${10 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"

  def message(id: Int, stampMs: Long): (String, Int, Long) = {
    val r = new SplittableRandom(seed * 1000003L + id)
    val sec = Epoch + id / 50
    val verb = verbs(r.nextInt(verbs.length))
    val path = paths(r.nextInt(paths.length)) + "?id=" + r.nextInt(1000000)
    val ua = r.nextInt(agents.length)
    val (fam, fmaj, fmin) = families(ua)
    val (os, omaj, omin) = oses(ua)
    val client = ip(r)
    val code = codes(r.nextInt(codes.length))
    val bytes = 200L + r.nextInt(50000)
    val reqTime = r.nextInt(5000).toLong
    val referrer = "https://www.example" + r.nextInt(100) + ".com" + paths(r.nextInt(paths.length))
    val request = s"$verb $path HTTP/1.1"
    val stamp = rfc3339(sec)
    val message = s"""$client - - [$stamp] \\"$request\\" $code $bytes \\"$referrer\\" \\"${agents(ua)}\\""""
    val strings: Seq[String] = Seq(
      s"web-${r.nextInt(32)}.example.internal", ip(r), s"/var/log/nginx/access-${r.nextInt(8)}.log",
      message, agents(ua), "-", client, devices(ua), "1.1", "-", os, omaj, omin,
      referrer, request, code, fam, fmaj, fmin, verb, ip(r))
    val sb = new java.lang.StringBuilder(800)
    sb.append("{\"@collectiontime\":\"").append(rfc3339(sec + 1))
      .append("\",\"timestamp\":\"").append(stamp)
      .append("\",\"@lineno\":").append(id)
      .append(",\"bytes\":").append(bytes)
      .append(",\"requesttime\":").append(reqTime)
    accessLogStrings.zip(strings).foreach { case (k, v) =>
      sb.append(",\"").append(k).append("\":\"").append(v).append('"')
    }
    sb.append(",\"stamp\":").append(stampMs).append('}')
    val line = sb.toString
    // the JSON string value of @message is the unescaped text
    val typed: Seq[Any] = Seq(ts(sec + 1), ts(sec), Long.box(id.toLong), Long.box(bytes),
      Long.box(reqTime)) ++ strings.updated(3, message.replace("\\\"", "\"")) :+
      Long.box(stampMs)
    (line, offsetShard(line, w.task.bufferSize, w.numShards), Canon.rowHash(typed))
  }
}

/** The `go.test.sh` shape (time, name, value, price) plus the stamp, with
  * Zipf-distributed names sharded by XXH64, a fixed share of corrupt JSON
  * and of null names (dropped: `name` is NotNullable). With a `drift` phase,
  * the three `go.test.sh` new-key cohorts fill thirds of catch-up batch 1:
  * the scalars newkey00-04 are added by schema evolution in one ALTER +
  * restart cycle; the object/array keys newkey05-10 are skipped.
  */
final class NarrowGen(seed: Long, drift: Option[Phase]) extends Gen {
  import Workloads._
  private val numShards = Workloads.keyedNarrow.numShards
  private val names = 10000
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(names)(k => 1.0 / math.pow(k + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def zipf(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(names - 1, if (i >= 0) i else -i - 1)
  }

  /** Cohort of a message: 0 base, 1 +newkey00-01, 2 +newkey02-05, 3 +newkey06-10. */
  private def cohort(id: Int): Int = drift match {
    case Some(p) if id >= p.backlogStart && id < p.backlogStart + p.backlogRows =>
      val batch = (id - p.backlogStart) / p.rowsPerBatch
      if (batch == 1) 1 + (id - p.backlogStart) % p.rowsPerBatch * 3 / p.rowsPerBatch else 0
    case _ => 0
  }

  def message(id: Int, stampMs: Long): (String, Int, Long) = {
    val r = new SplittableRandom(seed * 1000003L + id)
    val sec = Epoch + id / 1000
    val name = "name" + zipf(r.nextDouble())
    val kind = r.nextInt(1000) // 0-4 corrupt, 5-9 null name
    val c = cohort(id)
    val price = java.math.BigDecimal.valueOf(id.toLong, 3)
    val sb = new java.lang.StringBuilder(200)
    sb.append("{\"time\":\"").append(rfc3339(sec)).append("\",\"name\":")
    if (kind >= 5 && kind < 10) sb.append("null") else sb.append('"').append(name).append('"')
    sb.append(",\"value\":").append(id).append(",\"price\":").append(price.toPlainString)
      .append(",\"stamp\":").append(stampMs)
    if (c == 1) sb.append(",\"newkey00\":false,\"newkey01\":").append(id)
    if (c == 2) sb.append(",\"newkey02\":").append(id).append(".123,\"newkey03\":\"name")
      .append(id).append("\",\"newkey04\":\"").append(rfc3339(sec))
      .append("\",\"newkey05\":{\"k1\":1,\"k2\":2}")
    if (c == 3) sb.append(",\"newkey06\":[").append(id).append("],\"newkey07\":[")
      .append(id).append(".123],\"newkey08\":[\"name").append(id)
      .append("\"],\"newkey09\":[\"").append(rfc3339(sec))
      .append("\"],\"newkey10\":[{\"k1\":1},{\"k2\":2}]")
    sb.append('}')
    val full = sb.toString
    if (kind < 5) (full.substring(0, full.length / 2), Expected.Corrupt, 0L)
    else if (kind < 10) (full, Expected.NullDropped, 0L)
    else {
      val typed = Seq(ts(sec), name, Float.box(id.toFloat), price, Long.box(stampMs))
      (full, hashShard(name, numShards), Canon.rowHash(typed))
    }
  }

  override def extra(id: Int, col: String): Any = {
    val c = cohort(id)
    val sec = Epoch + id / 1000
    (c, col) match {
      case (1, "newkey00") => java.lang.Boolean.FALSE
      case (1, "newkey01") => Long.box(id.toLong)
      case (2, "newkey02") => Double.box(s"$id.123".toDouble)
      case (2, "newkey03") => "name" + id
      case (2, "newkey04") => ts(sec)
      case _ => null
    }
  }
}
