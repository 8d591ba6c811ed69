package sinkbench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement, SQLException}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

import graft.sink.ChWriter

/** Order-independent row digests: a 64-bit FNV-1a style hash over typed
  * values (type tag + value), so a value of the wrong type, a shifted
  * timestamp or a changed string all change the digest.
  */
object Canon {
  private val P = 0x100000001b3L
  private def mixLong(h: Long, x: Long): Long = {
    var k = (h ^ x) * 0x9E3779B97F4A7C15L
    k ^= k >>> 31
    k * P
  }
  private def mixStr(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * P; i += 1 }
    mixLong(h, s.length)
  }
  def mix(h: Long, v: Any): Long = v match {
    case null                  => mixLong(h, 0x6e756c6cL)
    case s: String             => mixStr(h ^ 's', s)
    case l: java.lang.Long     => mixLong(h ^ 'l', l)
    case i: java.lang.Integer  => mixLong(h ^ 'i', i.toLong)
    case f: java.lang.Float    => mixLong(h ^ 'f', java.lang.Float.floatToIntBits(f))
    case d: java.lang.Double   => mixLong(h ^ 'd', java.lang.Double.doubleToLongBits(d))
    case b: java.lang.Boolean  => mixLong(h ^ 'b', if (b) 1L else 0L)
    case t: java.sql.Timestamp => mixLong(h ^ 't', t.getTime / 1000 * 1000000L + t.getNanos / 1000)
    case d: java.math.BigDecimal =>
      mixStr(h ^ 'm', d.stripTrailingZeros.toPlainString)
    case other                 => mixStr(h ^ '?', other.getClass.getName + other.toString)
  }
  def rowHash(values: Iterable[Any]): Long = values.foldLeft(0xcbf29ce484222325L)(mix)

  /** Equality of a delivered value and its expectation (doubles within a
    * relative 1e-12: a decimal literal may round either way).
    */
  def same(got: Any, want: Any): Boolean = (got, want) match {
    case (g: java.lang.Double, w: java.lang.Double) =>
      math.abs(g - w) <= 1e-12 * math.max(1.0, math.abs(w))
    case _ => mix(0L, got) == mix(0L, want)
  }
}

/** What the generator says each message id must become. */
final class Expected(n: Int, val baseCols: Seq[String], val idCol: String, gen: Gen) {
  /** Expected shard, or a drop code. */
  val shard = new Array[Byte](n)
  val hash = new Array[Long](n)
  def size: Int = n
  def extra(id: Int, col: String): Any = gen.extra(id, col)
}

object Expected {
  val Corrupt = -1     // unparseable JSON: dropped by the parser
  val NullDropped = -2 // null in a NotNullable dim: dropped by projection
}

/** The correctness ledger the discard driver checks every INSERTed row
  * against. One per run; rows written through `replay` URLs are counted but
  * not checked (the traced replay and the one-core baseline re-write input).
  */
object Ledger {
  @volatile var exp: Expected = _
  @volatile private var deliveredArr: AtomicIntegerArray = _
  @volatile private var latencyNs: Array[Long] = _
  /** Due time of stamp 0 (System.nanoTime scale). */
  @volatile var openStartNanos: Long = 0L
  val delivered = new AtomicLong
  val wrong = new LongAdder
  val duplicated = new LongAdder
  val perShard = new AtomicLongArray(64)
  val firstErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def reset(e: Expected): Unit = {
    exp = e
    deliveredArr = new AtomicIntegerArray(e.size)
    latencyNs = Array.fill(e.size)(-1L)
    delivered.set(0); wrong.reset(); duplicated.reset()
    (0 until perShard.length).foreach(perShard.set(_, 0L))
    firstErrors.clear()
  }

  private def fail(msg: => String): Unit = {
    wrong.increment()
    if (firstErrors.size < 5) firstErrors.add(msg)
  }

  /** Check one executed batch on `shard`; `cols` are the INSERT's columns. */
  def check(shard: Int, cols: IndexedSeq[String], rows: ArrayBuffer[Array[AnyRef]],
      insertNanos: Long): Unit = {
    val e = exp
    val idIdx = cols.indexOf(e.idCol)
    val stampIdx = cols.indexOf("stamp")
    val baseIdx = e.baseCols.map(cols.indexOf).toArray
    val extraIdx = cols.indices.filterNot(baseIdx.contains)
    if (idIdx < 0 || baseIdx.contains(-1)) {
      fail(s"INSERT columns $cols miss base columns ${e.baseCols}")
      return
    }
    rows.foreach { row =>
      val id = row(idIdx) match {
        case l: java.lang.Long  => l.intValue
        case f: java.lang.Float => f.intValue
        case other              => -1
      }
      if (id < 0 || id >= e.size) fail(s"row with unknown id ${row(idIdx)}")
      else {
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < baseIdx.length) { h = Canon.mix(h, row(baseIdx(i))); i += 1 }
        val want = e.shard(id)
        if (want < 0) fail(s"id $id should have been dropped (code $want)")
        else if (want != shard) fail(s"id $id on shard $shard, expected $want")
        else if (h != e.hash(id)) fail(s"id $id typed row differs: ${row.mkString("|")}")
        else if (!extraIdx.forall(j => Canon.same(row(j), e.extra(id, cols(j)))))
          fail(s"id $id new-key columns differ: ${extraIdx.map(j => cols(j) -> row(j))}")
        else if (deliveredArr.incrementAndGet(id) > 1) duplicated.increment()
        else {
          delivered.incrementAndGet()
          perShard.incrementAndGet(shard)
          val stamp = row(stampIdx).asInstanceOf[java.lang.Long].longValue
          if (stamp >= 0) latencyNs(id) = insertNanos - (openStartNanos + stamp * 1000000L)
        }
      }
    }
  }

  /** Ids whose expected row never arrived. */
  def missing(ids: Range): Int =
    ids.count(id => exp.shard(id) >= 0 && deliveredArr.get(id) == 0)

  def latenciesMs(ids: Range): Array[Double] =
    ids.iterator.map(latencyNs(_)).filter(_ >= 0).map(_ / 1e6).toArray
}

/** An in-process JDBC driver that discards rows after counting and
  * checking them, so the shipped `ChWriter.JdbcRowWriter` runs
  * `setObject`/`addBatch`/`executeBatch` for real. URLs are
  * `jdbc:sinkbench:<main|replay>:<shard>`.
  */
object Discard {
  val Prefix = "jdbc:sinkbench:"
  def url(mode: String, shard: Int): String = s"$Prefix$mode:$shard"

  final class Counters {
    val rows = new LongAdder
    val executeNanos = new LongAdder
  }
  val main = new Counters
  val replay = new Counters

  object Driver extends java.sql.Driver {
    override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
    override def connect(url: String, info: java.util.Properties): Connection = {
      if (!acceptsURL(url)) return null
      val Array(mode, shard) = url.stripPrefix(Prefix).split(':')
      connection(mode == "main", shard.toInt)
    }
    override def getMajorVersion = 1
    override def getMinorVersion = 0
    override def getPropertyInfo(u: String, p: java.util.Properties) = Array.empty
    override def jdbcCompliant() = false
    override def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
  }
  def register(): Unit = java.sql.DriverManager.registerDriver(Driver)

  private val insertCols = """\(([^)]*)\)\s*VALUES""".r

  private def connection(checked: Boolean, shard: Int): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "prepareStatement" =>
              val sql = args(0).asInstanceOf[String]
              val cols = insertCols.findFirstMatchIn(sql)
                .map(_.group(1).split(',').map(_.trim.stripPrefix("`").stripSuffix("`")).toIndexedSeq)
                .getOrElse(throw new SQLException(s"not an INSERT: $sql"))
              statement(checked, shard, cols)
            case "isClosed" => java.lang.Boolean.FALSE
            case _ => defaultValue(m)
          }
      }).asInstanceOf[Connection]

  private def statement(checked: Boolean, shard: Int, cols: IndexedSeq[String]): PreparedStatement = {
    val c = if (checked) main else replay
    var current = new Array[AnyRef](cols.size)
    val batch = new ArrayBuffer[Array[AnyRef]]()
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "setObject" =>
              current(args(0).asInstanceOf[Integer].intValue - 1) = args(1); null
            case "addBatch" =>
              batch += current; current = new Array[AnyRef](cols.size); null
            case "executeBatch" =>
              val t0 = System.nanoTime()
              if (checked) Ledger.check(shard, cols, batch, t0)
              c.rows.add(batch.size)
              val counts = Array.fill(batch.size)(1)
              batch.clear()
              c.executeNanos.add(System.nanoTime() - t0)
              counts
            case "clearBatch" => batch.clear(); null
            case _ => defaultValue(m)
          }
      }).asInstanceOf[PreparedStatement]
  }

  private def defaultValue(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE    => java.lang.Long.valueOf(0L)
    case _                      => null
  }
}

/** Times the calls into a [[ChWriter.RowWriter]] from outside: `writeBatch`
  * busy time, flushes, rows, opens, calls that threw (the writer's retry
  * loop then calls again) and the rows a throw flagged as bad.
  */
final class TimedWriter(inner: ChWriter.RowWriter) extends ChWriter.RowWriter {
  // the writer is serialized into tasks: reach the counters statically
  private def c = TimedWriter.main
  override def open(shard: Int): Unit = { c.opens.increment(); inner.open(shard) }
  override def writeBatch(rows: Seq[Row]): Unit = {
    val t0 = System.nanoTime()
    try inner.writeBatch(rows)
    catch {
      case e: ChWriter.BadRowsException =>
        c.failedCalls.increment(); c.badRows.add(e.badIndexes.size); throw e
      case e: Throwable => c.failedCalls.increment(); throw e
    }
    finally {
      c.busyNanos.add(System.nanoTime() - t0)
      c.flushes.increment(); c.rows.add(rows.size)
    }
  }
  override def close(): Unit = inner.close()
}

object TimedWriter {
  final class Counters {
    val opens = new LongAdder
    val flushes = new LongAdder
    val rows = new LongAdder
    val busyNanos = new LongAdder
    val failedCalls = new LongAdder
    val badRows = new LongAdder
  }
  /** Executors share the driver JVM (local mode): one global instance. */
  val main = new Counters
}
