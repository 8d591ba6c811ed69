package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{BatchUpdateException, Connection, PreparedStatement, SQLException, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.shard.Sharding
import graft.sink.{ChSql, ChWriter}

/** Drives the REAL ClickHouse JDBC write path (`ChWriter.JdbcRowWriter`,
  * mirroring pool/ck_cli.go:190-236) against an in-process fake
  * `java.sql.Driver`: records connections/SQL/batches, injects transient
  * failures and per-row BatchUpdateExceptions. Covers
  * open / batched INSERT / bad-row-skip / retry / close without a server.
  */
object FakeJdbc {
  final case class Batch(url: String, rows: Seq[Seq[Any]])
  val batches = new ConcurrentLinkedQueue[Batch]()
  val preparedSql = new ConcurrentLinkedQueue[String]()
  val connProps = new ConcurrentLinkedQueue[java.util.Properties]()
  val opened = new AtomicInteger(0)
  val closed = new AtomicInteger(0)
  val failuresRemaining = new AtomicInteger(0)
  val badRowsOnce = new java.util.concurrent.atomic.AtomicReference[Seq[Int]](Nil)

  def reset(): Unit = {
    batches.clear(); preparedSql.clear(); connProps.clear()
    opened.set(0); closed.set(0); failuresRemaining.set(0); badRowsOnce.set(Nil)
  }

  object Driver extends java.sql.Driver {
    java.sql.DriverManager.registerDriver(this)
    override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:graftfake:")
    override def connect(url: String, info: java.util.Properties): Connection = {
      if (!acceptsURL(url)) return null
      opened.incrementAndGet()
      connProps.add(info)
      newConnection(url)
    }
    override def getMajorVersion = 1
    override def getMinorVersion = 0
    override def getPropertyInfo(u: String, p: java.util.Properties) = Array.empty
    override def jdbcCompliant() = false
    override def getParentLogger = throw new SQLException("no logger")
  }

  private def newConnection(url: String): Connection = {
    val handler = new InvocationHandler {
      override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "prepareStatement" =>
            preparedSql.add(args(0).asInstanceOf[String])
            newStatement(url)
          case "close" => closed.incrementAndGet(); null
          case "isClosed" => java.lang.Boolean.FALSE
          case _ => defaultValue(m)
        }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), handler).asInstanceOf[Connection]
  }

  private def newStatement(url: String): PreparedStatement = {
    val current = new java.util.TreeMap[Int, Any]()
    val batch = new java.util.ArrayList[Seq[Any]]()
    val handler = new InvocationHandler {
      override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "setObject" =>
            current.put(args(0).asInstanceOf[Integer].intValue(), args(1)); null
          case "addBatch" =>
            batch.add(current.values().asScala.toSeq); current.clear(); null
          case "executeBatch" =>
            if (failuresRemaining.getAndUpdate(n => math.max(0, n - 1)) > 0)
              throw new SQLException("injected transient failure")
            val bad = badRowsOnce.getAndSet(Nil)
            if (bad.nonEmpty) {
              // JDBC continued-execution semantics: non-failed rows ARE
              // inserted before the exception surfaces
              val rows = batch.asScala.toVector
              val counts = rows.indices
                .map(i => if (bad.contains(i)) Statement.EXECUTE_FAILED else 1)
              batches.add(Batch(url,
                rows.indices.filterNot(bad.contains).map(rows).toVector))
              batch.clear()
              throw new BatchUpdateException("injected bad rows", "", 0,
                counts.toArray, null)
            }
            val counts = Array.fill(batch.size)(1)
            batches.add(Batch(url, batch.asScala.toVector))
            batch.clear()
            counts
          case "clearBatch" => batch.clear(); null
          case "close" => null
          case _ => defaultValue(m)
        }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]), handler).asInstanceOf[PreparedStatement]
  }

  private def defaultValue(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case _ => null
  }
}

object FakeJdbcSpec {
  // a top-level factory so the foreachPartition closure never captures
  // the (non-serializable) suite instance
  val mkWriter: () => ChWriter.RowWriter = () => new ChWriter.JdbcRowWriter(
    shardUrls = Map(0 -> "jdbc:graftfake:shard0", 1 -> "jdbc:graftfake:shard1"),
    db = "db", table = "t", cols = Seq("id", "name"),
    props = Map("async_insert" -> "1", "wait_for_async_insert" -> "0"))
}

class FakeJdbcSpec extends AnyFunSuite with LocalSpark {
  FakeJdbc.Driver // force registration
  private def mkWriter = FakeJdbcSpec.mkWriter

  private def sharded(n: Int) = {
    import spark.implicits._
    val df = (0 until n).map(i => (i.toLong, s"name$i")).toDF("id", "name")
    Sharding.partitionByShard(df, pmod(col("id"), lit(2)).cast("int"), 2)
  }

  test("open/batch/close: rows land on their shard's endpoint, batched") {
    FakeJdbc.reset()
    val stats = ChWriter.write(sharded(40),
      ChWriter.WriteConfig(numShards = 2, batchSize = 8, retryDelayMs = 1L), mkWriter)
    assert(stats.written === 40 && stats.numBad === 0)
    val bs = FakeJdbc.batches.asScala.toSeq
    assert(bs.map(_.rows.size).sum === 40)
    assert(bs.forall(_.rows.size <= 8), "batches must respect batchSize")
    // shard routing: even ids -> shard0 url, odd -> shard1
    bs.foreach { b =>
      val even = b.url.endsWith("shard0")
      assert(b.rows.forall(r => (r.head.asInstanceOf[Long] % 2 == 0) == even))
    }
    // S8: column-explicit INSERT with placeholders
    assert(FakeJdbc.preparedSql.asScala.forall(
      _ === ChSql.insertStatement("db", "t", Seq("id", "name"), withValues = true)))
    // S9: async-insert props reach the connection
    assert(FakeJdbc.connProps.asScala.forall(p =>
      p.getProperty("async_insert") == "1" && p.getProperty("wait_for_async_insert") == "0"))
    assert(FakeJdbc.opened.get() === FakeJdbc.closed.get())
    assert(FakeJdbc.opened.get() > 0)
  }

  test("bad rows are skipped and counted, good rows retried without them (S6)") {
    FakeJdbc.reset()
    FakeJdbc.badRowsOnce.set(Seq(1, 3))
    val stats = ChWriter.write(sharded(8),
      ChWriter.WriteConfig(numShards = 2, batchSize = 100, retryDelayMs = 1L), mkWriter)
    assert(stats.numBad === 2)
    assert(stats.written === 6)
    val landed = FakeJdbc.batches.asScala.flatMap(_.rows.map(_.head)).toSeq
    assert(landed.size === 6)
    // exactly-once: rows the driver already inserted before the
    // BatchUpdateException must NOT be resubmitted by the retry loop
    assert(landed.distinct.size === landed.size,
      s"duplicated rows in sink: $landed")
  }

  test("transient failures retry then succeed; exhausting retries throws (S7)") {
    FakeJdbc.reset()
    FakeJdbc.failuresRemaining.set(2)
    val stats = ChWriter.write(sharded(4),
      ChWriter.WriteConfig(numShards = 2, retryTimes = 5, retryDelayMs = 1L,
        batchSize = 100), mkWriter)
    assert(stats.written === 4)
    assert(stats.retries === 2)

    FakeJdbc.reset()
    FakeJdbc.failuresRemaining.set(100)
    val ex = intercept[Exception] {
      ChWriter.write(sharded(4),
        ChWriter.WriteConfig(numShards = 2, retryTimes = 2, retryDelayMs = 1L,
          batchSize = 100), mkWriter)
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(ex).contains("write failed"))
  }
}
