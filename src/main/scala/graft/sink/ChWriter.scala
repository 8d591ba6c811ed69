package graft.sink

import org.apache.spark.sql.{DataFrame, Row}

/** Per-shard batch writing with the reference's delivery semantics
  * (SURVEY S4-S7, X4-X5):
  *
  *   - one buffered batch per shard: each write task routes its rows
  *     into a bounded buffer per shard value, as the reference's consumer
  *     does (task/sharding.go:120-195) — no exchange before the write
  *   - tolerant writes: a failing batch is retried with the bad rows
  *     skipped and counted (pool/ck_cli.go:197-229)
  *   - a bounded retry loop around each batch (output/clickhouse.go:263-295)
  *   - offsets commit only after the whole micro-batch is written — in
  *     Spark that is exactly foreachBatch completing before the streaming
  *     checkpoint advances (task/sinker.go:521-559 -> checkpoint commit log)
  *
  * The wire backend is pluggable: [[JdbcRowWriter]] drives a real
  * ClickHouse JDBC endpoint per shard; [[JsonLinesWriter]] is the local
  * test stand-in. Executors write their partitions in parallel — the
  * reference's per-shard worker pool (X5) maps onto task parallelism, so
  * a batch makes one INSERT per shard per write task (per `batchSize`
  * rows), and [[graft.streaming.Pipeline.start]] writes a batch with
  * min(source partitions, cores) tasks.
  */
object ChWriter {

  /** One shard-batch writer on an executor. Implementations raise
    * [[BadRowsException]] to trigger the tolerant-skip path.
    */
  trait RowWriter extends Serializable {
    def open(shard: Int): Unit
    def writeBatch(rows: Seq[Row]): Unit
    def close(): Unit
  }

  /** Raised by a [[RowWriter]] to trigger the tolerant-skip path.
    * `badIndexes`: rows to drop and count. `writtenIndexes`: rows the
    * backend ALREADY persisted before surfacing the error (JDBC batch
    * semantics: a continued-execution driver inserts every non-failed
    * row) — these must not be resubmitted or the sink sees duplicates.
    * Atomic backends (the native protocol, the JSON-lines stand-in)
    * leave it empty and the whole remainder is retried.
    */
  final class BadRowsException(val badIndexes: Seq[Int], msg: String,
      val writtenIndexes: Seq[Int] = Nil)
      extends RuntimeException(msg)

  final case class WriteConfig(
      numShards: Int,               // unused; kept for the sinkbench harness
      retryTimes: Int = 3,          // <=0 => infinite (reference default)
      retryDelayMs: Long = 10000L,  // 10 s like retry.Do in loopWrite
      batchSize: Int = 16384)

  final case class WriteStats(written: Long, numBad: Long, retries: Long)

  /** Write a DataFrame tagged with its `__shard__` column (see
    * [[Sharding.partitionByShard]]); returns global stats via accumulators.
    */
  def write(sharded: DataFrame, cfg: WriteConfig, mkWriter: () => RowWriter): WriteStats = {
    val spark   = sharded.sparkSession
    val written = spark.sparkContext.longAccumulator("graft.written")
    val numBad  = spark.sparkContext.longAccumulator("graft.numBad")
    val retries = spark.sparkContext.longAccumulator("graft.retries")
    val shardIdx = sharded.schema.fieldIndex("__shard__")

    sharded.foreachPartition { (it: Iterator[Row]) =>
      // a task's rows may span every shard; each shard gets its own
      // writer and a BOUNDED buffer (<= batchSize rows) flushed as the
      // iterator streams — the partition is never materialized
      val writers = scala.collection.mutable.Map.empty[Int, RowWriter]
      val buffers = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Row]]
      def flush(shard: Int): Unit = {
        val buf = buffers(shard)
        if (buf.nonEmpty) {
          val w = writers.getOrElse(shard, {
            // registered before open(), so a half-opened writer is closed too
            val nw = mkWriter(); writers(shard) = nw; nw.open(shard); nw
          })
          val (ok, bad, r) = writeWithRetry(w, buf.toSeq, cfg)
          written.add(ok); numBad.add(bad); retries.add(r)
          buf.clear()
        }
      }
      var failure: Throwable = null
      try {
        it.foreach { row =>
          val shard = row.getInt(shardIdx)
          val buf = buffers.getOrElseUpdate(shard,
            new scala.collection.mutable.ArrayBuffer[Row](
              math.min(cfg.batchSize, 1 << 10)))
          buf += row
          if (buf.length >= cfg.batchSize) flush(shard)
        }
        buffers.keys.foreach(flush)
      } catch { case e: Throwable => failure = e }
      // close each writer independently — one throwing close() must not
      // leak the remaining writers' connections/file handles, nor replace
      // the write failure already in flight (it rides along as suppressed)
      writers.values.foreach { w =>
        try w.close()
        catch { case e: Throwable =>
          if (failure == null) failure = e else failure.addSuppressed(e) }
      }
      if (failure != null) throw failure
    }
    WriteStats(written.value, numBad.value, retries.value)
  }

  /** S6+S7: retry loop with bad-row skipping. */
  def writeWithRetry(w: RowWriter, batch: Seq[Row],
      cfg: WriteConfig): (Long, Long, Long) = {
    var remaining = batch
    var written   = 0L
    var bad       = 0L
    var attempts  = 0L
    var done      = remaining.isEmpty
    while (!done) {
      try {
        w.writeBatch(remaining)
        written += remaining.size
        done = true
      } catch {
        case e: BadRowsException =>
          // drop flagged rows (counted), credit already-persisted rows
          // (never resubmitted), retry only the rest
          val badSet = e.badIndexes.toSet
          val wrSet  = e.writtenIndexes.toSet
          bad += badSet.size
          written += wrSet.size
          remaining = remaining.zipWithIndex.collect {
            case (r, i) if !badSet.contains(i) && !wrSet.contains(i) => r
          }
          done = remaining.isEmpty
        case e: Exception =>
          attempts += 1
          if (cfg.retryTimes > 0 && attempts >= cfg.retryTimes)
            throw new RuntimeException(
              s"write failed after $attempts retries: ${e.getMessage}", e)
          Thread.sleep(cfg.retryDelayMs)
      }
    }
    (written, bad, attempts)
  }

  /** Local stand-in backend: one JSON-lines file per shard per partition
    * attempt. Used by tests and the file-based E2E; replaced by
    * [[JdbcRowWriter]] against a real cluster.
    */
  final class JsonLinesWriter(dir: String, colNames: Seq[String]) extends RowWriter {
    @transient private var out: java.io.PrintWriter = _
    override def open(shard: Int): Unit = {
      val d = new java.io.File(s"$dir/shard=$shard")
      d.mkdirs()
      out = new java.io.PrintWriter(
        new java.io.File(d, s"part-${java.util.UUID.randomUUID()}.jsonl"))
    }
    override def writeBatch(rows: Seq[Row]): Unit =
      rows.foreach { r =>
        out.println(colNames.indices.map { i =>
          "\"" + colNames(i) + "\":" + {
            val v = r.get(i)
            if (v == null) "null"
            else v match {
              case _: java.lang.Number | _: java.lang.Boolean => v.toString
              case other => // strings, timestamps, etc. -> JSON string
                "\"" + other.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
            }
          }
        }.mkString("{", ",", "}"))
      }
    override def close(): Unit = if (out != null) { out.flush(); out.close() }
  }

  /** Real backend: column-explicit batched INSERT over JDBC, one
    * connection per shard endpoint (S4/S5). The shard -> URL map comes
    * from cluster discovery (S13); replica failover is delegated to the
    * driver's multi-host URL support (SURVEY S10 non-goal).
    */
  final class JdbcRowWriter(shardUrls: Map[Int, String], db: String, table: String,
      cols: Seq[String], props: Map[String, String]) extends RowWriter {
    @transient private var conn: java.sql.Connection = _
    @transient private var stmt: java.sql.PreparedStatement = _
    override def open(shard: Int): Unit = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      conn = java.sql.DriverManager.getConnection(shardUrls(shard), p)
      stmt = conn.prepareStatement(
        ChSql.insertStatement(db, table, cols, withValues = true))
    }
    override def writeBatch(rows: Seq[Row]): Unit = {
      rows.foreach { r =>
        cols.indices.foreach(i => stmt.setObject(i + 1, r.get(i)))
        stmt.addBatch()
      }
      try {
        stmt.executeBatch()
      } catch {
        // per-row failures -> tolerant skip path (S6): the reference
        // inspects row errors and retries without them
        // (pool/ck_cli.go:197-229); JDBC surfaces them as EXECUTE_FAILED
        // slots in a BatchUpdateException. A continued-execution driver
        // has ALREADY inserted the non-failed slots — report them as
        // written so the retry loop never duplicates them; a driver that
        // stopped early returns a short counts array and the unexecuted
        // tail is retried.
        case e: java.sql.BatchUpdateException =>
          stmt.clearBatch()
          val counts = e.getUpdateCounts
          val bad = counts.zipWithIndex.collect {
            case (c, i) if c == java.sql.Statement.EXECUTE_FAILED => i
          }
          val written = counts.zipWithIndex.collect {
            case (c, i) if c != java.sql.Statement.EXECUTE_FAILED => i
          }
          if (bad.nonEmpty || written.nonEmpty)
            throw new BadRowsException(bad.toIndexedSeq,
              s"bad rows: ${e.getMessage}", written.toIndexedSeq)
          else throw e
      }
      stmt.clearBatch()
    }
    override def close(): Unit =
      try if (stmt != null) stmt.close()
      finally if (conn != null) conn.close()
  }
}
