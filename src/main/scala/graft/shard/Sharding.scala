package graft.shard

import scala.annotation.unused

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GoHash
import graft.types.{ChKind, ChTypeInfo}

/** Shard-routing policies (SURVEY §2.10, reference
  * `/root/reference/task/sharding.go`). Each policy yields a `shard`
  * Column in [0, numShards).
  *
  * Scale note: the ingest path has no exchange. The reference routes rows
  * into per-shard buffers inside the consumer, with no network hop
  * (task/sharding.go:120-195); here each Spark write task routes its own
  * rows ([[graft.sink.ChWriter.write]]), so parse, projection, shard
  * column and write run as ONE stage per batch, written by
  * min(source partitions, cores) tasks.
  */
object Sharding {

  /** X1 — stripe policy for numeric-ish keys:
    * `shard = (uint64(val) / stripe) % numShards`, with Go uint64 wrap
    * semantics for negative values (sharding.go:26-103).
    */
  def stripe(key: Column, keyType: ChTypeInfo, stripeSize: Long, numShards: Int): Column = {
    val asLong: Column = keyType.kind match {
      case ChKind.DateTime => unix_timestamp(key)
      case ChKind.Float32 | ChKind.Float64 | ChKind.Decimal => key.cast(LongType)
      case _ => key.cast(LongType)
    }
    // pure long arithmetic (divideUnsigned/remainderUnsigned) — no Decimal
    // on the shuffle-key hot path
    GoHash.unsignedStripeMod(asLong, stripeSize, numShards)
  }

  /** X2 — hash policy for string keys: `xxhash64(val) % numShards` with
    * Go-parity XXH64 seed 0 (sharding.go:104-116).
    */
  def hash(key: Column, numShards: Int): Column =
    GoHash.unsignedMod(GoHash.goXxHash64(key), numShards)

  /** X3 — default policy from Kafka coordinates:
    * `shard = ((offset * (partition+1)) >> log2(bufferSize)) % numShards`
    * (task/task.go:227-229; offShift task.go:126-127).
    */
  def byOffset(offset: Column, partition: Column, bufferSize: Int, numShards: Int): Column = {
    val shift = log2floor(bufferSize)
    GoHash.unsignedMod(
      shiftright(offset * (partition + lit(1)), shift), numShards)
  }

  /** GetShift parity (util/common.go:99-104): floor(log2(n)). */
  def log2floor(n: Int): Int = 63 - java.lang.Long.numberOfLeadingZeros(n.toLong)

  /** D4 — auto sharding key for Replacing engines without a configured
    * key: xxhash64 over the "."-joined sorting-key columns
    * (output/clickhouse.go:724-799; task/task.go:274-281).
    */
  def autoShardingKey(sortingKeys: Seq[Column]): Column =
    GoHash.goXxHash64(concat_ws(".", sortingKeys: _*))

  /** X4 — tag a batch with its `__shard__` column. No exchange: each
    * write task routes its own rows to their shard's writer. `numShards`
    * and `writersPerShard` are ignored; they stay only for callers that
    * pass them positionally (the sinkbench harness).
    */
  def partitionByShard(df: DataFrame, shard: Column, @unused numShards: Int,
      @unused writersPerShard: Int = 1): DataFrame =
    df.withColumn("__shard__", shard)
}
