package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.shard.Sharding
import graft.types.ChType

/** Shard policy parity (SURVEY §2.10; reference task/sharding.go). */
class ShardingSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  test("stripe policy (X1): (uint64(v)/stripe) % shards with wrap") {
    val df = Seq(0L, 9L, 10L, 99L, 100L, -1L).toDF("k")
    val got = df.select(
      Sharding.stripe(col("k"), ChType.whichType("Int64"), 10L, 3).as("s"))
      .collect().map(_.getInt(0)).toSeq
    // uint64(-1) = 2^64-1; (2^64-1)/10 = 1844674407370955161; % 3 = 1
    assert(got === Seq(0, 0, 1, 0, 1, 1))
  }

  test("hash policy (X2): xxhash64 % shards, unsigned") {
    val df = Seq("a", "b", "hello").toDF("k")
    val mods = df.select(Sharding.hash(col("k"), 5).as("s"))
      .collect().map(_.getInt(0)).toSeq
    assert(mods.forall(m => m >= 0 && m < 5))
    // xxh64("a") = 0xd24ec4f1a98c6e5b = 15154266338359012955 (unsigned);
    // % 5 = 0
    assert(mods.head === (BigInt("15154266338359012955") % 5).toInt)
  }

  test("offset policy (X3): (offset*(partition+1)) >> log2(bufferSize) % shards") {
    assert(Sharding.log2floor(50000) === 15)
    assert(Sharding.log2floor(262144) === 18)
    val df = Seq((100000L, 0), (100000L, 1), (5L, 0)).toDF("off", "part")
    val got = df.select(
      Sharding.byOffset(col("off"), col("part"), 50000, 4).as("s"))
      .collect().map(_.getInt(0)).toSeq
    def exp(off: Long, part: Int): Int = (((off * (part + 1)) >> 15) % 4).toInt
    assert(got === Seq(exp(100000, 0), exp(100000, 1), exp(5, 0)))
  }

  test("auto sharding key (D4) hashes dot-joined sorting keys") {
    val df = Seq(("x", 1L)).toDF("a", "b")
    val k  = df.select(Sharding.autoShardingKey(Seq(col("a"), col("b"))).as("h"),
      graft.functions.GoHash.goXxHash64(lit("x.1")).as("e")).head()
    assert(k.getLong(0) === k.getLong(1))
  }

  test("partitionByShard co-locates each shard (X4)") {
    val df = (1 to 1000).toDF("v")
    val sharded = Sharding.partitionByShard(df, pmod(col("v"), lit(4)), 4)
    // every shard lands wholly in one Spark partition (the writer handles
    // two shards sharing a partition, but a shard must never split)
    val parts = sharded
      .withColumn("pid", spark_partition_id())
      .groupBy(col("__shard__"))
      .agg(countDistinct(col("pid")).as("n"))
      .collect().map(_.getLong(1))
    assert(parts.length === 4)
    assert(parts.forall(_ === 1L))
  }

  test("salted repartition widens write parallelism beyond numShards (X5)") {
    val df = (1 to 4000).toDF("v").repartition(8)
    val sharded = Sharding.partitionByShard(df, pmod(col("v"), lit(2)), 2,
      writersPerShard = 4)
    // 2 shards x 4 writers -> 8 write tasks; each shard's rows spread
    // over several partitions instead of collapsing to one per shard
    assert(sharded.rdd.getNumPartitions === 8)
    val spread = sharded
      .withColumn("pid", spark_partition_id())
      .groupBy(col("__shard__"))
      .agg(countDistinct(col("pid")).as("n"))
      .collect().map(_.getLong(1))
    assert(spread.forall(_ > 1L),
      s"each shard should write from multiple tasks, got spread ${spread.toSeq}")
    // and no rows lost
    assert(sharded.count() === 4000)
  }
}
