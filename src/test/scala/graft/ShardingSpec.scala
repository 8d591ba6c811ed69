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
}
