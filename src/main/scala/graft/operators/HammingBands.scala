package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Hamming banding shared by every 64-bit-fingerprint near-dup join
  * ([[Dedup.nearDupPairsSimhash]], [[Multimodal.bandedHammingPairs]],
  * [[Multimodal.videoNearDups]], [[graft.streaming.StreamingPhashDedup]]):
  * 4×16-bit bands, 65,536 keys per band — EXACT recall for
  * maxHamming <= 3 by pigeonhole, and the 100-TB-safe shape because a
  * band key space this wide keeps candidate pairs proportional to true
  * collisions. `wideRecall = true` keeps the SAME 16-bit bands but
  * probes each band within a 1-bit ball on one join side: 7 differing
  * bits across 4 bands leave some band with <= 1 differing bit, so
  * recall is exact up to maxHamming <= 7 at ~(1+16)×4 keys per item —
  * candidate growth ~n²·68/65536 ≈ n²/964 on adversarial corpora, 15×
  * tighter than single-byte banding (the naive way to reach 7-bit
  * recall, which collapses to 256 keys per band and ~n²/64).
  */
private[graft] object HammingBands {
  /** Refuse a `maxHamming` the bands cannot recall exactly. */
  def requireRecall(maxHamming: Int, wideRecall: Boolean): Unit =
    if (wideRecall) require(maxHamming >= 0 && maxHamming < 8,
      "1-bit-probed 16-bit bands guarantee recall only for maxHamming <= 7")
    else require(maxHamming >= 0 && maxHamming < 4,
      "4 16-bit bands guarantee recall only for maxHamming <= 3; " +
        "pass wideRecall=true (1-bit band probing) for 4..7")

  /** The 4 band keys of `hash`. */
  private def keys(hash: Column): Seq[Column] =
    (0 until 4).map(b => shiftright(hash, b * 16).bitwiseAND(0xFFFFL))

  /** The member side and the probe side of a banded join over `df`,
    * whose columns ride along with (band, key): the member side holds
    * each row's exact band keys; the probe side is the same rows, or,
    * when `wideRecall`, each exact key plus its 16 single-bit flips — a
    * pair whose band keys differ in <= 1 bit collides between one side's
    * exact key and the other side's ball, so only ONE side expands 17×.
    */
  def sides(df: DataFrame, hash: String,
      wideRecall: Boolean): (DataFrame, DataFrame) = {
    val banded = df.select(col("*"),
      posexplode(array(keys(col(hash)): _*)).as(Seq("band", "key")))
    if (!wideRecall) (banded, banded)
    else {
      val balls = keys(col(hash)).map(key =>
        array(key +: (0 until 16).map(i => key.bitwiseXOR(lit(1L << i))): _*))
      (banded, df.select(col("*"), posexplode(array(balls: _*)).as(Seq("band", "keys")))
        .select(col("*"), explode(col("keys")).as("key")).drop("keys"))
    }
  }

  /** The hot-bucket guard: with `maxBucketSize > 0`, any (band, key)
    * bucket of the member side holding more members than the cap is
    * EXCLUDED from both sides, so a pathological key degrades to a
    * bounded skip instead of a quadratic blob on one reducer. The
    * hot-key set is tiny by construction (> cap members each), so the
    * exclusion is a broadcast anti-join, and rows in a dropped bucket
    * stay discoverable through their other three bands.
    */
  def withoutHotBuckets(sides: (DataFrame, DataFrame),
      maxBucketSize: Int): (DataFrame, DataFrame) =
    if (maxBucketSize <= 0) sides
    else {
      val (member, probe) = sides
      val hot = member.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucketSize)
        .select(col("band"), col("key"))
      (member.join(broadcast(hot), Seq("band", "key"), "left_anti"),
        probe.join(broadcast(hot), Seq("band", "key"), "left_anti"))
    }
}
