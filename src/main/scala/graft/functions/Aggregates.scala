package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.ApproxAgg

/** SQL-surface aggregate twins of the DataFrame sketch operators — how a
  * pure-SQL / Thrift client issues ClickHouse's `uniq`, `quantile`, and
  * `sumMap` against this engine (the reference's users call exactly
  * those; `clickhouse_sinker` feeds tables that are then queried with
  * them). Each Aggregator reproduces the corresponding
  * [[graft.operators.ApproxAgg]] / [[graft.operators.MergeSemantics]]
  * result BIT-FOR-BIT: same md5 hashing, same integer register/bucket
  * math, same estimator constants — pinned by GraftExtensionsSpec
  * equality tests against the Column API.
  *
  * Scale note: these are partial-aggregatable (Spark plans ObjectHashAgg
  * with map-side partials; the buffers are the bounded sketch states —
  * 512 bytes for HLL, <= ~14k buckets for the histogram), so the shuffle
  * carries sketches, not raw values — the same property as the
  * DataFrame operators. For whole-pipeline work the DataFrame operators
  * remain the first choice (whole-stage codegen on the scan side); the
  * UDAFs exist so the SQL surface is complete.
  */
object Aggregates {

  /** `graft_uniq_hll(value)`: HLL distinct estimate, == the `est` column
    * of [[ApproxAgg.uniqHll]]. State: 512 rho registers (one byte each).
    * NULL values are skipped (CH `uniq` semantics).
    */
  class UniqHllAgg extends Aggregator[String, Array[Byte], Long] {
    override def zero: Array[Byte] = new Array[Byte](ApproxAgg.HllM)

    override def reduce(b: Array[Byte], v: String): Array[Byte] = {
      if (v != null) {
        val h = PortableHash.lo(UTF8String.fromString(v)) >>> 4
        val reg = (h & (ApproxAgg.HllM - 1)).toInt
        val w = h >>> ApproxAgg.HllP
        // 51-bit suffix: rho = 1 + leading zeros = 52 - bitlen(w)
        val rho = math.min(
          if (w == 0L) 52 else 52 - (64 - java.lang.Long.numberOfLeadingZeros(w)),
          ApproxAgg.RhoCap)
        if (rho > b(reg)) b(reg) = rho.toByte
      }
      b
    }

    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(b: Array[Byte]): Long = {
      // identical estimator to hllEstimate: harmonic mean with absent
      // registers at 2^RhoCap, linear counting in the small range
      var s = 0L
      var v0 = 0L
      var i = 0
      while (i < b.length) {
        if (b(i) > 0) s += 1L << (ApproxAgg.RhoCap - b(i))
        else v0 += 1
        i += 1
      }
      val m = ApproxAgg.HllM.toDouble
      val raw = ApproxAgg.HllC /
        (s + v0 * (1L << ApproxAgg.RhoCap)).toDouble
      if (v0 > 0 && raw <= 2.5 * m)
        math.floor(m * math.log(m / v0.toDouble) + 0.5).toLong
      else math.floor(raw).toLong
    }

    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** `graft_quantile_sketch(value, num, den)`: HdrHistogram-style bucket
    * sketch quantile at q = num/den, == the corresponding column of
    * [[ApproxAgg.quantileSketch]] (lower bucket bound of the
    * ceil(q*n)-th value, divided back by `scale`; 8 significant bits
    * per bucket, the operator's default). Input arrives
    * PRE-SCALED to long by the registration builder (the exact
    * `(value * scale) CAST AS BIGINT` the DataFrame operator applies),
    * so bucket ids are bit-identical. NULLs are skipped; an all-NULL
    * group yields SQL NULL.
    */
  class QuantileSketchAgg(num: Int, den: Int, scale: Int = 100)
      extends Aggregator[java.lang.Long, Map[Long, Long], java.lang.Double] {
    require(den > 0 && num >= 0 && num <= den, s"need 0 <= $num/$den <= 1")
    private val sigBits = 8

    override def zero: Map[Long, Long] = Map.empty

    private def bucket(s: Long): Long = {
      val a = math.abs(s)
      val bitlen = if (a == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(a)
      val w = math.max(bitlen - sigBits, 0)
      val blo = (a >> w) << w
      if (s < 0) -blo else blo
    }

    override def reduce(b: Map[Long, Long], v: java.lang.Long): Map[Long, Long] =
      if (v == null) b
      else {
        val k = bucket(v)
        b.updated(k, b.getOrElse(k, 0L) + 1L)
      }

    override def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
      if (a.size < b.size) merge(b, a)
      else b.foldLeft(a) { case (acc, (k, n)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + n)
      }

    override def finish(b: Map[Long, Long]): java.lang.Double = {
      if (b.isEmpty) return null
      val n = b.valuesIterator.sum
      val rank = (n * num + (den - 1)) / den // exact integer ceil
      var cum = 0L
      for ((blo, cnt) <- b.toSeq.sortBy(_._1)) {
        cum += cnt
        if (cum >= rank) return blo.toDouble / scale.toDouble
      }
      b.keysIterator.max.toDouble / scale.toDouble // rank == n fallthrough
    }

    override def bufferEncoder: Encoder[Map[Long, Long]] =
      ExpressionEncoder[Map[Long, Long]]()
    override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** `graft_uniq_kmv(value[, k])`: KMV distinct estimate, == the `est`
    * column of [[graft.operators.ApproxAgg.uniqKmv]]. State and fold
    * delegate to [[graft.operators.ApproxAgg.MinKDistinctAgg]]; the
    * finish computes the same single-division estimate (the unsigned
    * k-th hash through one correctly-rounded BigDecimal->double
    * conversion, identical to the DataFrame path's decimal cast).
    */
  class UniqKmvAgg(k: Int = 256)
      extends Aggregator[java.lang.Long, List[Long], Long] {
    private val inner = new graft.operators.ApproxAgg.MinKDistinctAgg(k)
    private val cNum = (BigInt(k - 1) << 64).toDouble
    private val two64 = BigDecimal(BigInt(1) << 64)

    override def zero: List[Long] = inner.zero
    override def reduce(b: List[Long], v: java.lang.Long): List[Long] =
      inner.reduce(b, v)
    override def merge(a: List[Long], b: List[Long]): List[Long] =
      inner.merge(a, b)

    override def finish(r: List[Long]): Long =
      if (r.lengthCompare(k) < 0) r.length.toLong
      else {
        val kth = r.last // ks is unsigned-ascending; saturated => k-th
        val u = (BigDecimal(kth) + (if (kth < 0) two64 else BigDecimal(0)))
          .toDouble
        math.floor(cNum / u).toLong
      }

    override def bufferEncoder: Encoder[List[Long]] =
      ExpressionEncoder[List[Long]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** `graft_quantile_weighted(value, weight, num, den)`: CH
    * `quantileExactWeighted` as a SQL aggregate over integer values —
    * the smallest value whose cumulative weight reaches
    * ceil(num * W / den), the exact rank rule of
    * [[graft.operators.ApproxAgg.quantileExactWeighted]]. State is the
    * (value -> weight) map — bounded by the distinct-value domain, the
    * same contract as the DataFrame operator's pre-aggregate. NULLs and
    * non-positive weights skip; an all-skipped group yields NULL.
    */
  class QuantileExactWeightedAgg(num: Int, den: Int)
      extends Aggregator[(java.lang.Long, java.lang.Long),
        Map[Long, Long], java.lang.Long] {
    require(num >= 1 && den >= 1 && num <= den,
      s"need 1 <= num <= den, got $num/$den")

    override def zero: Map[Long, Long] = Map.empty

    override def reduce(b: Map[Long, Long],
        v: (java.lang.Long, java.lang.Long)): Map[Long, Long] =
      if (v._1 == null || v._2 == null || v._2 <= 0L) b
      else b.updated(v._1.longValue,
        b.getOrElse(v._1.longValue, 0L) + v._2.longValue)

    override def merge(a: Map[Long, Long],
        b: Map[Long, Long]): Map[Long, Long] =
      b.foldLeft(a) { case (acc, (v, w)) =>
        acc.updated(v, acc.getOrElse(v, 0L) + w) }

    override def finish(m: Map[Long, Long]): java.lang.Long =
      if (m.isEmpty) null
      else {
        val n = m.valuesIterator.sum
        val rank = (n * num + (den - 1)) / den
        var cum = 0L
        for ((v, w) <- m.toSeq.sortBy(_._1)) {
          cum += w
          if (cum >= rank) return v
        }
        m.keysIterator.max
      }

    override def bufferEncoder: Encoder[Map[Long, Long]] =
      ExpressionEncoder[Map[Long, Long]]()
    override def outputEncoder: Encoder[java.lang.Long] = Encoders.LONG
  }

  /** `graft_uniq_upto(value, n)`: CH `uniqUpTo(N)` — exact distinct
    * count while <= n, else the sentinel n+1. The k = n+1
    * [[graft.operators.ApproxAgg.MinKDistinctAgg]] buffer holds every
    * distinct hash until it saturates, so its SIZE is the answer (==
    * the `uniq_upto` column of [[graft.operators.ApproxAgg.uniqUpTo]]).
    */
  class UniqUpToAgg(n: Int)
      extends Aggregator[java.lang.Long, List[Long], Long] {
    require(n >= 1, "n must be >= 1")
    private val inner = new graft.operators.ApproxAgg.MinKDistinctAgg(n + 1)
    override def zero: List[Long] = inner.zero
    override def reduce(b: List[Long], v: java.lang.Long): List[Long] =
      inner.reduce(b, v)
    override def merge(a: List[Long], b: List[Long]): List[Long] =
      inner.merge(a, b)
    override def finish(r: List[Long]): Long = r.length.toLong
    override def bufferEncoder: Encoder[List[Long]] =
      ExpressionEncoder[List[Long]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** `graft_window_funnel(ts, step, window_sec, k[, mode])`: ClickHouse's
    * `windowFunnel` as a SQL aggregate — per group (the user), the
    * deepest step chain within `window_sec` of the chain start, running
    * the EXACT walk of [[graft.operators.EventAnalytics]] (same
    * (ts, step) sort, same interrupt modes), so results match the
    * DataFrame operator bit-for-bit. Input arrives as (epoch-micros,
    * stepIdx) pairs from the registration builder; rows with step < 0 or
    * NULLs are skipped. State is the group's step-event list — the same
    * per-user payload the DataFrame operator shuffles to its sorted
    * group walk.
    */
  class WindowFunnelAgg(k: Int, windowSec: Long, mode: String = "default")
      extends Aggregator[(java.lang.Long, java.lang.Integer),
        Seq[(Long, Int)], Int] {
    require(k > 0 && windowSec > 0, s"need k > 0 and window > 0")
    // same contract as the batch operator: a typo'd mode must fail loudly,
    // not fall through funnelWalk's catch-all to 'default' semantics
    require(graft.operators.EventAnalytics.Modes.contains(mode),
      s"mode must be one of ${graft.operators.EventAnalytics.Modes} (got '$mode')")

    override def zero: Seq[(Long, Int)] = Vector.empty

    override def reduce(b: Seq[(Long, Int)],
        v: (java.lang.Long, java.lang.Integer)): Seq[(Long, Int)] =
      if (v._1 == null || v._2 == null || v._2 < 0) b
      else b :+ ((v._1.longValue, v._2.intValue))

    override def merge(a: Seq[(Long, Int)],
        b: Seq[(Long, Int)]): Seq[(Long, Int)] = a ++ b

    override def finish(b: Seq[(Long, Int)]): Int =
      graft.operators.EventAnalytics.funnelWalk(
        b.sortBy(identity).toArray, k, windowSec * 1000000L, mode)

    override def bufferEncoder: Encoder[Seq[(Long, Int)]] =
      ExpressionEncoder[Seq[(Long, Int)]]()
    override def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  /** `graft_sequence_count(ts, step, k)`: ClickHouse's
    * `sequenceCount('(?1).*(?2)...(?k)')` as a SQL aggregate — the
    * number of NON-OVERLAPPING ordered completions of the k steps, the
    * same greedy automaton as [[graft.operators.EventAnalytics
    * .sequenceCount]] over the (ts, step)-sorted group. Rows with
    * step < 0 or NULLs are skipped.
    */
  class SequenceCountAgg(k: Int)
      extends Aggregator[(java.lang.Long, java.lang.Integer),
        Seq[(Long, Int)], Int] {
    require(k > 0, "need k > 0")

    override def zero: Seq[(Long, Int)] = Vector.empty

    override def reduce(b: Seq[(Long, Int)],
        v: (java.lang.Long, java.lang.Integer)): Seq[(Long, Int)] =
      if (v._1 == null || v._2 == null || v._2 < 0) b
      else b :+ ((v._1.longValue, v._2.intValue))

    override def merge(a: Seq[(Long, Int)],
        b: Seq[(Long, Int)]): Seq[(Long, Int)] = a ++ b

    override def finish(b: Seq[(Long, Int)]): Int = {
      var level = 0
      var cnt = 0
      b.sortBy(identity).foreach { case (_, s) =>
        if (s == level) {
          level += 1
          if (level == k) { cnt += 1; level = 0 }
        }
      }
      cnt
    }

    override def bufferEncoder: Encoder[Seq[(Long, Int)]] =
      ExpressionEncoder[Seq[(Long, Int)]]()
    override def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  /** `graft_retention(flags)`: ClickHouse's `retention` as a SQL
    * aggregate over an `ARRAY<BOOLEAN>` of per-row condition flags —
    * element-wise OR across the group's rows, then anchor-gating
    * (`r[i] = f[0] AND f[i]`), == [[graft.operators.EventAnalytics
    * .retention]]'s r0..rn columns as an array. NULL rows/elements
    * count as false.
    */
  class RetentionAgg extends Aggregator[Seq[java.lang.Boolean], Seq[Boolean],
      Seq[Int]] {
    override def zero: Seq[Boolean] = Vector.empty

    private def orZip(a: Seq[Boolean], b: Seq[Boolean]): Seq[Boolean] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else {
        require(a.size == b.size,
          s"retention flag arity must be constant per group: ${a.size} vs ${b.size}")
        a.lazyZip(b).map(_ || _)
      }

    override def reduce(b: Seq[Boolean], v: Seq[java.lang.Boolean]): Seq[Boolean] =
      if (v == null) b
      else orZip(b, v.map(x => x != null && x.booleanValue))

    override def merge(a: Seq[Boolean], b: Seq[Boolean]): Seq[Boolean] =
      orZip(a, b)

    override def finish(b: Seq[Boolean]): Seq[Int] =
      if (b.isEmpty) b.map(_ => 0)
      else b.zipWithIndex.map { case (f, i) =>
        if (if (i == 0) f else b.head && f) 1 else 0
      }

    override def bufferEncoder: Encoder[Seq[Boolean]] =
      ExpressionEncoder[Seq[Boolean]]()
    override def outputEncoder: Encoder[Seq[Int]] =
      ExpressionEncoder[Seq[Int]]()
  }

  /** `graft_sum_map(m)`: key-wise map sum, == [[graft.operators
    * .MergeSemantics.sumMap]] for `MAP<STRING, BIGINT>` columns (the CH
    * `sumMap` shape; other value types go through the DataFrame
    * operator). NULL maps contribute nothing but the group still
    * surfaces — with an empty map, SummingMergeTree's key retention.
    */
  class SumMapAgg extends Aggregator[Map[String, Long], Map[String, Long],
      Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], v: Map[String, Long]): Map[String, Long] =
      if (v == null) b else merge(b, v)

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      if (a.size < b.size) merge(b, a)
      else b.foldLeft(a) { case (acc, (k, n)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + n)
      }

    override def finish(b: Map[String, Long]): Map[String, Long] =
      // entry order = key order in UTF-8 BYTE order, matching sumMap's
      // sort_array over UTF8String keys — plain TreeMap would compare
      // UTF-16 code units, which diverges for supplementary-plane keys
      scala.collection.immutable.TreeMap.empty[String, Long](
        SumMapAgg.Utf8Order) ++ b

    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  object SumMapAgg {
    /** UTF-8 byte order (== code-point order == UTF8String binary order),
      * the ordering `sort_array` applies to STRING elements.
      */
    val Utf8Order: Ordering[String] = new Ordering[String] {
      def compare(a: String, b: String): Int =
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
