package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** ClickHouse-style approximate aggregates — the `uniq`/`uniqHLL12` and
  * `quantileBFloat16`-family sketches reference users issue against the
  * tables the sinker feeds (the most common CH constructs with no exact
  * counterpart here until now). Both sketches are DETERMINISTIC integer
  * arithmetic end-to-end — fixed md5 hashing, integer register/bucket
  * math, one final division of exactly-representable operands — so an
  * independent engine (the DuckDB oracle) replays them bit-for-bit; the
  * same quantization discipline as [[Graph.pageRank]].
  *
  * Scale shape: the only corpus-sized work is scan-local (hash, register
  * index, bucket id). The first aggregate keys on (group, register) /
  * (group, bucket) so partial max/count combines map-side — the shuffle
  * carries at most |groups| * m rows per task, never raw values. The
  * second aggregate and the quantile window run on the bounded sketch
  * rows (m = 512 registers / <= ~14k histogram buckets per group).
  */
object ApproxAgg {

  /** Register count exponent: m = 2^p = 512 registers, standard HLL
    * relative error ~ 1.04/sqrt(m) = 4.6%.
    */
  val HllP = 9
  val HllM: Int = 1 << HllP

  /** Rho cap: register values saturate at 30 so `2^(RhoCap - M)` stays
    * an exact BIGINT and the register sum stays < 2^53 (exact in the
    * final double division). P(rho > 30) = 2^-30 per value — immaterial.
    */
  val RhoCap = 30

  /** alpha_512 * m^2 * 2^RhoCap, the HLL harmonic-mean numerator, as the
    * exact decimal literal both engines parse to the same IEEE double
    * (alpha_512 = 0.7213 / (1 + 1.079/512)).
    */
  val HllC = 202600935058957.5

  /** The register sketch: per (group key, register) the max rho, where
    * the 60-bit hash is `md5_number_lower(value) >>> 4` (engine-portable,
    * == DuckDB), register = low p bits, and rho = 1 + leading zeros of
    * the remaining 51 bits (capped at [[RhoCap]]). This is the mergeable
    * state: union register frames from any number of slices and take the
    * per-register max — exactly how HLL states AggregateMerge in CH.
    */
  def hllRegisters(df: DataFrame, keyCols: Seq[String],
      valueCol: Column): DataFrame = {
    // stage the hash behind an alias so register and suffix derive from
    // ONE md5 digest (inlining would re-digest per use). NULL values are
    // skipped (CH uniq semantics) — a null hash would otherwise pollute
    // a null register row into every group.
    val h = shiftrightunsigned(PortableHash.md5Lo(valueCol), 4)
    val staged = df.filter(valueCol.isNotNull)
      .select(keyCols.map(col) :+ h.as("__h"): _*)
      .select(keyCols.map(col) ++ Seq(
        col("__h").bitwiseAND(lit((HllM - 1).toLong)).cast("int").as("reg"),
        shiftrightunsigned(col("__h"), HllP).as("__w")): _*)
    // 51-bit suffix: bitlen via bin() (minimal-length binary string in
    // both engines) — no float log2 whose last-ulp could mis-floor
    val rho = least(
      when(col("__w") === 0, lit(52))
        .otherwise(lit(52) - length(bin(col("__w")))),
      lit(RhoCap)).cast("int")
    staged.select(keyCols.map(col) :+ col("reg") :+ rho.as("rho"): _*)
      .groupBy((keyCols :+ "reg").map(col): _*)
      .agg(max(col("rho")).as("m"))
  }

  /** Collapse a register sketch to the per-key estimate: harmonic mean
    * over all m registers (absent ones count 2^RhoCap), with the
    * standard small-range correction — when empty registers remain and
    * the raw estimate is below 5/2·m, linear counting
    * `round(m · ln(m / V))` replaces it (the raw harmonic mean biases
    * ~20% high in that regime). The `ln` here is cross-engine safe by
    * exhaustive check, not hope: V has only 512 possible values, and
    * floor(512·ln(512/V)+0.5) was verified identical across Java's
    * Math.log, glibc, and DuckDB's ln for all of them, with >= 3.7e-4
    * distance from every flooring boundary (a 1-ulp ln divergence is
    * ~1e-13). Output: keyCols..., `est` (BIGINT), `n_regs` (BIGINT,
    * populated registers — the sketch's own fill diagnostic).
    */
  def hllEstimate(registers: DataFrame, keyCols: Seq[String]): DataFrame = {
    val term = expr(s"shiftleft(CAST(1 AS BIGINT), $RhoCap - m)")
    val v0 = lit(HllM.toLong) - col("n_regs")
    val raw = lit(HllC) /
      (col("__s") + v0 * lit(1L << RhoCap)).cast("double")
    val lc = floor(lit(HllM.toDouble) *
      log(lit(HllM.toDouble) / v0.cast("double")) + lit(0.5))
    registers.groupBy(keyCols.map(col): _*)
      .agg(sum(term).as("__s"), count(lit(1)).as("n_regs"))
      .select(keyCols.map(col) ++ Seq(
        when(v0 > 0 && raw <= lit(2.5 * HllM), lc)
          .otherwise(floor(raw)).cast("long").as("est"),
        col("n_regs")): _*)
  }

  /** uniqHLL: approximate COUNT(DISTINCT valueCol) per key. */
  def uniqHll(df: DataFrame, keyCols: Seq[String],
      valueCol: Column): DataFrame =
    hllEstimate(hllRegisters(df, keyCols, valueCol), keyCols)

  /** AggregatingMergeTree FINAL for HLL states (the -State/-Merge
    * combinator pair): partial register frames appended by any number
    * of independent writers union here and re-fold by per-(key,
    * register) max. Register max is associative, commutative, and
    * idempotent, so merged partials equal the direct sketch over the
    * union of the inputs — even when writers saw overlapping rows —
    * which is exactly the uniqState merge guarantee the CH engine
    * gives. One map-side-combined aggregate over bounded state rows
    * (<= 512 per key per writer); raw values never travel.
    */
  def hllMerge(partials: DataFrame, keyCols: Seq[String]): DataFrame =
    hllEstimate(partials.groupBy((keyCols :+ "reg").map(col): _*)
      .agg(max(col("m")).as("m")), keyCols)

  /** The histogram sketch under [[quantileSketch]]: values scaled to
    * integers by `scale` (exact for DECIMAL(p, s<=log10 scale) input),
    * then bucketed HdrHistogram-style — keep the top `sigBits` bits of
    * the scaled MAGNITUDE, zero the rest, restore the sign — giving
    * relative bucket error <= 2^-(sigBits-1) (the top bit is always
    * set) with at most ~2 * 64 * 2^(sigBits-1) buckets per key
    * regardless of corpus size. The sign split keeps negatives
    * engine-portable (bin() of a negative long is 64-bit two's
    * complement in Spark but a minus-prefixed magnitude in DuckDB) and
    * bucket-monotone, so quantiles stay a valid <=1-bucket-error
    * estimate over any sign mix; for negatives the bucket bound lies
    * at-or-above the value instead of at-or-below.
    */
  def quantileHistogram(df: DataFrame, keyCols: Seq[String],
      valueCol: Column, scale: Int = 100, sigBits: Int = 8): DataFrame = {
    // fail loudly when (valueCol * scale) would not be exact: float
    // input truncates toward zero in Spark but rounds half-up in
    // DuckDB's cast, and a decimal whose 10^s does not divide `scale`
    // drops digits — both silently drift from any replayed oracle.
    import org.apache.spark.sql.types._
    df.select(valueCol.as("__v")).schema.head.dataType match {
      case d: DecimalType =>
        val pow = math.pow(10, d.scale).toLong
        require(scale > 0 && scale % pow == 0,
          s"quantileHistogram scale=$scale cannot exactly represent " +
            s"DECIMAL(${d.precision},${d.scale}) input: scale must be a " +
            s"multiple of 10^${d.scale}")
      case ByteType | ShortType | IntegerType | LongType =>
        () // integer * scale is exact
      case other => throw new IllegalArgumentException(
        s"quantileHistogram needs DECIMAL or integer input for exact " +
          s"scaling (got $other): Spark's cast truncates while DuckDB " +
          s"rounds, so float input silently drifts from the oracle — " +
          s"cast to DECIMAL first")
    }
    val s = (valueCol * scale).cast("long")
    // NULL values are skipped (CH quantile semantics) — a null value
    // would otherwise become a null bucket that inflates n and shifts
    // ranks in quantilesOfHistogram, and the streaming twin would
    // persist the poisoned bucket into standing state (mirrors
    // hllRegisters' NULL-skip above).
    df.filter(valueCol.isNotNull)
      .select(keyCols.map(col) :+ s.as("__s"): _*)
      .select(keyCols.map(col) :+ col("__s") :+
        greatest(length(bin(abs(col("__s")))) - sigBits, lit(0)).as("__w"): _*)
      .select(keyCols.map(col) :+
        // integer CASE sign, not signum(): signum returns DOUBLE, which
        // silently loses precision above 2^53
        expr("(CASE WHEN __s < 0 THEN CAST(-1 AS BIGINT) " +
          "ELSE CAST(1 AS BIGINT) END) * " +
          "shiftleft(shiftright(abs(__s), __w), __w)").as("blo"): _*)
      .groupBy((keyCols :+ "blo").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Mergeable quantile sketch: per key, for each requested quantile
    * num/den, the LOWER BOUND of the histogram bucket holding the
    * ceil(q*n)-th value, divided back by the scale 100 as a double (one
    * exact division), over [[quantileHistogram]]'s default buckets.
    * Quantile ranks use integer ceil arithmetic — no float q*n whose
    * rounding could straddle a rank boundary. Output: keyCols..., `n`
    * (BIGINT), one DOUBLE column per quantile name.
    */
  def quantileSketch(df: DataFrame, keyCols: Seq[String], valueCol: Column,
      quantiles: Seq[(String, Int, Int)]): DataFrame =
    quantilesOfHistogram(quantileHistogram(df, keyCols, valueCol),
      keyCols, quantiles)

  /** AggregatingMergeTree FINAL for histogram states ([[hllMerge]]'s
    * quantile sibling): (keyCols..., blo, cnt) partial frames from any
    * number of independent writers union and re-fold by per-(key,
    * bucket) count SUM — associative and commutative (NOT idempotent:
    * unlike register max, the same rows must not be appended twice,
    * the same contract CH's quantileState merge has). Feed the result
    * to [[quantilesOfHistogram]] for the merged estimate.
    */
  def histMerge(partials: DataFrame, keyCols: Seq[String]): DataFrame =
    partials.groupBy((keyCols :+ "blo").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** The histogram -> quantile stage of [[quantileSketch]], broken out
    * so a standing pipeline can evaluate quantiles over a PERSISTED
    * (merged) histogram — `hist` is (keyCols..., blo, cnt) rows from
    * [[quantileHistogram]] or a count-summed union of such frames.
    */
  def quantilesOfHistogram(hist: DataFrame, keyCols: Seq[String],
      quantiles: Seq[(String, Int, Int)], scale: Int = 100): DataFrame = {
    require(quantiles.nonEmpty, "at least one quantile")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("blo"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val cum = hist.withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("__n", sum(col("cnt")).over(wAll))
    val picks = quantiles.map { case (name, num, den) =>
      // rank = ceil(num*n/den) in exact integer arithmetic
      val rank = expr(s"(__n * $num + ${den - 1}) div $den")
      min(when(col("__cum") >= rank, col("blo"))).as(s"__$name")
    }
    cum.groupBy(keyCols.map(col): _*)
      .agg(max(col("__n")).as("n"), picks: _*)
      .select(keyCols.map(col) ++ (col("n") +: quantiles.map { case (name, _, _) =>
        (col(s"__$name").cast("double") / lit(scale.toDouble)).as(name)
      }): _*)
  }

  /** CH `quantileExactWeighted`: the exact discrete quantile of a value
    * multiset where each row carries an integer repeat weight — the
    * smallest value whose cumulative weight reaches rank
    * ceil(num * W / den) (the [[quantilesOfHistogram]] rank rule, so
    * the two quantile families agree on their shared cases). NULL or
    * non-positive weights are skipped.
    *
    * Scale shape: weights pre-aggregate per (key, value) with map-side
    * combine FIRST, so the window walks distinct values, not rows —
    * exact quantiles are only sane on bounded/discretized value domains
    * (tiers, ratings, integer buckets), and for those the per-key window
    * is |domain|-bounded. For unbounded domains use [[quantileSketch]];
    * this is the exact-parity twin. Both windows and the final fold
    * share ONE key partitioning.
    *
    * Output: keyCols..., `w_total` (total weight), one column per
    * (name, num, den) quantile carrying the original value type.
    */
  def quantileExactWeighted(df: DataFrame, keyCols: Seq[String],
      valueCol: Column, weightCol: Column,
      quantiles: Seq[(String, Int, Int)]): DataFrame = {
    require(quantiles.nonEmpty, "at least one quantile")
    val byVal = df
      .filter(valueCol.isNotNull && weightCol.isNotNull && weightCol > 0)
      .groupBy(keyCols.map(col) :+ valueCol.as("__v"): _*)
      .agg(sum(weightCol.cast("long")).as("__w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val cum = byVal.withColumn("__cum", sum(col("__w")).over(w))
      .withColumn("__n", sum(col("__w")).over(wAll))
    val picks = quantiles.map { case (name, num, den) =>
      val rank = expr(s"(__n * $num + ${den - 1}) div $den")
      min(when(col("__cum") >= rank, col("__v"))).as(name)
    }
    cum.groupBy(keyCols.map(col): _*)
      .agg(max(col("__n")).as("w_total"), picks: _*)
  }

  /** Equi-depth (equal-weight) histogram — CH `histogram(N)`'s role,
    * done deterministically: distinct values in order, each assigned
    * the bin containing its FIRST occupant rank
    * (`bin = floor(prefixW * N / W) + 1`), then folded to
    * (bin, lo, hi, weight) rows. Atoms heavier than W/N occupy a bin
    * alone rather than splitting fractionally — a replayable contract
    * where CH's adaptive heights are sampling/order-dependent.
    * Same scale shape as [[quantileExactWeighted]]: weights pre-
    * aggregate per (key, value) map-side, the window walks the bounded
    * distinct-value domain, and the final fold shares the key
    * partitioning.
    */
  def equiDepthHistogram(df: DataFrame, keyCols: Seq[String],
      valueCol: Column, weightCol: Column, nBins: Int): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    val byVal = df
      .filter(valueCol.isNotNull && weightCol.isNotNull && weightCol > 0)
      .groupBy(keyCols.map(col) :+ valueCol.as("__v"): _*)
      .agg(sum(weightCol.cast("long")).as("__w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    byVal.withColumn("__cum", sum(col("__w")).over(w))
      .withColumn("__n", sum(col("__w")).over(wAll))
      .withColumn("bin",
        expr(s"((__cum - __w) * $nBins) div __n + 1").cast("int"))
      .groupBy(keyCols.map(col) :+ col("bin"): _*)
      .agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"),
        sum(col("__w")).as("w"))
  }

  // ---- KMV (k-minimum-values) distinct sketch --------------------------

  /** Bounded sorted-unique buffer of the k smallest md5 hashes in
    * UNSIGNED order — the KMV state (Bar-Yossef et al. 2002; the
    * engine-portable stand-in for CH `uniqCombined`'s role). Distinctness
    * and the bound are maintained inside the aggregate, so raw rows feed
    * it directly: ONE shuffle, map-side partials of at most k longs per
    * (mapper, key). NULLs are skipped (CH uniq semantics). The unsigned
    * order uses the sign-bit flip (`h ^ Long.MinValue` is monotone from
    * unsigned to signed order).
    */
  final class MinKDistinctAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, List[Long], Seq[Long]] {
    require(k >= 2, "need k >= 2")
    private def flip(h: Long): Long = h ^ Long.MinValue

    override def zero: List[Long] = Nil

    override def reduce(buf: List[Long], in: java.lang.Long): List[Long] =
      if (in == null) buf
      else {
        val h = in.longValue
        if (buf.lengthCompare(k) >= 0 && flip(h) >= flip(buf.last)) buf
        else {
          val (pre, post) = buf.span(b => flip(b) < flip(h))
          if (post.headOption.contains(h)) buf // already present
          else (pre ::: h :: post).take(k)
        }
      }

    override def merge(a: List[Long], b: List[Long]): List[Long] = {
      val builder = List.newBuilder[Long]
      var (x, y) = (a, b); var n = 0; var last = 0L; var any = false
      while (n < k && (x.nonEmpty || y.nonEmpty)) {
        val pick =
          if (y.isEmpty || (x.nonEmpty && flip(x.head) <= flip(y.head))) {
            val v = x.head; x = x.tail
            if (y.nonEmpty && y.head == v) y = y.tail // dedupe across sides
            v
          } else { val v = y.head; y = y.tail; v }
        if (!any || last != pick) { builder += pick; n += 1; last = pick; any = true }
      }
      builder.result()
    }

    override def finish(r: List[Long]): Seq[Long] = r

    override def bufferEncoder: org.apache.spark.sql.Encoder[List[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** KMV sketch per key: `ks` = the k smallest distinct md5-lo hashes of
    * `valueCol` in unsigned order. Mergeable: the union sketch of any
    * slices is the merged k smallest of their sketches (pinned by
    * ApproxAggSpec), which is how a standing pipeline or a set-union
    * estimate folds KMV states.
    */
  def kmvSketch(df: DataFrame, keyCols: Seq[String], valueCol: Column,
      k: Int = 256): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(new MinKDistinctAgg(k))
    df.select(keyCols.map(col) :+
        PortableHash.md5Lo(valueCol).as("__h"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(agg(col("__h")).as("ks"))
  }

  /** Collapse a KMV sketch to the distinct estimate: exact `size(ks)`
    * while the sketch is unsaturated, else `floor((k-1) * 2^64 / u)`
    * with `u` the k-th smallest unsigned hash — evaluated in DOUBLE on
    * both engines from identical correctly-rounded inputs ((k-1)*2^64
    * parsed from the same literal, `u` through ONE exact
    * decimal->double cast), so the floor is deterministic cross-engine.
    * Output: keyCols..., `est` BIGINT, `n_kept` INT.
    */
  def kmvEstimate(sketch: DataFrame, keyCols: Seq[String],
      k: Int = 256): DataFrame = {
    val cNum = (BigInt(k - 1) << 64).toDouble
    // unsigned value of the k-th hash, exactly, then one double cast
    val kth = element_at(col("ks"), k)
    val u = (kth.cast("decimal(20,0)") +
      when(kth < 0, lit(new java.math.BigDecimal(BigInt(1L).<<(64).toString)))
        .otherwise(lit(java.math.BigDecimal.ZERO))).cast("double")
    sketch.select(keyCols.map(col) ++ Seq(
      when(size(col("ks")) < k, size(col("ks")).cast("long"))
        .otherwise(floor(lit(cNum) / u).cast("long")).as("est"),
      size(col("ks")).as("n_kept")): _*)
  }

  /** uniqKmv: approximate COUNT(DISTINCT valueCol) per key via KMV. */
  def uniqKmv(df: DataFrame, keyCols: Seq[String], valueCol: Column,
      k: Int = 256): DataFrame =
    kmvEstimate(kmvSketch(df, keyCols, valueCol, k), keyCols, k)

  /** CH `uniqUpTo(N)`: the EXACT distinct count while it does not
    * exceed N, and the sentinel N+1 as soon as it does — the cheap
    * "is this column low-cardinality?" probe. The k = N+1 KMV sketch
    * holds ALL distinct hashes until there are more than N+1 of them,
    * so its size is exactly min(distinct, N+1): no estimation branch
    * exists, and the answer is exact modulo 64-bit md5-lo collisions.
    * Same ONE-shuffle shape as [[uniqKmv]] — map-side partials carry at
    * most N+1 longs per (mapper, key); NULLs skip (CH uniq semantics).
    */
  def uniqUpTo(df: DataFrame, keyCols: Seq[String], valueCol: Column,
      n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    kmvSketch(df, keyCols, valueCol, n + 1)
      .select(keyCols.map(col) :+
        size(col("ks")).cast("long").as("uniq_upto"): _*)
  }

  /** KMV set operations (CH `uniqTheta`'s union/intersect role): join
    * two per-key sketch frames and estimate, per key, the UNION distinct
    * count, the INTERSECTION distinct count, and the Jaccard similarity
    * of the two value sets — all from the bounded sketches, never the
    * raw sets. The union sketch is the merged k smallest (a slice of
    * the unsigned-sorted hash union); rho = (members of the union
    * sketch present in BOTH sides) / |union sketch| estimates Jaccard,
    * and the intersection is floor(m * union_est / |K|) in exact
    * integer arithmetic. Every step is deterministic and replayed by
    * the DuckDB oracle.
    */
  def kmvSetOps(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      k: Int = 256): DataFrame = {
    val cNum = (BigInt(k - 1) << 64).toDouble
    val joined = a.select(keyCols.map(col) :+ col("ks").as("ksa"): _*)
      .join(b.select(keyCols.map(col) :+ col("ks").as("ksb"): _*), keyCols)
    // unsigned-order sort via the sign-bit flip, then the k-slice
    val flipLit = Long.MinValue
    val merged = expr(
      s"""transform(
         |  slice(array_sort(transform(array_union(ksa, ksb),
         |    x -> x ^ ${flipLit}L)), 1, $k),
         |  x -> x ^ ${flipLit}L)""".stripMargin)
    val withK = joined.withColumn("__k", merged)
      .withColumn("__m", size(expr(
        "filter(__k, x -> array_contains(ksa, x) AND array_contains(ksb, x))")))
    val kth = element_at(col("__k"), k)
    val u = (kth.cast("decimal(20,0)") +
      when(kth < 0, lit(new java.math.BigDecimal(BigInt(1L).<<(64).toString)))
        .otherwise(lit(java.math.BigDecimal.ZERO))).cast("double")
    val unionEst = when(size(col("__k")) < k, size(col("__k")).cast("long"))
      .otherwise(floor(lit(cNum) / u).cast("long"))
    withK
      .withColumn("union_est", unionEst)
      .select(keyCols.map(col) ++ Seq(
        col("union_est"),
        // integer DIV, not float division — exact on both engines
        expr("(CAST(__m AS BIGINT) * union_est) DIV CAST(size(__k) AS BIGINT)")
          .as("intersect_est"),
        round(col("__m").cast("double") / size(col("__k")).cast("double"), 6)
          .as("jaccard")): _*)
  }
}
