package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ApproxAgg

/** Approximate-aggregate sketches: accuracy against exact answers and the
  * mergeability contract (the property that makes them partial-
  * aggregatable at 100 TB — union of slice sketches == whole-corpus
  * sketch).
  */
class ApproxAggSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  test("uniqHll: estimate within HLL error bounds of exact distinct") {
    // 3 groups with known distinct counts spanning sparse -> dense
    val rows = (1 to 5000).map(i => ("big", i.toLong)) ++
      (1 to 700).map(i => ("mid", i.toLong)) ++
      (1 to 40).map(i => ("small", i.toLong)) ++
      (1 to 700).map(i => ("mid", i.toLong)) // duplicates change nothing
    val df = rows.toDF("k", "v")
    val est = ApproxAgg.uniqHll(df, Seq("k"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Map("big" -> 5000.0, "mid" -> 700.0, "small" -> 40.0)
    exact.foreach { case (k, n) =>
      val rel = math.abs(est(k) - n) / n
      // 512 registers -> ~4.6% standard error; 3 sigma = 14% for the
      // harmonic-mean regime (big). mid/small land in the linear-
      // counting branch (~4% SE at n/m=1.4; this fixed draw sits 2.2
      // sigma low on V, hence the 12% gate rather than 5%).
      val tol = if (n <= 1280) 0.12 else 0.14
      assert(rel <= tol, s"$k: est=${est(k)} exact=$n rel=$rel")
    }
  }

  test("uniqHll registers merge (hllMerge): union of OVERLAPPING slice " +
      "sketches == whole sketch — the -State/-Merge invariance") {
    val a = (1 to 3000).map(i => ("k", i.toLong)).toDF("k", "v")
    val b = (2000 to 6000).map(i => ("k", i.toLong)).toDF("k", "v")
    val whole = ApproxAgg.uniqHll(a.union(b), Seq("k"), col("v"))
      .collect()(0)
    val merged = ApproxAgg.hllMerge(
      ApproxAgg.hllRegisters(a, Seq("k"), col("v"))
        .union(ApproxAgg.hllRegisters(b, Seq("k"), col("v"))),
      Seq("k")).collect()(0)
    assert(whole.getLong(1) === merged.getLong(1))
    assert(whole.getLong(2) === merged.getLong(2))
    // merging a slice with ITSELF is a no-op (register max idempotence)
    val selfA = ApproxAgg.hllRegisters(a, Seq("k"), col("v"))
    val twice = ApproxAgg.hllMerge(selfA.union(selfA), Seq("k")).collect()(0)
    val once = ApproxAgg.hllEstimate(selfA, Seq("k")).collect()(0)
    assert(twice.getLong(1) === once.getLong(1))
  }

  test("histMerge: quantiles over merged DISJOINT slice histograms == " +
      "whole-corpus sketch (quantileState's merge contract)") {
    val rows = (1 to 4000).map(i => ("k", BigDecimal(i) / 100))
    val df = rows.toDF("k", "v").select(col("k"),
      col("v").cast("decimal(18,2)").as("v"))
    val slices = Seq(df.filter(col("v") <= 13), df.filter(col("v") > 13))
    val qs = Seq(("p50", 1, 2), ("p90", 9, 10))
    val whole = ApproxAgg.quantileSketch(df, Seq("k"), col("v"), qs)
      .collect()(0)
    val merged = ApproxAgg.quantilesOfHistogram(
      ApproxAgg.histMerge(
        slices.map(s => ApproxAgg.quantileHistogram(s, Seq("k"), col("v")))
          .reduce(_ unionByName _), Seq("k")),
      Seq("k"), qs).collect()(0)
    assert(whole.toSeq === merged.toSeq)
  }

  test("quantileSketch: bucket lower bound within 2^-8 relative of exact") {
    val vals = (1 to 10000).map(i => ("k", BigDecimal(i * i % 9973 + 1)))
    val df = vals.toDF("k", "v").select(col("k"),
      col("v").cast("decimal(18,2)").as("v"))
    val r = ApproxAgg.quantileSketch(df, Seq("k"), col("v"),
      Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))).collect()(0)
    val sorted = vals.map(_._2.toDouble).sorted
    def exact(q: Double) = sorted((q * sorted.size).ceil.toInt - 1)
    for ((name, idx, q) <- Seq(("p50", 2, 0.5), ("p90", 3, 0.9), ("p99", 4, 0.99))) {
      val est = r.getDouble(idx)
      val ex = exact(q)
      // estimate is the bucket FLOOR of the rank-holding value: never
      // above it, within one bucket below — bucket width is 2^-(sigBits-1)
      // of the value's magnitude (the top bit is always set, so 8 kept
      // bits leave 7 free mantissa bits)
      assert(est <= ex + 1e-9, s"$name: est=$est above exact=$ex")
      assert(est >= ex * (1 - 1.0 / 128) - 0.01,
        s"$name: est=$est more than 2^-7 below exact=$ex")
    }
    assert(r.getLong(1) === 10000L)
  }

  test("StreamingUniqHll: batch estimates equal the batch operator over " +
      "the full history; crash-replay idempotent; survives compaction") {
    import graft.streaming.StreamingUniqHll
    val stateDir = java.nio.file.Files.createTempDirectory("suh").toString
    val su = new StreamingUniqHll(spark, stateDir, "k", "v")
    su.seed(Seq.empty[(String, Long)].toDF("k", "v"))
    val b0 = (1 to 800).map(i => ("a", i.toLong)) ++
      (1 to 100).map(i => ("b", i.toLong))
    val b1 = (500 to 1500).map(i => ("a", i.toLong)) // overlaps b0
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val r0 = asMap(su.admit(b0.toDF("k", "v"), 0L))
    su.compact(upTo = 0L)
    val r1 = asMap(su.admit(b1.toDF("k", "v"), 1L))
    // the streaming estimate must EQUAL the batch operator over history
    val whole = asMap(ApproxAgg.uniqHll((b0 ++ b1).toDF("k", "v"),
      Seq("k"), col("v")))
    assert(r1("a") === whole("a"), s"stream ${r1("a")} vs batch ${whole("a")}")
    assert(r0("b") === asMap(ApproxAgg.uniqHll(b0.toDF("k", "v"),
      Seq("k"), col("v")))("b"))
    // crash-after-append replay reproduces identical estimates
    val replay = asMap(su.admit(b1.toDF("k", "v"), 1L))
    assert(replay === r1)
  }

  test("StreamingQuantile: batch quantiles equal the batch sketch over " +
      "full history; crash-replay never double-counts") {
    import graft.streaming.StreamingQuantile
    val stateDir = java.nio.file.Files.createTempDirectory("sq").toString
    val sq = new StreamingQuantile(spark, stateDir, "k", "v",
      Seq(("p50", 1, 2), ("p90", 9, 10)))
    // decimal(18,2): the guard in quantileHistogram rejects scale-18
    // BigDecimal encodings (scale must be a multiple of 10^s)
    def dec(rows: Seq[(String, BigDecimal)]) = rows.toDF("k", "v")
      .select(col("k"), col("v").cast("decimal(18,2)").as("v"))
    sq.seed(dec(Seq.empty[(String, BigDecimal)]))
    val b0 = (1 to 600).map(i => ("a", BigDecimal(i)))
    val b1 = (601 to 2000).map(i => ("a", BigDecimal(i)))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    asMap(sq.admit(dec(b0), 0L))
    sq.compact(upTo = 0L)
    val r1 = asMap(sq.admit(dec(b1), 1L))
    val whole = asMap(ApproxAgg.quantileSketch((b0 ++ b1).toDF("k", "v"),
      Seq("k"), col("v").cast("decimal(18,2)"),
      Seq(("p50", 1, 2), ("p90", 9, 10)))
      .select(col("k"), col("n"), col("p50"), col("p90")))
    assert(r1("a") === whole("a"), s"stream ${r1("a")} vs batch ${whole("a")}")
    // crash-after-append replay: identical, no double-counted histogram
    val replay = asMap(sq.admit(dec(b1), 1L))
    assert(replay === r1)
    assert(r1("a")._1 === 2000L)
  }

  test("quantileSketch: negative domain is sign-split bucket-monotone; " +
      "nulls skipped by uniqHll") {
    // symmetric -1000..1000: p50 must land within one bucket of 0
    val vals = (-1000 to 1000).map(i => ("k", BigDecimal(i)))
    val df = vals.toDF("k", "v").select(col("k"),
      col("v").cast("decimal(18,2)").as("v"))
    val r = ApproxAgg.quantileSketch(df, Seq("k"), col("v"),
      Seq(("p50", 1, 2), ("p90", 9, 10))).collect()(0)
    assert(math.abs(r.getDouble(2)) <= 8.0, s"p50=${r.getDouble(2)}")
    val p90 = r.getDouble(3)
    assert(p90 >= 800 * (1 - 1.0 / 128) - 0.01 && p90 <= 800.0 + 1e-9,
      s"p90=$p90")
    // nulls: uniqHll must count around them, not poison a register
    val withNulls = Seq(("k", Some(1L)), ("k", None), ("k", Some(2L)),
      ("k", None)).toDF("k", "v")
    val est = ApproxAgg.uniqHll(withNulls, Seq("k"), col("v"))
      .collect()(0)
    assert(est.getLong(1) === 2L, s"est=${est.getLong(1)}")
    assert(est.getLong(2) === 2L, s"n_regs=${est.getLong(2)}")
  }

  test("uniqKmv: exact below k, within KMV error above; slices merge to " +
      "the whole-corpus sketch; NULLs skipped") {
    // exact regime: 100 distinct < k = 256
    val small = (1 to 100).flatMap(i => Seq(("k", i.toLong), ("k", i.toLong)))
      .toDF("k", "v")
    val e1 = ApproxAgg.uniqKmv(small, Seq("k"), col("v")).collect()(0)
    assert(e1.getLong(1) === 100L && e1.getInt(2) === 100)
    // estimator regime: 5000 distinct >> k; sigma ~ 1/sqrt(k-2) = 6.3%
    val big = (1 to 5000).map(i => ("k", i.toLong)).toDF("k", "v")
    val e2 = ApproxAgg.uniqKmv(big, Seq("k"), col("v")).collect()(0)
    assert(math.abs(e2.getLong(1) - 5000.0) / 5000.0 < 0.25,
      s"est=${e2.getLong(1)}")
    assert(e2.getInt(2) === 256)
    // mergeability: union of slice sketches == whole sketch
    val a = (1 to 3000).map(i => ("k", i.toLong)).toDF("k", "v")
    val b = (2000 to 5000).map(i => ("k", i.toLong)).toDF("k", "v")
    val whole = ApproxAgg.kmvSketch(a.union(b), Seq("k"), col("v"))
      .collect()(0).getSeq[Long](1)
    val agg = new ApproxAgg.MinKDistinctAgg(256)
    val merged = agg.merge(
      ApproxAgg.kmvSketch(a, Seq("k"), col("v")).collect()(0)
        .getSeq[Long](1).toList,
      ApproxAgg.kmvSketch(b, Seq("k"), col("v")).collect()(0)
        .getSeq[Long](1).toList)
    assert(whole.toList === merged)
    // NULL skip
    val withNulls = Seq(("k", Some(1L)), ("k", None), ("k", Some(2L)))
      .toDF("k", "v")
    val e3 = ApproxAgg.uniqKmv(withNulls, Seq("k"), col("v")).collect()(0)
    assert(e3.getLong(1) === 2L)
  }

  test("quantileExactWeighted: hand-computed ranks; bad weights skipped; " +
      "unit weights agree with percentile_disc") {
    val rows = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 1L),
      ("k", 9L, 0L), ("k", 9L, -5L)) // zero/negative weights ignored
      .toDF("k", "v", "w")
    val got = ApproxAgg.quantileExactWeighted(rows, Seq("k"),
        col("v"), col("w"),
        Seq(("p50", 1, 2), ("p75", 3, 4), ("p100", 1, 1)))
      .collect()(0)
    // W=4: p50 rank 2 -> 2; p75 rank 3 -> 2; p100 rank 4 -> 3
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
      === ((4L, 2L, 2L, 3L)))
    // unit weights == the discrete percentile definition
    val ev = Tables(spark, "/root/testdata/sf0.001").events
      .select(col("event_type"), floor(col("value") * 10).cast("long").as("v"))
    val wq = ApproxAgg.quantileExactWeighted(ev, Seq("event_type"),
        col("v"), lit(1L), Seq(("p50", 1, 2), ("p95", 19, 20)))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val pd = ev.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY v)").as("p95"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1).toLong, r.getDouble(2).toLong))
      .toMap
    assert(wq === pd)
  }

  test("equiDepthHistogram: uniform weights split evenly; heavy atoms " +
      "occupy a bin alone; bin weights cover the total") {
    // 8 unit-weight values into 4 bins -> 2 values each
    val uni = (1L to 8L).map(v => ("k", v, 1L)).toDF("k", "v", "w")
    val got = ApproxAgg.equiDepthHistogram(uni, Seq("k"),
        col("v"), col("w"), nBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((1, 1L, 2L, 2L), (2, 3L, 4L, 2L),
      (3, 5L, 6L, 2L), (4, 7L, 8L, 2L)))
    // atom with 6/8 of the weight: starts in bin 1; the tail values
    // land by their start ranks (bin 4); empty middle bins just absent
    val heavy = Seq(("k", 1L, 6L), ("k", 2L, 1L), ("k", 3L, 1L))
      .toDF("k", "v", "w")
    val got2 = ApproxAgg.equiDepthHistogram(heavy, Seq("k"),
        col("v"), col("w"), nBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got2.toSeq === Seq((1, 1L, 1L, 6L), (4, 2L, 3L, 2L)))
    assert(got2.map(_._4).sum === 8L)
  }

  test("uniqUpTo: exact at and below n, sentinel n+1 above, NULLs " +
      "skipped, partition-order independent") {
    // exactly n distinct -> exact
    val atN = (1 to 50).map(i => ("k", i.toLong)).toDF("k", "v")
    assert(ApproxAgg.uniqUpTo(atN, Seq("k"), col("v"), n = 50)
      .collect()(0).getLong(1) === 50L)
    // n+1 distinct -> sentinel n+1 (indistinguishable from more)
    val over = (1 to 51).map(i => ("k", i.toLong)).toDF("k", "v")
    assert(ApproxAgg.uniqUpTo(over, Seq("k"), col("v"), n = 50)
      .collect()(0).getLong(1) === 51L)
    val wayOver = (1 to 5000).map(i => ("k", i.toLong)).toDF("k", "v")
    assert(ApproxAgg.uniqUpTo(wayOver, Seq("k"), col("v"), n = 50)
      .collect()(0).getLong(1) === 51L)
    // duplicates don't inflate; NULLs skip; repartition-invariant
    val dups = ((1 to 30).flatMap(i => Seq(("k", Some(i.toLong)),
      ("k", Some(i.toLong)))) :+ (("k", Option.empty[Long])))
      .toDF("k", "v").repartition(7)
    assert(ApproxAgg.uniqUpTo(dups, Seq("k"), col("v"), n = 50)
      .collect()(0).getLong(1) === 30L)
  }

  test("StreamingUniqKmv: batch estimates equal the batch uniqKmv over " +
      "full history; crash-replay is idempotent") {
    import graft.streaming.StreamingUniqKmv
    val stateDir = java.nio.file.Files.createTempDirectory("skmv").toString
    val su = new StreamingUniqKmv(spark, stateDir, "k", "v", k = 64)
    su.seed(Seq.empty[(String, Long)].toDF("k", "v"))
    val b0 = (1 to 300).map(i => ("a", i.toLong))
    val b1 = (200 to 600).map(i => ("a", i.toLong))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    asMap(su.admit(b0.toDF("k", "v"), 0L))
    su.compact(upTo = 0L)
    val r1 = asMap(su.admit(b1.toDF("k", "v"), 1L))
    val whole = asMap(ApproxAgg.uniqKmv((b0 ++ b1).toDF("k", "v"),
      Seq("k"), col("v"), k = 64))
    assert(r1("a") === whole("a"), s"stream ${r1("a")} vs batch ${whole("a")}")
    // crash-after-append replay: min-k fold is idempotent
    val replay = asMap(su.admit(b1.toDF("k", "v"), 1L))
    assert(replay === r1)
  }

  test("kmvSetOps: exact union/intersection/Jaccard below saturation") {
    val a = (1 to 100).map(i => ("k", i.toLong)).toDF("k", "v")
    val b = (51 to 150).map(i => ("k", i.toLong)).toDF("k", "v")
    val r = ApproxAgg.kmvSetOps(
      ApproxAgg.kmvSketch(a, Seq("k"), col("v")),
      ApproxAgg.kmvSketch(b, Seq("k"), col("v")), Seq("k")).collect()(0)
    assert(r.getLong(1) === 150L, s"union=${r.getLong(1)}")
    assert(r.getLong(2) === 50L, s"intersect=${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 50.0 / 150.0) < 1e-6)
  }

  test("quantileHistogram: NULL values are skipped, not bucketed; float " +
      "input fails loudly (Spark truncates where DuckDB rounds)") {
    val rows = Seq(("k", Some(BigDecimal(100))), ("k", None),
      ("k", Some(BigDecimal(200))), ("k", None)).toDF("k", "v")
      .select(col("k"), col("v").cast("decimal(18,2)").as("v"))
    val h = ApproxAgg.quantileHistogram(rows, Seq("k"), col("v")).collect()
    assert(h.map(_.getLong(2)).sum === 2L,
      s"null rows must not inflate n: ${h.mkString(",")}")
    assert(!h.exists(_.isNullAt(1)), "no null bucket row")
    val dbl = Seq(("k", 1.5)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      ApproxAgg.quantileHistogram(dbl, Seq("k"), col("v"))
    }
    assert(e.getMessage.contains("DECIMAL"), e.getMessage)
    val wide = Seq(("k", BigDecimal(1))).toDF("k", "v") // DECIMAL(38,18)
    val e2 = intercept[IllegalArgumentException] {
      ApproxAgg.quantileHistogram(wide, Seq("k"), col("v"))
    }
    assert(e2.getMessage.contains("multiple of 10^18"), e2.getMessage)
  }

  test("quantileSketch histograms merge: summed slice counts == whole") {
    // decimal(18,2): quantileHistogram now rejects scale-18 BigDecimal
    // encodings whose (value * scale) cast could silently truncate
    def dec(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("v").cast("decimal(18,2)").as("v"))
    val a = dec((1 to 4000).map(i => ("k", BigDecimal(i))).toDF("k", "v"))
    val b = dec((3000 to 9000).map(i => ("k", BigDecimal(i))).toDF("k", "v"))
    val whole = ApproxAgg.quantileHistogram(a.union(b), Seq("k"), col("v"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val merged = ApproxAgg.quantileHistogram(a, Seq("k"), col("v"))
      .union(ApproxAgg.quantileHistogram(b, Seq("k"), col("v")))
      .groupBy(col("k"), col("blo")).agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(whole === merged)
  }
}
