package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Deterministic sampling / dataset-split operators for training-data
  * pipelines. Everything keys off a PORTABLE hash of a stable id — never
  * `rand()` — so:
  *
  *   - assignment is reproducible across runs, engines and cluster sizes
  *     (a re-run of a 100 TB split job lands every row in the same split;
  *     `rand()` would reshuffle on every retry of a lost partition);
  *   - membership is a scan-local projection — no shuffle, no sort, no
  *     state; filters stay inside whole-stage codegen next to the scan;
  *   - train/test leakage across derived tables is impossible: any table
  *     carrying the same id hashes to the same split.
  *
  * The hash is [[PortableHash.md5Lo]] (== DuckDB `md5_number_lower`), so
  * the correctness oracles recompute identical buckets in plain SQL.
  */
object Sampling {

  /** The bucket count every sampler and split resolves fractions on. */
  private val Buckets = 10000

  /** Stable bucket in [0, buckets) from a row key: top 63 bits of the
    * md5-lower half (unsigned shift keeps it non-negative on both
    * engines) mod the bucket count.
    */
  def hashBucket(key: Column, buckets: Int = Buckets): Column =
    shiftrightunsigned(PortableHash.md5Lo(key), 1) % buckets

  /** Deterministic weighted split assignment (train/val/test and
    * friends): `splits` are (name, weight) with weights summing to ~1;
    * each row's bucket picks the split by cumulative threshold. Rows with
    * the same key ALWAYS land in the same split.
    */
  def assignSplit(df: DataFrame, key: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    val b = hashBucket(key)
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(w => math.round(w * Buckets))
    val assigned = splits.init.zip(thresholds.init)
      .foldLeft(None: Option[Column]) { case (acc, ((name, _), t)) =>
        Some(acc match {
          case None    => when(b < t, lit(name))
          case Some(c) => c.when(b < t, lit(name))
        })
      } match {
        case Some(c) => c.otherwise(lit(splits.last._1))
        case None    => lit(splits.last._1)
      }
    df.withColumn("split", assigned)
  }

  /** Keep a deterministic ~`fraction` sample: rows whose bucket falls
    * below `fraction * 10000`. Scan-local — pushes down past the
    * filter like any other predicate.
    */
  def sampleByHash(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(hashBucket(key) < math.round(fraction * Buckets))

  /** Deterministic corpus mixing toward target stratum weights — the
    * "data mixing" knob of training pipelines (rebalance languages /
    * sources / domains to a recipe): given target shares `weights`
    * (ideally summing to <= 1), each stratum keeps the fraction
    * `min(1, w_s * total / n_s)`, i.e. target counts proportional to the
    * weights over the corpus size, downsampling over-represented strata
    * and keeping under-represented ones whole. Strata absent from
    * `weights` drop entirely.
    *
    * Two phases: ONE tiny per-stratum count aggregate collected to the
    * driver (|strata| rows — the same legitimate driver-side shape as
    * IVF centroid training), then the scan-local md5-bucket filter of
    * [[stratifiedSample]]. Assignment stays reproducible across runs,
    * engines and cluster sizes.
    */
  def mixToWeights(df: DataFrame, key: Column, stratum: Column,
      weights: Map[String, Double]): DataFrame =
    mixWithCounts(df, key, stratum)((counts, _) =>
      counts.map { case (s, _) => s -> weights.getOrElse(s, 0.0) }.toMap)

  /** Shared mixing core: ONE per-stratum count collect (|strata| rows),
    * weights derived by `deriveWeights(counts, total)`, applied as
    * min(1, w*total/n) keep fractions over the portable buckets.
    */
  private def mixWithCounts(df: DataFrame, key: Column, stratum: Column)(
      deriveWeights: (Seq[(String, Long)], Long) => Map[String, Double]): DataFrame = {
    val counts = df.groupBy(stratum.as("__s__"))
      .agg(count(lit(1)).as("__n__"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1) // defined iteration/summation order
      .toSeq
    val total = counts.map(_._2).sum
    val weights = deriveWeights(counts, total)
    val fractions = counts.map { case (s, n) =>
      s -> math.min(1.0, weights.getOrElse(s, 0.0) * total / n)
    }.toMap
    stratifiedSample(df, key, stratum, fractions, defaultFraction = 0.0)
  }

  /** Temperature-based mixture reweighting (the multilingual-sampling
    * standard, XLM-style): target shares `w_s ∝ n_s^(1/T)` — T = 1
    * keeps natural proportions, T > 1 flattens toward uniform
    * (up-samples rare strata), T < 1 sharpens. Composes the derived
    * weights into [[mixToWeights]]'s min(1, w*total/n) keep fractions.
    *
    * Oracle coverage: exponents that reduce to sqrt chains route through
    * `math.sqrt` — correctly rounded by IEEE 754, unlike `pow`, which the
    * JLS only bounds to 1 ulp — so T = 2 (`sqrt(n)`) and T = 4
    * (`sqrt(sqrt(n))`) recompute bit-identically in any engine whose
    * sqrt is correctly rounded, and both carry CORRECTNESS oracles
    * (`sample_mixture_temp`, `sample_mixture_temp4`). Other temperatures
    * fall back to `pow` and stay unit-only: cross-engine bit-parity of a
    * 1-ulp-bounded operation is not guaranteed. (The bucket assignment
    * underneath remains the engine-portable md5 filter.)
    */
  def mixToTemperature(df: DataFrame, key: Column, stratum: Column,
      temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    def share(n: Double): Double = temperature match {
      case 2.0 => math.sqrt(n)
      case 4.0 => math.sqrt(math.sqrt(n))
      case t   => math.pow(n, 1.0 / t)
    }
    mixWithCounts(df, key, stratum) { (counts, _) =>
      val powed = counts.map { case (s, n) => s -> share(n.toDouble) }
      val z = powed.map(_._2).sum
      powed.map { case (s, p) => s -> p / z }.toMap
    }
  }

  /** Cap the number of rows kept per group at `maxN`, selecting the
    * survivors deterministically by hash order (bucket asc, then id asc)
    * — the per-domain document cap of web-corpus pipelines (bound the
    * contribution of any single site/source without biasing toward
    * ingestion order).
    *
    * Implemented as a bounded-heap partial aggregate (the
    * [[Similarity.TopKAgg]] machinery), NOT a window: map-side partials
    * mean the shuffle carries at most |groups| x maxN rows, and a hot
    * group (one domain with millions of docs) never materializes or
    * sorts its full row set on one reducer — the difference between
    * |corpus| and |groups|*maxN exchange volume at 100 TB.
    *
    * Returns (group, id) for the kept rows; join back on id for payload
    * columns.
    */
  def capPerGroup(df: DataFrame, id: Column, group: Column,
      maxN: Int): DataFrame = {
    require(maxN > 0, "maxN must be positive")
    val agg = org.apache.spark.sql.functions.udaf(new Similarity.TopKAgg(maxN))
    // TopKAgg keeps top-k by (score DESC, id ASC); negating the bucket
    // turns that into (bucket ASC, id ASC) — the hash order above
    df.select(group.as("group"), id.as("id"),
        (-hashBucket(id)).cast("double").as("nb"))
      .groupBy(col("group"))
      .agg(agg(col("nb"), col("id")).as("top"))
      .select(col("group"), explode(col("top")).as("kept"))
      .select(col("group"), col("kept").getField("nn_id").as("id"))
  }

  /** Cluster-balanced (semantic-diversity) sampling: assign each vector
    * to its k-means cell (a [[Similarity.Centroids]] set — train once
    * via [[Similarity.trainCentroids]] or load a persisted
    * [[Similarity.IvfIndex]]) and keep at most `maxPerCell` rows per
    * cell in [[capPerGroup]]'s stable hash order. This is the
    * cluster-then-cap selection shape (SemDeDup / SSL-prototypes
    * lineage): dominant semantic modes (boilerplate clusters) stop
    * crowding out the distribution tail, which uniform hash sampling
    * cannot do.
    *
    * Scale shape: the cell assignment is a scan-local projection
    * against broadcast centroid literals (no shuffle, no index join);
    * the cap is the bounded-heap partial aggregate, so the one shuffle
    * carries at most nCells x maxPerCell candidate rows per mapper.
    * Vectors are read from the `embedding` column. Returns (cell, id) for
    * kept rows; join back on id for payloads.
    */
  def clusterBalancedSample(vectors: DataFrame, id: Column,
      centroids: Similarity.Centroids, maxPerCell: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val assigned = vectors.select(id.as("id"),
      centroids.assignCell(col("embedding").cast(ArrayType(DoubleType)))
        .as("cell"))
    capPerGroup(assigned, col("id"), col("cell"), maxPerCell)
      .select(col("group").as("cell"), col("id"))
  }

  /** Token-budget cap per group: keep each group's documents in the
    * deterministic hash order (bucket, id) while the group's running
    * token total stays within `budget` — the pretraining-mix shape
    * ("take N tokens per source"), the token-weighted analog of
    * [[capPerGroup]]'s document cap.
    *
    * Scale shape: the [[graft.operators.TextAnalysis.packSequences]]
    * recipe keyed by group — ONE range exchange on (group, bucket, id),
    * per-partition running sums, and a bounded driver collect of
    * per-(partition, group) totals (p x |groups| rows; groups are
    * corpus sources, so this stays tiny). No per-group single-reducer
    * window sort, so a giant source cannot serialize into one task.
    * Output: (group, id, n_tokens, tok_offset) for kept docs, where
    * tok_offset is the group's exact token prefix before this doc —
    * kept iff tok_offset + n_tokens <= budget, replayable as a plain
    * SQL cumulative window.
    */
  def capPerGroupTokens(df: DataFrame, id: Column, group: Column,
      tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val staged = df.select(group.cast("string").as("group"),
        id.cast("long").as("id"), tokens.cast("long").as("n_tokens"),
        hashBucket(id).cast("int").as("bucket"))
      .repartitionByRange(p, col("group"), col("bucket"), col("id"))
      .sortWithinPartitions(col("group"), col("bucket"), col("id"))
    val rdd = staged.select(col("group").as("_1"), col("id").as("_2"),
        col("n_tokens").as("_3"), col("bucket").as("_4"))
      .as[(String, Long, Long, Int)].rdd
    // per-(partition, group) token totals — bounded driver collect
    val totals = rdd.mapPartitionsWithIndex { (i, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (g, _, n, _) => m.update(g, m.getOrElse(g, 0L) + n) }
      m.iterator.map { case (g, s) => ((i, g), s) }
    }.collect().toMap
    // exclusive prefix per group over the (key-ordered) partition index
    val prefix: Map[(Int, String), Long] = {
      val byGroup = totals.keys.map(_._2).toSeq.distinct
      byGroup.flatMap { g =>
        (0 until p).scanLeft((0, 0L)) { case ((_, acc), i) =>
          (i + 1, acc + totals.getOrElse((i, g), 0L))
        }.map { case (i, acc) => ((i, g), acc) }
      }.toMap
    }
    val b = budget
    rdd.mapPartitionsWithIndex { (i, it) =>
      var cur: String = null
      var run = 0L
      it.flatMap { case (g, docId, n, _) =>
        if (g != cur) { cur = g; run = prefix((i, g)) }
        val off = run
        run += n
        if (off + n <= b) Some((g, docId, n, off)) else None
      }
    }.toDF("group", "id", "n_tokens", "tok_offset")
  }

  /** Stratified deterministic sampling: per-stratum keep fractions (the
    * standard corpus-mixing knob — e.g. downsample boilerplate-heavy
    * sources, keep all rare-language docs). Strata not in `fractions`
    * use `defaultFraction`.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
      fractions: Map[String, Double], defaultFraction: Double): DataFrame = {
    val b = hashBucket(key)
    val threshold = fractions.toSeq.sortBy(_._1)
      .foldLeft(None: Option[Column]) { case (acc, (s, f)) =>
        val t = lit(math.round(f * Buckets))
        Some(acc match {
          case None    => when(stratum === s, t)
          case Some(c) => c.when(stratum === s, t)
        })
      } match {
        case Some(c) => c.otherwise(lit(math.round(defaultFraction * Buckets)))
        case None    => lit(math.round(defaultFraction * Buckets))
      }
    df.filter(b < threshold)
  }

  /** Deterministic weighted Bernoulli sample: each row keeps with its
    * OWN probability `weight` (a [0,1] column — quality scores, DSIR
    * importance weights, source boosts), decided by the row's stable
    * md5 bucket rather than `rand()` — reproducible across runs,
    * engines and cluster sizes, and scan-local (a pushed filter). The
    * paper-shape companion to [[graft.operators.TextAnalysis.dsirSelect]]'s
    * deterministic top-n: sampling proportional to importance instead
    * of a hard cutoff. Weights outside [0,1] behave as clamped (bucket
    * comparison saturates).
    */
  def sampleByWeight(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.filter(hashBucket(key).cast("double") < weight * Buckets)

  /** Leakage-safe (cluster-coherent) split: near-duplicate documents
    * must never straddle train/eval — a twin of a training doc inside
    * the test set is silent benchmark contamination that per-doc
    * hashing happily produces. The split key is the document's dedup
    * CLUSTER (connected component of `pairs`, [[Dedup.cluster]]), so
    * every member of a duplicate family lands in one split; documents
    * in no pair split on their own id as usual. Output adds both
    * `component` and `split`.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val comp = Dedup.cluster(df.select(col(idCol)), pairs, idCol)
      .select(col("id").as(idCol), col("component"))
    assignSplit(df.join(comp, Seq(idCol)), col("component"), splits)
  }
}
