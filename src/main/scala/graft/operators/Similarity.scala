package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PortableHash, RhpBandKeys, VecDot}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Three tiers, by corpus size:
  *
  *   - [[bruteForceTopK]]: exact — broadcast the (small) query set and
  *     scan the corpus once; per-query top-k via a bounded-heap partial
  *     aggregate, so the shuffle carries |q|*k rows, never the
  *     |q|*|corpus| scored product. The baseline and the verifier for the
  *     approximate tiers.
  *   - [[lshTopK]]: random-hyperplane LSH — per-row bit signature computed
  *     in codegen, candidates bucketed by signature band, exact re-rank
  *     inside buckets. Sub-linear candidate sets at 100 TB.
  *   - [[ivfTopK]]: IVF coarse quantization — deterministic hash-sampled
  *     seeds + one Lloyd refinement give the cell centroids; cell
  *     assignment is a single PROJECTION against centroid literals (no
  *     join, no window — an argmax over nCells inline scores); queries
  *     probe their `nprobe` nearest cells only.
  *
  * Dot products are codegen'd ([[graft.functions.VecDot]]); hyperplanes
  * are deterministic pseudo-random literals (splitmix64 of (bit, dim)),
  * so results are reproducible across runs and engines — the DuckDB
  * oracles recompute signatures, centroids and ranks from the same
  * parquet and match hash-for-hash.
  */
object Similarity {

  def norm(a: Column): Column = sqrt(VecDot.of(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(VecDot.of(a, b) / d)
  }

  // ---- bounded top-k aggregation --------------------------------------

  final case class Scored(cos: Double, nn_id: Long)

  /** Bounded top-k by (cos DESC, nn_id ASC): a partial-aggregatable
    * replacement for `row_number().over(Window)` — the window shuffles
    * every scored row; this shuffles at most k rows per group (map-side
    * partial + merge), which is the difference between |q|*k and
    * |q|*|corpus| exchange volume at scale.
    */
  final class TopKAgg(k: Int) extends Aggregator[Scored, List[Scored], Seq[Scored]] {
    private def beats(a: Scored, b: Scored): Boolean =
      a.cos > b.cos || (a.cos == b.cos && a.nn_id < b.nn_id)
    override def zero: List[Scored] = Nil
    override def reduce(buf: List[Scored], in: Scored): List[Scored] = {
      // sorted insert, bounded at k — k is small, O(k) insert is cheaper
      // than heap bookkeeping at these sizes
      if (buf.lengthCompare(k) >= 0 && !beats(in, buf.last)) buf
      else {
        val (pre, post) = buf.span(beats(_, in))
        (pre ::: in :: post).take(k)
      }
    }
    override def merge(a: List[Scored], b: List[Scored]): List[Scored] = {
      val builder = List.newBuilder[Scored]
      var (x, y) = (a, b); var n = 0
      while (n < k && (x.nonEmpty || y.nonEmpty)) {
        if (y.isEmpty || (x.nonEmpty && beats(x.head, y.head))) {
          builder += x.head; x = x.tail
        } else { builder += y.head; y = y.tail }
        n += 1
      }
      builder.result()
    }
    override def finish(r: List[Scored]): Seq[Scored] = r
    override def bufferEncoder: Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** (query_id, scored rows) -> (query_id, rank, nn_id, cos) via the
    * bounded aggregate.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k))
    scored.groupBy(col("query_id"))
      .agg(agg(col("cos"), col("nn_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "nn")))
      .select(col("query_id"),
        col("nn").getField("nn_id").as("nn_id"),
        col("nn").getField("cos").as("cos"),
        (col("r0") + 1).cast(IntegerType).as("rank"))
  }

  /** Hard-negative mining for contrastive/embedding training: per query,
    * the k most similar corpus vectors INSIDE the cosine band
    * `[loCos, hiCos)` — similar enough to be informative negatives,
    * dissimilar enough to not be latent duplicates (the standard
    * in-batch-negatives upgrade). Same plan as [[bruteForceTopK]]: the
    * band filter sits in the scan-shaped scored projection, the cut is
    * the bounded-heap TopKAgg — never a corpus sort. Frames carry
    * `vec_id` and `embedding`, as in every top-k below.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      loCos: Double, hiCos: Double): DataFrame = {
    require(loCos < hiCos, "need loCos < hiCos")
    val c = corpus.select(col("vec_id").as("nn_id"),
      col("embedding").as("nn_vec"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
      .filter(col("cos") >= loCos && col("cos") < hiCos)
    topKPerQuery(scored, k)
  }

  /** Exact top-k: for each query vector (small set — broadcast), the k
    * nearest corpus vectors by cosine. Deterministic tie-break on corpus
    * id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("nn_id"),
      col("embedding").as("nn_vec"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** nBits-bit random-hyperplane signature of a vector column — the
    * definitional (compositional) form; the operators below use the
    * fused [[graft.functions.RhpBandKeys]] expression, which computes
    * identical bits in one codegen'd pass.
    */
  def rhpSignature(vec: Column, dims: Int, nBits: Int): Column =
    array((0 until nBits).map { b =>
      val plane = array((0 until dims).map(d =>
        lit(RhpBandKeys.planeComponent(b, d))): _*)
      when(VecDot.of(vec.cast(ArrayType(DoubleType)), plane) >= 0, lit(1L))
        .otherwise(lit(0L))
    }: _*)

  /** Pack signature bits into band keys of `bandBits` each (definitional
    * twin of the packing inside [[graft.functions.RhpBandKeys]]).
    */
  private[graft] def bandKeys(sig: Column, nBits: Int, bandBits: Int): Column =
    array((0 until nBits / bandBits).map { band =>
      aggregate(slice(sig, band * bandBits + 1, bandBits),
        lit(0L), (acc, b) => acc * 2 + b)
    }: _*)

  /** LSH top-k: candidates share at least one signature band with the
    * query; exact cosine re-rank inside the candidate set. Recall rises
    * with more/narrower bands (here 16 bits in 4-bit bands, over
    * `vec_id`/`embedding` frames); the exact path above is the oracle.
    *
    * Each query band key is also probed at its 1-bit flips — the standard multi-probe trick: top-k
    * neighbors are often WEAK-similarity pairs whose signatures land one
    * bit off the query's bucket, and probing the `bandBits` adjacent
    * buckets recovers them without adding bands. The probe expansion
    * stays on the (small, broadcast) query side, so the join remains an
    * equi-join with the corpus side untouched — measured recall 0.36 ->
    * 0.94 at identical corpus cost, candidates up ~5x on the bounded
    * re-rank only.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Int): DataFrame = {
    val nBits = 16
    val bandBits = 4
    def withBands(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs),
        posexplode(graft.functions.RhpBandKeys.of(
          col("embedding").cast(ArrayType(DoubleType)), dims, nBits, bandBits))
          .as(Seq("band", "key")))

    val c = withBands(corpus, "nn_id", "nn_vec")
    val q0 = withBands(queries, "query_id", "q_vec")
    val q = q0.select(col("query_id"), col("q_vec"), col("band"),
      explode(array(col("key") +: (0 until bandBits).map(b =>
        col("key").bitwiseXOR(lit(1L << b))): _*)).as("probe"))
    val candidates = c.join(broadcast(q),
        c("band") === q("band") && c("key") === col("probe") &&
        col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), col("q_vec"), col("nn_vec"))
      .dropDuplicates("query_id", "nn_id")
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
    topKPerQuery(candidates, k)
  }

  // ---- IVF ------------------------------------------------------------

  /** A trained coarse quantizer: cell id -> (centroid, norm). */
  final case class Centroids(cells: Seq[(Int, Array[Double], Double)]) {
    def nCells: Int = cells.size

    // cell ranking runs as ONE fused projection (no join, no window, no
    // shuffle): rank by `dot(v,c)/|c|` (|v| is constant across cells),
    // ties to the lower cell id, zero-norm centroids score -Inf so a
    // degenerate cell never wins (a 0-division would yield NaN, which
    // sorts greatest and would swallow every assignment). The
    // [[graft.functions.CentroidProbes]] expression keeps the centroid
    // matrix as one referenced double[][] — the literal-array struct-sort
    // form fell out of whole-stage codegen at nCells x dims literals.
    @transient private lazy val ordered = {
      val o = cells.sortBy(_._1).toIndexedSeq
      require(o.zipWithIndex.forall { case ((id, _, _), i) => id == i },
        "cell ids must be dense 0..n-1")
      o
    }
    @transient private lazy val cArr: Array[Array[Double]] = ordered.map(_._2).toArray
    @transient private lazy val nArr: Array[Double] = ordered.map(_._3).toArray

    /** Nearest cell of each vector. */
    def assignCell(vec: Column): Column =
      element_at(graft.functions.CentroidProbes.of(vec, cArr, nArr, 1), 1)

    /** The `nprobe` nearest cells, best first. */
    def probeCells(vec: Column, nprobe: Int): Column =
      graft.functions.CentroidProbes.of(vec, cArr, nArr, nprobe)
  }

  /** Deterministic "k-means-lite": seeds are the nCells corpus vectors
    * with the smallest md5-hash of their id (an order-free uniform
    * sample — a partial top-k, not a full sort), refined by one Lloyd
    * step (mean of each seed's cosine-assigned vectors), components
    * rounded to 3 decimals so the FP summation order of the distributed
    * mean can never leak into cell assignments. Every step is
    * re-computable in plain SQL — the oracle derives the identical
    * centroids from the same parquet.
    */
  def trainCentroids(corpus: DataFrame, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Centroids = {
    val vecd = col(vecCol).cast(ArrayType(DoubleType))
    val seedRows = corpus
      .select(col(idCol).as("id"), vecd.as("v"),
        PortableHash.md5Lo(col(idCol).cast(StringType)).as("h"))
      .orderBy(col("h"), col("id"))
      .limit(nCells)
      .select(col("id"), col("v"))
      .collect()
    require(seedRows.nonEmpty, s"ivf: corpus is empty, cannot train $nCells centroids")
    val seeds = Centroids(seedRows.zipWithIndex.map { case (r, i) =>
      val v = r.getSeq[Double](1).toArray
      (i, v, math.sqrt(v.map(x => x * x).sum))
    }.toIndexedSeq)

    val dims = seeds.cells.head._2.length
    // one Lloyd step: element-wise mean per assigned cell
    val meanCols = (0 until dims).map(d =>
      round(avg(element_at(col("v"), d + 1)), 3).as(s"m$d"))
    val means = corpus.select(vecd.as("v"))
      .withColumn("cell", seeds.assignCell(col("v")))
      .groupBy(col("cell"))
      .agg(meanCols.head, meanCols.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> (0 until dims).map(d => r.getDouble(d + 1)).toArray)
      .toMap

    Centroids(seeds.cells.map { case (i, seedVec, _) =>
      // an empty cell keeps its (rounded) seed
      val v = means.getOrElse(i, seedVec.map(x => BigDecimal(x)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
      (i, v, math.sqrt(v.map(x => x * x).sum))
    })
  }

  /** Persist / reload a trained centroid set, so a standing deployment
    * trains the IVF index ONCE and every later query run (or incremental
    * ingest assigning cells to fresh vectors) loads it — the index
    * lifecycle twin of [[graft.streaming.StreamingDedup]]'s persisted
    * state. The table is nCells rows (bounded by construction), so the
    * load-side collect is legitimate.
    */
  /** The ONE cells-write recipe every persisted index shares (plain IVF
    * and IVFADC, initial save and admission append): project to
    * (nn_id, nn_vec[, codes]), assign against the given centroids,
    * cluster by cell, partitioned write — so the four call sites can
    * never drift in layout. Reads `vec_id` and `embedding`.
    */
  private def writeCells(corpus: DataFrame, cent: Centroids,
      books: Option[PqCodebooks], dir: String, mode: String): Unit = {
    val base = corpus.select(col("vec_id").as("nn_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("nn_vec"))
    books.fold(base)(b => base.withColumn("codes", b.encode(col("nn_vec"))))
      .withColumn("cell", cent.assignCell(col("nn_vec")))
      .repartition(col("cell"))
      // id-sorted within each cell file: parquet row-group min/max on
      // nn_id becomes tight, so a candidate-id point fetch (the re-rank
      // read) can skip row groups; costs nothing on the scan paths
      .sortWithinPartitions(col("cell"), col("nn_id"))
      .write.mode(mode).partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  object IvfIndex {
    def save(c: Centroids, spark: org.apache.spark.sql.SparkSession,
        dir: String): Unit = {
      import spark.implicits._
      c.cells.map { case (i, v, _) => (i, v.toSeq) }
        .toDF("cell", "v").coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }

    def load(spark: org.apache.spark.sql.SparkSession, dir: String): Centroids =
      Centroids(spark.read.parquet(dir).collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getInt(0), v, math.sqrt(v.map(x => x * x).sum))
      }.sortBy(_._1).toIndexedSeq)

    /** Persist the FULL inverted index: the centroids plus the corpus
      * assigned to cells, PARTITIONED by cell (clustered first — one
      * data file per cell, the BatchedState write rule). This is the
      * standing-index scale path: [[Similarity.ivfTopKFromIndex]]
      * answers a query batch by reading ONLY the probed cells'
      * partitions, so per-batch scan cost is ~nprobe/nCells of the
      * corpus — the live [[Similarity.ivfTopKWithIndex]] path instead
      * re-runs the nCells-wide cell assignment over every corpus
      * vector per batch (measured at 2M vectors: assignment dominates
      * and query wall is flat in nprobe).
      */
    def saveAssigned(corpus: DataFrame, c: Centroids, dir: String): Unit = {
      save(c, corpus.sparkSession, s"$dir/centroids")
      writeCells(corpus, c, None, dir, "overwrite")
    }

    /** Append a NEW batch to a [[saveAssigned]] index: assign against
      * the SAVED centroids (never retrain — retrained centroids renumber
      * cells and would orphan every existing partition) and append the
      * batch into the cell partitions, ONE file per touched cell (rows
      * clustered by cell before the partitioned write — the BatchedState
      * write rule), leaving existing files untouched. This is the
      * standing-index lifecycle a corpus that grows daily needs:
      * admission costs |batch| cell assignments plus a key-clustered
      * append — no retrain, no rewrite, no index re-scan — and
      * [[Similarity.ivfTopKFromIndex]] answers over the union
      * immediately. Identical to rebuilding from scratch on the union
      * BY CONSTRUCTION: assignment depends only on the frozen
      * centroids, so appended rows land in exactly the cells a full
      * rebuild would give them.
      */
    def appendAssigned(batch: DataFrame, dir: String): Unit =
      writeCells(batch, load(batch.sparkSession, s"$dir/centroids"),
        None, dir, "append")
  }

  /** Top-k over a [[IvfIndex.saveAssigned]] index: load the centroids,
    * rank each query's `nprobe` cells, and scan ONLY those cells'
    * partitions (static isin partition pruning — the probed-cell set is
    * a bounded driver collect of ≤ min(nCells, |queries|·nprobe) ints).
    * Identical results to [[ivfTopKWithIndex]] on the same centroids;
    * the difference is purely physical: no per-batch corpus assignment,
    * no full-corpus scan.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val cent = IvfIndex.load(spark, s"$indexDir/centroids")
    val qExploded = queries
      .select(col("vec_id").as("query_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("q_vec"))
      .select(col("query_id"), col("q_vec"),
        explode(cent.probeCells(col("q_vec"), nprobe)).as("cell"))
    // the query batch is the bounded (broadcast) side by contract:
    // pin the exploded (query, cell) rows ONCE in executor storage, so
    // probeCells evaluates a single time (the previous shape ran it
    // twice — once for the probed-cell collect, again inside the join).
    // The partition-prune collect below moves only CELL ids (≤ nCells
    // ints), but the broadcast(q) join still materializes the q_vec
    // rows driver-side to build the broadcast relation — the
    // bounded-batch contract on query size applies to this path too;
    // the win here is the single probeCells evaluation and the
    // ids-only prune, not a vector-free driver
    val q = qExploded.localCheckpoint()
    val probed = q.select("cell").distinct().collect()
      .map(_.getInt(0)).sorted
    val cells = prunedCells(spark, s"$indexDir/cells", probed)
    val scored = cells.join(broadcast(q),
        cells("cell") === q("cell") && col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF top-k: assign each corpus vector to its nearest centroid (one
    * narrow projection pass), probe each query's `nprobe` nearest cells,
    * exact re-rank inside the probed cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWithIndex(corpus, queries, k, trainCentroids(corpus, nCells),
      nprobe)

  /** The no-train query path against an existing index (trained here or
    * loaded via [[IvfIndex.load]]).
    */
  def ivfTopKWithIndex(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Centroids, nprobe: Int = 4): DataFrame = {
    val c = corpus
      .select(col("vec_id").as("nn_id"), col("embedding").as("nn_vec"))
      .withColumn("cell", centroids.assignCell(col("nn_vec")))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .select(col("query_id"), col("q_vec"),
        explode(centroids.probeCells(col("q_vec"), nprobe)).as("cell"))

    val scored = c.join(broadcast(q),
        c("cell") === q("cell") && col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
    topKPerQuery(scored, k)
  }

  // ---- product quantization (PQ) --------------------------------------

  /** Trained PQ codebooks: `m` subspaces of `subDims` dims, one
    * deterministic [[Centroids]] book per subspace — the same seed +
    * one-Lloyd-step recipe as [[trainCentroids]] applied to each
    * subvector slice, so an oracle re-derives every book in plain SQL.
    * Seed SELECTION depends only on ids, so all books share seed rows.
    */
  final case class PqCodebooks(subDims: Int, books: IndexedSeq[Centroids])
      extends Serializable {
    def m: Int = books.size

    /** Per-subspace code assignment: `array<int>` of length m — the
      * quantized representation, `m*ceil(log2 k)` bits of information
      * per vector vs `64*dims` for raw doubles. One fused projection
      * per subspace, no shuffle.
      */
    def encode(vec: Column): Column = {
      val v = vec.cast(ArrayType(DoubleType))
      array(books.indices.map { s =>
        books(s).assignCell(slice(v, s * subDims + 1, subDims))
      }: _*)
    }
  }

  /** Persist / reload trained PQ codebooks — train ONCE, encode and
    * query forever after (the [[IvfIndex]] lifecycle for the product
    * quantizer). The table is m*k rows (bounded by construction), so
    * the load-side collect is legitimate.
    */
  object PqIndex {
    def save(b: PqCodebooks, spark: org.apache.spark.sql.SparkSession,
        dir: String): Unit = {
      import spark.implicits._
      b.books.zipWithIndex.flatMap { case (book, s) =>
        book.cells.map { case (i, v, _) => (s, b.subDims, i, v.toSeq) }
      }.toDF("subspace", "sub_dims", "cell", "v").coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }

    def load(spark: org.apache.spark.sql.SparkSession, dir: String): PqCodebooks = {
      val rows = spark.read.parquet(dir).collect()
      require(rows.nonEmpty, s"no PQ codebooks at $dir")
      val subDims = rows.head.getInt(1)
      val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        Centroids(rs.map { r =>
          val v = r.getSeq[Double](3).toArray
          (r.getInt(2), v, math.sqrt(v.map(x => x * x).sum))
        }.sortBy(_._1).toIndexedSeq)
      }
      PqCodebooks(subDims, books.toIndexedSeq)
    }
  }

  /** Train PQ codebooks (Jegou et al. 2011's product quantizer, with
    * this library's deterministic k-means-lite per subspace).
    */
  def trainPq(corpus: DataFrame, m: Int, k: Int): PqCodebooks = {
    val vecd = col("embedding").cast(ArrayType(DoubleType))
    val dims = corpus.select(size(vecd)).first().getInt(0)
    require(dims % m == 0, s"pq: $dims dims not divisible into $m subspaces")
    val subDims = dims / m
    PqCodebooks(subDims, (0 until m).map { s =>
      trainCentroids(corpus.select(col("vec_id"),
        slice(vecd, s * subDims + 1, subDims).as("__sub")), k, "vec_id", "__sub")
    }.toIndexedSeq)
  }

  /** PQ top-k with asymmetric-distance (ADC) candidate scoring: the
    * corpus is scanned as CODES ONLY (m ints per vector — the scan that
    * fits in memory at 100 TB of raw vectors), each query's
    * per-subspace lookup table of `dot(q_s, centroid)` values is built
    * once on the driver (m*k doubles — bounded), and the approximate
    * score is m array lookups + adds per (query, vector) instead of a
    * dims-wide dot product. The dot product decomposes exactly over
    * subspaces, so ADC score == dot(q, reconstruction). Top
    * `k * rerank` candidates per query come out of the bounded-heap
    * [[TopKAgg]] (shuffle = \|q\| x k x rerank rows), then the winners
    * alone are re-ranked by exact cosine against the true vectors.
    * Deterministic end-to-end (fixed-order dots, id tie-breaks) — the
    * oracle replays training, encoding, ADC and re-rank in SQL.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, kCodes: Int = 16, rerank: Int = 8): DataFrame =
    pqTopKWithBooks(corpus, queries, k, trainPq(corpus, m, kCodes), rerank)

  /** Per-query ADC lookup table: lut(s)(j) = fixed-order dot(q_s,
    * book_s[j]) over the id-sorted codebook cells — the exact arithmetic
    * the oracles replay; shared by [[pqTopKWithBooks]] and
    * [[ivfPqTopK]] so the two paths can never diverge.
    */
  private def adcLut(q: Array[Double], books: PqCodebooks): Seq[Seq[Double]] =
    books.books.indices.map { s =>
      val qs = q.slice(s * books.subDims, (s + 1) * books.subDims)
      books.books(s).cells.sortBy(_._1).map { case (_, c, _) =>
        var acc = 0.0
        var i = 0
        while (i < qs.length) { acc += qs(i) * c(i); i += 1 }
        acc
      }.toSeq
    }

  /** The cell-partitioned index scan pruned to `probed` cells — an
    * explicit empty short-circuit (zero probed cells -> zero scan),
    * never a reliance on zero-argument isin() evaluating false. Shared
    * by [[ivfTopKFromIndex]] and [[ivfPqTopK]].
    */
  private def prunedCells(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, probed: Array[Int]): DataFrame = {
    val all = spark.read.parquet(cellsDir)
    if (probed.isEmpty) all.where(lit(false))
    else all.where(col("cell").isin(probed.toIndexedSeq.map(Int.box): _*))
  }

  /** The no-train path against existing codebooks. `lutChunk` bounds
    * the literal LUTs per generate (see the scoring comment below);
    * the default is the measured codegen sweet spot — it is a physical
    * knob only, results are identical at any value. Multi-chunk batches
    * pin the encoded corpus with `localCheckpoint` (fastest, but it
    * severs lineage, so an executor lost after the pin is
    * unrecoverable).
    */
  def pqTopKWithBooks(corpus: DataFrame, queries: DataFrame, k: Int,
      books: PqCodebooks, rerank: Int = 8,
      lutChunk: Int = 100): DataFrame = {
    require(lutChunk >= 1, "lutChunk must be positive")
    val vecd = col("embedding").cast(ArrayType(DoubleType))
    // per-query ADC lookup tables, built driver-side from the bounded
    // query set. The id is cast to long BEFORE the collect so an int id
    // column (the rest of the library handles ids generically) doesn't
    // ClassCastException on getLong.
    val luts = queries
      .select(col("vec_id").cast(LongType).as("query_id"), vecd.as("q"))
      .collect().toIndexedSeq.map { r =>
        (r.getLong(0), adcLut(r.getSeq[Double](1).toArray, books))
      }
    // encode once: multi-chunk batches re-scan the code table per chunk,
    // and without the pin every chunk would re-run the m*k-dot ENCODE of
    // the whole corpus — the expensive part — instead of re-reading its
    // (cheap, materialized) output
    val codesPlan = corpus.select(col("vec_id").as("nn_id"),
      books.encode(vecd).as("codes"))
    val codes =
      if (luts.lengthCompare(lutChunk) <= 0) codesPlan
      else codesPlan.localCheckpoint()
    // ADC scoring as a joinless generate over the code scan: the luts
    // ride along as array LITERALS (the IVF centroid trick). The
    // previous broadcast-join form (`codes JOIN broadcast(luts) ON
    // query_id =!= nn_id`) planned as a BroadcastNestedLoopJoin, which
    // Spark EXCLUDES from whole-stage codegen — every (query, vector)
    // pair paid interpreted projection plus join-row construction,
    // measured 578.8 s for 100 queries x 2M vectors. Literal form:
    // 81.7 s (7.1x) at identical recall. Small query batches (the
    // serving shape) stay inside whole-stage codegen; at ~100 queries
    // the generate outgrows JVM codegen limits and Spark's interpreted
    // fallback takes over — still joinless, still 7x the join form.
    // Batches are CHUNKED at `lutChunk` queries per generate (union of
    // chunk scans): plan/codegen size is O(chunk * m * k) literals
    // regardless of batch size, so a thousand-query batch can't blow
    // past Janino method limits or driver plan memory — it pays
    // ceil(|q|/chunk) scans of the PINNED code table instead, each
    // codegen-friendly.
    def adcChunk(group: Seq[(Long, Seq[Seq[Double]])]): DataFrame = {
      val scoreRows = group.map { case (qid, lut) =>
        struct(lit(qid).as("query_id"),
          books.books.indices.map { s =>
            element_at(typedLit(lut(s)),
              element_at(col("codes"), s + 1) + 1)
          }.reduce(_ + _).as("cos")) // ADC score; named cos for TopKAgg
      }
      codes.select(col("nn_id"), explode(array(scoreRows: _*)).as("qs"))
        .select(col("qs.query_id").as("query_id"), col("nn_id"),
          col("qs.cos").as("cos"))
        .filter(col("query_id") =!= col("nn_id"))
    }
    val approx =
      if (luts.isEmpty)
        codes.select(lit(0L).as("query_id"), col("nn_id"),
          lit(0.0).as("cos")).where(lit(false))
      else luts.grouped(lutChunk).map(adcChunk).reduce(_ unionByName _)
    val candidates = topKPerQuery(approx, k * rerank)
      .select(col("query_id"), col("nn_id"))
    // exact re-rank of the bounded candidate set (query_id stays long —
    // it joins against the lut-derived candidates)
    val c = corpus.select(col("vec_id").as("nn_id"), vecd.as("nn_vec"))
    val q = queries
      .select(col("vec_id").cast(LongType).as("query_id"), vecd.as("q_vec"))
    val exact = candidates
      .join(c, Seq("nn_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
    topKPerQuery(exact, k)
  }

  // ---- IVF-PQ composition (the 100 TB serving plan) -------------------

  /** Persist the composed IVF-ADC serving index: coarse centroids, PQ
    * codebooks, and the corpus assigned to cells — partitioned by cell
    * (clustered first: one file per cell), each row carrying BOTH its PQ
    * codes (the ADC scan payload, m ints) and its full vector (the
    * exact-re-rank payload). Column pruning makes the split free: the
    * ADC stage reads (nn_id, codes) only, the re-rank stage (nn_id,
    * nn_vec) of candidates only — one table, two physical read shapes.
    * At 100 TB neither pure IVF (full vectors scanned per probed cell)
    * nor pure PQ (the ENTIRE code table scanned per batch) is the
    * serving plan; probing cells and ADC-scoring only within them is
    * the standard composition (Jegou et al. 2011's IVFADC).
    */
  object IvfPqIndex {
    def save(corpus: DataFrame, cent: Centroids, books: PqCodebooks,
        dir: String): Unit = {
      IvfIndex.save(cent, corpus.sparkSession, s"$dir/centroids")
      PqIndex.save(books, corpus.sparkSession, s"$dir/books")
      writeCells(corpus, cent, Some(books), dir, "overwrite")
    }

    /** Append a NEW batch to a [[save]]d composed index: assign + encode
      * against the FROZEN saved centroids and codebooks (retraining
      * either would renumber cells / codes and orphan everything
      * already written) and append one clustered file per touched cell
      * — [[IvfIndex.appendAssigned]]'s lifecycle for the IVFADC serving
      * index. Identical to rebuilding on the union by construction:
      * both assignment and encoding depend only on the frozen
      * centroids/books.
      */
    def append(batch: DataFrame, dir: String): Unit = {
      val spark = batch.sparkSession
      writeCells(batch, IvfIndex.load(spark, s"$dir/centroids"),
        Some(PqIndex.load(spark, s"$dir/books")), dir, "append")
    }
  }

  /** Top-k over a [[IvfPqIndex.save]] index: rank each query's `nprobe`
    * cells against the saved centroids, statically partition-prune the
    * index scan to the probed cells, ADC-score the pruned CODES against
    * per-query lookup tables, cut to `k * rerank` candidates per query
    * (bounded-heap [[TopKAgg]]), and exact-cosine re-rank the winners
    * against their true vectors — a candidate-id POINT FETCH from the
    * same pruned partitions (cell files are id-sorted, so the parquet
    * column index skips non-candidate pages of the wide vector column;
    * measured 1.25x over the plain join fetch at 2M x 512, internal
    * join-shape fallback past 65536 candidate ids).
    *
    * Physics: the LUTs ride the BROADCAST query side as DATA
    * (`array<array<double>>` — never plan literals, so plan/codegen
    * size is O(1) in query-batch size and the [[pqTopKWithBooks]]
    * literal-chunking concern doesn't arise), and the score join has a
    * real equi-key (the cell), so it plans as a codegen'd
    * BroadcastHashJoin — never the BroadcastNestedLoopJoin that cost
    * the pure-PQ path 7x before r14. Per-batch scan cost is
    * ~nprobe/nCells of the code table; ADC arithmetic is m array
    * lookups + adds per (query, row) in fixed order, so a SQL oracle
    * replays every score bit-identically.
    *
    * `maxDriverQueries` bounds per-chunk DRIVER cost, not the batch: a
    * larger batch is evaluated once, sliced into exact
    * `maxDriverQueries`-row chunks, and answered as the union of the
    * per-chunk results — identical rows to a single-batch run by
    * construction (chunks partition the query ids). Each chunk's top-k
    * (≤ `maxDriverQueries · k` rows) is MATERIALIZED before the next
    * chunk starts, so the chunk's LUT-bearing LocalRelations and
    * broadcasts drop out of the union plan as they finish — peak driver
    * residency is one in-flight chunk's vectors + LUTs plus the
    * (id, id, cos) result rows, regardless of batch size or whether the
    * caller executes the returned frame promptly.
    */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nprobe: Int = 4, rerank: Int = 8,
      maxDriverQueries: Int = 10000): DataFrame = {
    val cent = IvfIndex.load(spark, s"$indexDir/centroids")
    val books = PqIndex.load(spark, s"$indexDir/books")
    val vecd = col("embedding").cast(ArrayType(DoubleType))
    // evaluate the (possibly expensive) upstream query plan exactly ONCE;
    // the size check, the chunk slicing, and every per-chunk collect
    // below all re-read the pinned rows instead of re-running the plan
    val qBase = queries
      .select(col("vec_id").cast(LongType).as("query_id"), vecd.as("q_vec"))
      .localCheckpoint()
    val nq = qBase.count()
    if (nq <= maxDriverQueries)
      ivfPqTopKChunk(spark, indexDir, cent, books, qBase, k, nprobe, rerank)
    else {
      // the ADC LUTs are driver-built per query (~20 KB at 512 dims:
      // vector + m x k doubles), so an unbounded batch would OOM the
      // driver — chunk INTERNALLY instead of refusing: exact slice ids
      // via zipWithIndex (distributed, no global sort — row_number over
      // an unpartitioned window would single-task the whole batch), at
      // most maxDriverQueries rows localized per chunk, per-chunk top-k
      // unioned (chunks partition the query ids, so the union IS the
      // global per-query top-k). Each chunk's eager collect + broadcast
      // runs serially, so peak driver memory stays one chunk's. Batches
      // big enough to produce hundreds of chunks are past the
      // serving-batch shape this path exists for — use the distributed
      // [[ivfTopKFromIndex]]/[[lshTopK]] paths there.
      import org.apache.spark.sql.Row
      val withIdx = spark.createDataFrame(
        qBase.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
        qBase.schema.add("__idx", LongType))
      val nChunks = ((nq + maxDriverQueries - 1) / maxDriverQueries).toInt
      (0 until nChunks).map { c =>
        val slice = withIdx
          .filter(col("__idx") >= c.toLong * maxDriverQueries &&
            col("__idx") < (c + 1).toLong * maxDriverQueries)
          .select(col("query_id"), col("q_vec"))
        // materialize the chunk's top-k NOW (≤ maxDriverQueries·k rows):
        // a lazy union would retain every chunk's query-vector/LUT
        // LocalRelations until the caller executes — exactly the
        // unbounded driver residency the chunking exists to prevent
        ivfPqTopKChunk(spark, indexDir, cent, books, slice, k, nprobe,
          rerank).localCheckpoint()
      }.reduce(_ union _)
    }
  }

  /** One bounded-batch slice of [[ivfPqTopK]] — the pre-chunking body
    * verbatim, so the single-batch and chunked paths can never diverge.
    * `qSlice` is (query_id long, q_vec array&lt;double&gt;), at most
    * `maxDriverQueries` rows by the caller's construction.
    */
  private def ivfPqTopKChunk(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, cent: Centroids, books: PqCodebooks,
      qSlice: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    import spark.implicits._
    // localize the bounded query slice ONCE: probed cells and per-query
    // ADC lookup tables both derive from the same collect (probeCells
    // evaluates once; the id cast to long mirrors pqTopKWithBooks)
    val qRows = qSlice
      .select(col("query_id"), col("q_vec"),
        explode(cent.probeCells(col("q_vec"), nprobe)).as("cell"))
      .collect()
    val lutByQ: Map[Long, Seq[Seq[Double]]] =
      qRows.groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> adcLut(rs.head.getSeq[Double](1).toArray, books)
      }
    val q = qRows.toSeq
      .map(r => (r.getLong(0), r.getInt(2), lutByQ(r.getLong(0))))
      .toDF("query_id", "cell", "lut")
    val probed = qRows.map(_.getInt(2)).distinct.sorted
    // static isin prune: only probed cell directories are read
    // (PartitionFilters), empty batches short-circuit inside
    val cells = prunedCells(spark, s"$indexDir/cells", probed)
    val adcScore = books.books.indices.map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val approx = cells.select(col("nn_id"), col("cell"), col("codes")).as("c")
      .join(broadcast(q).as("q"),
        col("c.cell") === col("q.cell") && col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"), adcScore.as("cos"))
    val candidates0 = topKPerQuery(approx, k * rerank)
      .select(col("query_id"), col("nn_id"))
    // point fetch derives its id set by MATERIALIZING candidates — pin
    // them so the ADC scoring pass doesn't run a second time for the
    // re-rank join
    val candidates = candidates0.localCheckpoint()
    // exact re-rank against true vectors, read from the SAME pruned
    // partitions (every candidate lives in a probed cell by construction)
    val qv = qRows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .distinct.toDF("query_id", "q_vec")
    // point-fetch shape (the measured winner): localize the bounded
    // candidate id set (≤ |q|·k·rerank longs) and push it into the
    // vector read as a scan filter — cell files are id-sorted
    // ([[writeCells]]), so the parquet column index skips
    // non-candidate pages of the wide nn_vec column. Measured at
    // 2M x 512, 100 queries (BENCHNOTES r16): 5.8 s vs 7.3 s min for
    // the join fetch (~1.25x), identical rows. The join shape remains
    // as the internal fallback when the candidate set outgrows a sane
    // isin/InSet (> 65536 ids — a thousands-of-queries batch), where a
    // filter that large costs more in plan/predicate weight than it
    // prunes.
    val candIds = candidates.select("nn_id").distinct().collect()
      .map(_.getLong(0)).sorted
    val vecSide =
      if (candIds.length > 65536)
        cells.select(col("nn_id"), col("nn_vec"))
      else cells.select(col("nn_id"), col("nn_vec"))
        .where(if (candIds.isEmpty) lit(false)
          else col("nn_id").isin(candIds.toIndexedSeq.map(Long.box): _*))
    val exact = candidates
      .join(vecSide, Seq("nn_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("cos"))
    topKPerQuery(exact, k)
  }

  /** Embedding near-duplicate pairs among a bounded query slice (exact
    * all-pairs vs the slice) — the small-query-set verify/oracle tier.
    * Corpus-wide dedup goes through [[nearDupPairsEmbedding]], which never
    * materializes an all-pairs product.
    */
  def embeddingNearDups(corpus: DataFrame, queries: DataFrame,
      threshold: Double): DataFrame = {
    val c = corpus.select(col("vec_id").as("b"), col("embedding").as("b_vec"))
    val q = queries.select(col("vec_id").as("a"), col("embedding").as("a_vec"))
    c.join(broadcast(q), col("a") < col("b"))
      .select(col("a"), col("b"), cosine(col("a_vec"), col("b_vec")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Band-key width for an RHP-banded corpus of `n` vectors — the r14
    * scale finding made a rule instead of a caller footgun: bucket
    * occupancy per band is ~n / 2^bandBits, so the key space must GROW
    * with the corpus (like nCells ~ sqrt(n) for IVF) or buckets go
    * quadratic — 16-bit keys measured fine at 200K vectors but
    * quadratic at 2M, where 32-bit keys ran linear at identical twin
    * recall. Returns the smallest divisor of `nBits` at least
    * ceil(log2 n) + 4 (a margin of 4 ~= target occupancy 1/16),
    * capped at 32 (packed keys are longs; 2^32 buckets/band outgrows
    * any single corpus this library bands). Divisibility matters:
    * bands partition the signature, so bandBits must divide nBits.
    */
  def bandBitsFor(n: Long, nBits: Int = 384): Int = {
    require(n > 0, "corpus size must be positive")
    require(nBits > 0, "nBits must be positive")
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    val want = log2 + 4
    val divisors = (1 to math.min(32, nBits)).filter(nBits % _ == 0)
    divisors.find(_ >= want).getOrElse(divisors.last)
  }

  /** Refuse measured-quadratic band widths when the corpus size is
    * cheaply known: occupancy per band bucket is ~n / 2^bandBits, and
    * 16-bit bands measured FINE at 200K vectors (occupancy ~3) but
    * quadratic at 2M (occupancy ~30). `expectedN` is optional precisely
    * because counting the corpus isn't free — callers that know n (a
    * standing pipeline, a bench, a catalog-stat read) pass it and get
    * the guard; explicit-width callers without it see no behavior
    * change. The message points at [[bandBitsFor]], the rule that
    * derives a safe width.
    */
  private[graft] def requireBandOccupancy(bandBits: Int, nBits: Int,
      expectedN: Option[Long]): Unit = expectedN.foreach { n =>
    val occ = n.toDouble / (1L << bandBits).toDouble
    require(occ <= 16.0,
      f"bandBits=$bandBits gives ~$occ%.0f rows per band bucket at " +
        s"n=$n — measured quadratic past occupancy ~16 (16-bit bands at " +
        s"2M vectors went quadratic; 32-bit ran linear at identical " +
        s"recall); use bandBitsFor(n) (= ${bandBitsFor(n, nBits)}) or a " +
        "wider explicit bandBits")
  }

  /** Corpus-wide embedding near-duplicate pairs, the 100 TB path: the
    * same random-hyperplane signature as [[lshTopK]] buckets the corpus
    * by (band, key); candidate pairs are rows sharing any band bucket
    * (an equi-self-join — shuffle on the band key only, NEVER an
    * all-pairs product), verified with exact cosine >= threshold.
    * Returns (a, b, cos) with a < b, over `vec_id`/`embedding` frames
    * and 384-bit signatures.
    *
    * Recall is the LSH band recall (pairs whose signatures share no band
    * are missed — the standard trade; more/narrower bands raise recall).
    * Band WIDTH is the scale lever — buckets per band must track corpus
    * size to hold occupancy ~O(1): 4-bit keys (16 buckets/band) measured
    * 70x slower + executor OOM at a mere 40K-vector corpus because every
    * band collapsed into a handful of quadratic buckets; 16 bands x 12
    * bits left ~8M random-collision candidates at 40K vectors (bucket
    * occupancy ~10); the default 24 bands x 16 bits (65536 buckets/band,
    * occupancy < 1) verifies 40% faster at the same corpus with recall
    * 0.95 on +0.05-perturbed twins — more, wider bands buy back the
    * per-band recall that width alone destroys (4x16 scored below 0.5).
    * Residual skewed buckets (a boilerplate embedding cluster) are
    * handled by AQE skew-join splitting, same as the minhash path.
    * Don't hand-pick `bandBits` at scale — [[bandBitsFor]] encodes the
    * rule (key space must track corpus size: 16-bit bands measured
    * quadratic at 2M vectors, 32-bit linear at identical twin recall).
    */
  def nearDupPairsEmbedding(corpus: DataFrame, threshold: Double, dims: Int,
      bandBits: Int = 16, expectedN: Option[Long] = None): DataFrame = {
    val nBits = 384
    requireBandOccupancy(bandBits, nBits, expectedN)
    val vecs = corpus.select(col("vec_id").as("id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    // keys narrowed to int when they provably fit (bandBits <= 32 —
    // truncation is injective there, so every equality below, and
    // therefore the pair set, is unchanged): halves both the join-key
    // and prefix bytes of the band exchange (guide §2.3 narrower types).
    // The narrowing happens INSIDE the codegen'd kernel — see
    // [[graft.functions.RhpBandKeys]] for why a transform(cast) here
    // measured 6x worse
    val ksCol = graft.functions.RhpBandKeys.of(col("v"), dims, nBits,
      bandBits, intKeys = bandBits <= 32)
    val banded = explodeWithPrefix(vecs.select(col("id"), ksCol.as("ks")))

    // first-matching-band emission: a pair joins in every shared band but
    // survives only in its minimal one (codegen'd predicate), so each
    // candidate appears exactly once — no b-way-multiplied distinct().
    // Measured worthwhile HERE (16 bands -> 16x pair multiplicity dwarfs
    // the prefix carry); the 4-band simhash/8-band minhash paths
    // measured better keeping their distinct() (narrower multiplicity,
    // payload carried through the join) — don't blanket-apply.
    val candidates = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .filter(!graft.functions.SharesEarlierBand.of(
        col("l.pre"), col("r.pre"), col("l.band")))
      .select(col("l.id").as("a"), col("r.id").as("b"))

    // verify-stage prune (same shape as the minhash path): only vectors
    // appearing in some candidate pair rejoin — at a low dup rate the
    // corpus-sized vector table never reaches the verify exchange
    val candIds = candidates
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
    val vp = vecs.join(candIds, Seq("id"), "left_semi")
    candidates
      .join(vp.as("va"), col("a") === col("va.id"))
      .join(vp.as("vb"), col("b") === col("vb.id"))
      .select(col("a"), col("b"),
        cosine(col("va.v"), col("vb.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style within-cluster near-duplicate pairs (Abbas et al.
    * 2023): partition the corpus into `nCells` k-means cells (the same
    * deterministic trainer as [[ivfTopK]] — hash-sampled seeds + one
    * Lloyd step), then compare ONLY vectors sharing a cell, keeping
    * pairs with cosine >= `threshold`. Returns (a, b, cell, cos), a < b.
    *
    * Scale shape: cell assignment is a single projection argmax (no
    * join); the pair stage is an equi-self-join on the cell id, so total
    * work is sum over cells of |cell|^2 — the SemDeDup trade. `nCells`
    * is the lever: it should grow with corpus size (sqrt(n) cells keeps
    * per-cell cost flat); a skewed hot cell splits under AQE like any
    * other skewed join bucket.
    */
  def withinCellNearDupPairs(corpus: DataFrame, nCells: Int,
      threshold: Double): DataFrame = {
    val centroids = trainCentroids(corpus, nCells)
    val c = corpus.select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("cell", centroids.assignCell(col("v")))
    c.as("l").join(c.as("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.cell").as("cell"),
        cosine(col("l.v"), col("r.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Full SemDeDup: within-cell cosine near-dup pairs closed into
    * clusters with canonical-survivor selection
    * ([[Dedup.cluster]] — alternating-star connected components).
    * Returns (id, component, keep) for every corpus vector;
    * `.filter("keep")` is the semantically deduplicated corpus.
    */
  def semanticDedup(corpus: DataFrame, nCells: Int,
      threshold: Double): DataFrame = {
    val pairs = withinCellNearDupPairs(corpus, nCells, threshold)
      .select(col("a"), col("b"))
    Dedup.cluster(corpus.select(col("vec_id")), pairs, "vec_id")
  }

  /** Incremental embedding near-dup detection: a FRESH batch of vectors
    * banded against an existing REFERENCE corpus only (the embedding
    * twin of [[Dedup.nearDupsAgainstMinhash]]) — the band join is
    * two-sided, so no ref x ref or new x new pairs are ever generated
    * and admitting a batch costs |fresh| x collision rate, not a corpus
    * re-pair. Same signature/banding and first-matching-band emission as
    * [[nearDupPairsEmbedding]]; exact cosine verify. Returns
    * (ref_id, new_id, cos).
    */
  def nearDupsAgainstEmbedding(reference: DataFrame, fresh: DataFrame,
      threshold: Double, dims: Int, nBits: Int = 384, bandBits: Int = 16,
      expectedN: Option[Long] = None): DataFrame = {
    requireBandOccupancy(bandBits, nBits, expectedN)
    // both sides prep with the SAME key width (int at bandBits <= 32) —
    // the band equi-join and the prefix predicate compare them raw
    val narrow = bandBits <= 32
    val (vRef, kRef) =
      prepEmbedding(reference, dims, nBits, bandBits, "vec_id", "embedding",
        narrow)
    val (vNew, kNew) =
      prepEmbedding(fresh, dims, nBits, bandBits, "vec_id", "embedding",
        narrow)
    nearDupsPreparedEmbedding(vRef, kRef, vNew, kNew, threshold)
  }

  /** One scan-local pass over a corpus side: (vectors `(id, v)`, band
    * keys `(id, ks)`). These two narrow tables ARE the embedding dedup
    * state a standing pipeline persists
    * ([[graft.streaming.StreamingEmbeddingDedup]]) — `ks` is stored
    * packed (one row per vector), re-exploded at join time.
    *
    * `intKeys` narrows `ks` to `array<int>` (legal at bandBits <= 32,
    * value-identical equalities — see [[graft.functions.RhpBandKeys]]).
    * The default stays LONG because persisted streaming state stores
    * these rows: a standing dir's layout must not change under an
    * optimization flag. Both sides of any band join must agree.
    */
  def prepEmbedding(df: DataFrame, dims: Int, nBits: Int, bandBits: Int,
      idCol: String, vecCol: String,
      intKeys: Boolean = false): (DataFrame, DataFrame) = {
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v"))
    val keys = vecs.select(col("id"),
      graft.functions.RhpBandKeys.of(col("v"), dims, nBits, bandBits,
        intKeys).as("ks"))
    (vecs, keys)
  }

  /** The cross-corpus core of [[nearDupsAgainstEmbedding]] over prepared
    * sides (fresh from [[prepEmbedding]] or loaded from persisted
    * state). First-matching-band emission, exact cosine verify; strictly
    * (reference, fresh) pairs. Both key sides must carry the SAME `ks`
    * element width (see [[prepEmbedding]]'s `intKeys`).
    */
  def nearDupsPreparedEmbedding(vRef: DataFrame, kRef: DataFrame,
      vNew: DataFrame, kNew: DataFrame, threshold: Double): DataFrame = {
    val candidates = bandCandidatesEmbedding(kRef, kNew)
    // corpus-sized reference vectors shrink to candidate ref ids before
    // the verify join — admission cost tracks candidates, not corpus
    val refIds = candidates.select(col("ref_id").as("id")).distinct()
    verifyCosine(candidates,
      vRef.join(refIds, Seq("id"), "left_semi"), vNew, threshold)
  }

  /** Packed `(id, ks)` -> one row per band, carrying only the
    * EARLIER-band prefix (`pre = ks[0..band-1]`) past the explode: the
    * first-matching-band predicate never reads bands >= `band`, so the
    * slice halves the band exchange's dominant array payload (guide
    * §2.3 "project before the exchange" — measured on
    * dedup_embedding_lsh_b32, BENCHNOTES r19). Key WIDTH is whatever
    * `ks` carries (int under [[prepEmbedding]]'s `intKeys`); both join
    * sides must agree — [[graft.functions.SharesEarlierBand]] refuses
    * mixed widths at analysis time.
    */
  private def explodeWithPrefix(keys: DataFrame): DataFrame =
    keys.select(col("id"), col("ks"),
      posexplode(col("ks")).as(Seq("band", "key")))
      .select(col("id"), slice(col("ks"), lit(1), col("band")).as("pre"),
        col("band"), col("key"))

  /** Stage 1 of [[nearDupsPreparedEmbedding]]: (ref_id, new_id)
    * candidates from the RHP band equi-join, first-matching-band
    * emission (so no distinct is needed).
    */
  def bandCandidatesEmbedding(kRef: DataFrame, kNew: DataFrame): DataFrame =
    explodeWithPrefix(kRef).as("l").join(explodeWithPrefix(kNew).as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(!graft.functions.SharesEarlierBand.of(
        col("l.pre"), col("r.pre"), col("l.band")))
      .select(col("l.id").as("ref_id"), col("r.id").as("new_id"))

  /** The exploded-state twin of [[bandCandidatesEmbedding]]: both sides
    * arrive one-row-per-(id, band, key) — the layout a standing pipeline
    * persists bucketed by `bb = hash(band, key)` so the band join PRUNES
    * the state scan to the batch's bucket set
    * ([[graft.streaming.StreamingEmbeddingDedup]]). Without the packed
    * `ks` arrays the first-matching-band emission can't apply, so pair
    * multiplicity (one row per shared band) collapses via a distinct on
    * the candidate set — bounded by the batch's collision count, the
    * same shape as the minhash twin's [[Dedup.bandCandidates]].
    */
  def bandCandidatesEmbeddingExploded(eRef: DataFrame,
      eNew: DataFrame): DataFrame =
    eRef.as("l").join(eNew.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("ref_id"), col("r.id").as("new_id"))
      .distinct()

  /** Stage 2 of [[nearDupsPreparedEmbedding]]: exact-cosine verification
    * of candidate pairs against the two vector tables.
    */
  def verifyCosine(candidates: DataFrame, vRef: DataFrame,
      vNew: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(vRef.as("va"), col("ref_id") === col("va.id"))
      .join(vNew.as("vb"), col("new_id") === col("vb.id"))
      .select(col("ref_id"), col("new_id"),
        cosine(col("va.v"), col("vb.v")).as("cos"))
      .filter(col("cos") >= threshold)

  /** Symmetric int8 quantization of an embedding column — the standard
    * vector-store compression step (4x smaller than float32, 8x smaller
    * than the double intermediate): per-vector scale = max|x| / 127,
    * elements round to nearest int in [-127, 127] via floor(x/s + 0.5)
    * (engine-portable rounding — no banker's-rounding divergence).
    * All-zero vectors quantize to zeros with scale 0.
    *
    * A pure scan-local projection (transform/array_max inside codegen,
    * no shuffle); the deterministic arithmetic means a DuckDB oracle
    * recomputes every quantized element bit-identically.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // scale pins in its own projection: referenced from inside the
    // per-element transform lambda, the array_max subtree would be
    // copied and re-reduced per element (O(d^2) per vector)
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val pinned = df.select(col(idCol).as("id"), v.as("__v"),
      graft.functions.Once(array_max(transform(v, x => abs(x)))).as("__amax"))
    val scale = col("__amax") / 127.0
    val q = when(col("__amax") === 0.0, transform(col("__v"), _ => lit(0)))
      .otherwise(transform(col("__v"), x => floor(x / scale + 0.5).cast(IntegerType)))
    pinned.select(col("id"), scale.as("scale"), q.as("q"))
  }
}
