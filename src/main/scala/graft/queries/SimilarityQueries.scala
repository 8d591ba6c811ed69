package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Similarity, TextAnalysis}

/** Vector and lexical retrieval over `embeddings`/`documents`:
  * brute-force, LSH, IVF, PQ and IVF-PQ top-k (trained in-query or
  * through a persisted index), quantization, SemDeDup, hard negatives,
  * BM25, hybrid RRF and PageRank. Plane and centroid derivations are
  * deterministic, so every oracle re-trains the index in SQL.
  */
object SimilarityQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- brute-force cosine top-k ----------------------------------------
    Query("sim_topk_bruteforce",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos0
        |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id != q.vec_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, nn_id) AS INT) AS rank,
        |  nn_id, round(cos0, 6) AS cos
        |FROM scored QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 5)
        .transform(ranked)
    },

    // --- LSH-bucketed top-k (oracle recomputes bands from plane literals) -
    Query("sim_topk_lsh", lshOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), k = 5, dims = 64)
        .transform(ranked)
    },

    // --- IVF-cell top-k (oracle re-trains the same centroids in SQL) -----
    Query("sim_topk_ivf", ivfOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), k = 5,
          nCells = 16, nprobe = 4)
        .transform(ranked)
    },

    // --- PQ/ADC top-k (oracle re-trains all eight subspace codebooks,
    //     re-encodes, replays the ADC lookup scoring and the exact
    //     re-rank in SQL) --------------------------------------------------
    Query("sim_topk_pq", pqOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 20), k = 5,
          m = 8, kCodes = 16, rerank = 8)
        .transform(ranked)
    },

    // --- the persisted-index SERVING paths under oracle: train once,
    //     save, LOAD, and answer with the loaded index (ivfTopKWithIndex
    //     / pqTopKWithBooks — no retraining on the query path). Training
    //     is deterministic, so the oracle re-derives the exact persisted
    //     centroids/codebooks from the base table and must match the
    //     round-tripped index hash-for-hash ----------------------------
    Query("sim_topk_ivf_indexed",
      // the indexed twins answer from the SAVED + RELOADED index; training
      // is deterministic, so the oracle recomputation is the same SQL —
      // and the persisted-inverted-list twin reads identical rows from
      // the cell-partitioned files, so it shares it too
      ivfOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val idxDir = Scratch.dir("ivf_index", dir)
      Similarity.IvfIndex.save(Similarity.trainCentroids(e, nCells = 16), s, idxDir)
      val loaded = Similarity.IvfIndex.load(s, idxDir)
      Similarity.ivfTopKWithIndex(e, e.filter(col("vec_id") < 20), k = 5,
          loaded, nprobe = 4)
        .transform(ranked)
    },

    // --- the persisted-inverted-list twin: the corpus is written out
    //     assigned + partitioned by cell, and the query batch scans
    //     ONLY its probed cells' partitions (static isin partition
    //     prune) — no per-batch corpus re-assignment. Same centroids,
    //     same results as sim_topk_ivf; different physics -------------
    Query("sim_topk_ivf_persisted", ivfOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val idxDir = Scratch.dir("ivf_inv_index", dir)
      Similarity.IvfIndex.saveAssigned(e,
        Similarity.trainCentroids(e, nCells = 16), idxDir)
      Similarity.ivfTopKFromIndex(s, idxDir, e.filter(col("vec_id") < 20),
          k = 5, nprobe = 4)
        .transform(ranked)
    },

    Query("sim_topk_pq_indexed", pqOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val idxDir = Scratch.dir("pq_index", dir)
      Similarity.PqIndex.save(Similarity.trainPq(e, m = 8, k = 16), s, idxDir)
      val books = Similarity.PqIndex.load(s, idxDir)
      Similarity.pqTopKWithBooks(e, e.filter(col("vec_id") < 20), k = 5,
          books, rerank = 8)
        .transform(ranked)
    },

    // --- the standing-index ADMISSION lifecycle: the index is built on
    //     the even-id half only (train + saveAssigned), the odd half is
    //     APPENDED against the frozen centroids (no retrain, no rewrite
    //     — one new file per touched cell), and the query path answers
    //     over the union. The oracle trains its centroids on the even
    //     half and assigns the union — exactly what appendAssigned must
    //     reproduce ------------------------------------------------------
    Query("sim_topk_ivf_appended",
      // append-after-save answers == rebuild-on-union under frozen
      // centroids (trained on the even half, assignment over the union)
      ivfAppendedOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val seedHalf = e.filter(col("vec_id") % 2 === 0)
      val fresh = e.filter(col("vec_id") % 2 =!= 0)
      val idxDir = Scratch.dir("ivf_app_index", dir)
      Similarity.IvfIndex.saveAssigned(seedHalf,
        Similarity.trainCentroids(seedHalf, nCells = 16), idxDir)
      Similarity.IvfIndex.appendAssigned(fresh, idxDir)
      Similarity.ivfTopKFromIndex(s, idxDir, e.filter(col("vec_id") < 20),
          k = 5, nprobe = 4)
        .transform(ranked)
    },

    // --- the IVF-PQ serving composition (IVFADC): probe cells from the
    //     persisted index, ADC-score CODES within probed cells only
    //     (LUTs as broadcast DATA on a cell equi-join — codegen'd BHJ,
    //     plan size O(1) in batch size), exact re-rank from the same
    //     pruned partitions. The oracle composes the deterministic IVF
    //     cell derivation with the PQ codebook derivation ---------------
    Query("sim_topk_ivfpq", ivfPqOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val idxDir = Scratch.dir("ivfpq_index", dir)
      Similarity.IvfPqIndex.save(e,
        Similarity.trainCentroids(e, nCells = 16),
        Similarity.trainPq(e, m = 8, k = 16), idxDir)
      Similarity.ivfPqTopK(s, idxDir, e.filter(col("vec_id") < 20),
          k = 5, nprobe = 4, rerank = 8)
        .transform(ranked)
    },

    // --- the composed-index ADMISSION lifecycle: the IVFADC index is
    //     built on the even-id half (centroids AND codebooks trained
    //     there), the odd half is APPENDED against both frozen artifacts
    //     (assign + encode, one new file per touched cell), and the
    //     serving path answers over the union ------------------------
    Query("sim_topk_ivfpq_appended",
      // append-after-save answers == rebuild-on-union under the frozen
      // even-half-trained centroids AND codebooks
      ivfPqAppendedOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val seedHalf = e.filter(col("vec_id") % 2 === 0)
      val fresh = e.filter(col("vec_id") % 2 =!= 0)
      val idxDir = Scratch.dir("ivfpq_app_index", dir)
      Similarity.IvfPqIndex.save(seedHalf,
        Similarity.trainCentroids(seedHalf, nCells = 16),
        Similarity.trainPq(seedHalf, m = 8, k = 16), idxDir)
      Similarity.IvfPqIndex.append(fresh, idxDir)
      Similarity.ivfPqTopK(s, idxDir, e.filter(col("vec_id") < 20),
          k = 5, nprobe = 4, rerank = 8)
        .transform(ranked)
    },

    // --- int8 embedding quantization (vector-store compression): the
    //     oracle recomputes every quantized element, compared through
    //     exact integer aggregates --------------------------------------
    Query("sim_quantize_int8",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS am FROM v),
        |q AS (SELECT id, am / 127.0 AS scale,
        |    CASE WHEN am = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(floor(x / (am / 127.0) + 0.5) AS INT))
        |    END AS q
        |  FROM s)
        |SELECT id, round(scale, 6) AS scale,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_min(q) AS INT) AS q_min,
        |  CAST(list_max(q) AS INT) AS q_max
        |FROM q ORDER BY id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.quantizeInt8(e)
        .select(col("id"), round(col("scale"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"))
        .orderBy(col("id"))
    },

    // --- SemDeDup: k-means cells (deterministic trainer) -> within-cell
    //     cosine pairs -> clusters + canonical survivors; the oracle
    //     re-trains the identical centroids AND recomputes the closure --
    Query("sim_semdedup", semdedupOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val corpus = e.union(Fixtures.nudged(e))
      Similarity.semanticDedup(corpus, nCells = 16, threshold = 0.75)
        .orderBy(col("id"))
    },

    // --- BM25 lexical top-k (scan-local literal-term scoring; corpus
    //     stats reduce to one broadcast row) -----------------------------
    Query("text_bm25", bm25Oracle(bm25Terms, 20)) { (s, dir) =>
      TextAnalysis.bm25TopK(Tables(s, dir).documents, "doc_id", "text",
          terms = bm25Terms, k = 20)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("id"))
    },

    // --- hard-negative mining: per query, top-5 corpus vectors inside
    //     the [0.3, 0.9) cosine band (similar-but-not-duplicate) --------
    Query("sim_hard_negatives",
      // the brute-force oracle with the cosine band applied before ranking
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos0
        |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id != q.vec_id),
        |banded AS (
        |  SELECT * FROM scored WHERE cos0 >= 0.3 AND cos0 < 0.9)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, nn_id) AS INT) AS rank,
        |  nn_id, round(cos0, 6) AS cos
        |FROM banded QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      Similarity.hardNegativesTopK(e, e.filter(col("vec_id") < 20), k = 5,
          loCos = 0.3, hiCos = 0.9)
        .transform(ranked)
    },

    // --- integer PageRank over a lineitem-derived link graph (5 exact
    //     scaled-integer iterations; oracle unrolls the same rounds) ----
    Query("graph_pagerank", pageRankOracle(5)) { (s, dir) =>
      val l = Tables(s, dir).lineitem
      val edges = l.select((col("l_orderkey") % 500).as("src"),
        (col("l_partkey") % 500).as("dst"))
      graft.operators.Graph.pageRank(edges, iterations = 5)
        .orderBy(col("node"))
    },

    // --- hybrid retrieval: RRF fusion of the BM25 lexical pool and the
    //     dense cosine pool around doc 7's embedding --------------------
    Query("text_hybrid_rrf", hybridOracle(bm25Terms, queryVecId = 7L, k = 20,
      poolK = 50, kRrf = 60)) { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Retrieval.hybridTopK(t.documents, "doc_id", "text",
          terms = bm25Terms, embeddings = t.embeddings, queryVecId = 7L,
          k = 20, poolK = 50)
        .select(col("id").as("doc_id"), col("lex_rank"), col("dense_rank"),
          col("rrf"), col("rank"))
        .orderBy(col("doc_id"))
    }
  )

  /** The fixed query bag for the BM25 entry (all present in the synthetic
    * vocabulary with distinct document frequencies).
    */
  private lazy val bm25Terms = Seq("spark", "join", "window", "vector")

  /** Random-hyperplane LSH recomputation: the 16 plane literals are the
    * exact doubles the Spark plan embeds (same splitmix64 derivation).
    */
  private def lshOracle: String = {
    // multi-probe: the corpus key matches the query key OR any 1-bit flip
    // of it — the identical probe set the Spark side explodes
    val bandEq = (0 until 4).map { b =>
      val probes = (s"q.k$b" +: (0 until 4).map(r => s"xor(q.k$b, ${1 << r})"))
        .mkString(", ")
      s"c.k$b IN ($probes)"
    }.mkString("\n      OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${rhpBandCtes(4, 4, keep = " v,")},
       |cd AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id, q.v AS qv, c.v AS cv
       |  FROM bd q JOIN bd c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
       |    AND ($bandEq)),
       |sc AS (SELECT query_id, nn_id, $cosExpr AS cos0 FROM cd)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, nn_id) AS INT) AS rank,
       |  nn_id, round(cos0, 6) AS cos
       |FROM sc QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** IVF recomputation: the [[ivfCellCtes]] centroids + cell
    * assignment, then probes 4 cells per query and re-ranks exactly.
    */
  private def ivfOracle: String = ivfOracleTail(ivfCellCtes)

  /** The appended-index oracle: centroids train on the EVEN-id half
    * (the seed corpus the index was built from), assignment covers the
    * union — what [[graft.operators.Similarity.IvfIndex.appendAssigned]]
    * must reproduce file-for-file.
    */
  private def ivfAppendedOracle: String = ivfOracleTail(
    ivfCellCtesTrainedOn("(SELECT vec_id, v FROM e WHERE vec_id % 2 = 0)"))

  private def ivfOracleTail(ctes: String): String = {
    s"""$ctes,
       |probes AS (
       |  SELECT vec_id AS query_id, v AS qv, cell FROM ac WHERE vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) <= 4),
       |sc AS (
       |  SELECT p.query_id, k.vec_id AS nn_id, p.qv, k.v AS cv
       |  FROM probes p JOIN cellof k ON p.cell = k.cell AND k.vec_id <> p.query_id),
       |scored AS (SELECT query_id, nn_id, $cosExpr AS cos0 FROM sc)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, nn_id) AS INT) AS rank,
       |  nn_id, round(cos0, 6) AS cos
       |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** PQ/ADC oracle: per-subspace codebook training (the ivfOracle
    * recipe over each 8-dim slice — seed rows are id-selected, so all
    * eight subspaces share them), per-subspace code assignment, the ADC
    * approximate score as a sum of subspace dot products against the
    * coded centroids (exactly what the Spark side's per-query lookup
    * tables compute), top-(k*rerank = 40) candidate cut, exact-cosine
    * re-rank to 5. All sizes derive from the m/sub/kCodes vals below —
    * keep them equal to the sim_topk_pq call's m/kCodes/rerank.
    */
  private def pqOracle: String = {
    val m = 8; val sub = 8; val kCodes = 16
    def lo(s: Int) = s * sub + 1
    def hi(s: Int) = (s + 1) * sub
    val adcScore = (0 until m)
      .map(s => s"list_dot_product(q.qv[${lo(s)}:${hi(s)}], c$s.cv)")
      .mkString(" + ")
    val codeJoins = (0 until m)
      .map(s => s"JOIN code$s k$s ON k$s.vec_id = e.vec_id " +
        s"JOIN cent$s c$s ON c$s.cell = k$s.code")
      .mkString("\n  ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY $signedVecIdMd5, vec_id) - 1 AS cell, v
       |  FROM e ORDER BY $signedVecIdMd5, vec_id LIMIT $kCodes),
       |${pqSubspaceCtes("e")},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
       |approx AS (
       |  SELECT q.query_id, e.vec_id AS nn_id, ($adcScore) AS ascore
       |  FROM q CROSS JOIN e
       |  $codeJoins
       |  WHERE e.vec_id <> q.query_id),
       |cand AS (
       |  SELECT query_id, nn_id FROM approx
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY ascore DESC, nn_id) <= 40),
       |sc AS (
       |  SELECT cand.query_id, cand.nn_id, q.qv, e.v AS cv
       |  FROM cand JOIN q ON q.query_id = cand.query_id
       |  JOIN e ON e.vec_id = cand.nn_id),
       |scored AS (SELECT query_id, nn_id, $cosExpr AS cos0 FROM sc)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, nn_id) AS INT) AS rank,
       |  nn_id, round(cos0, 6) AS cos
       |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** The IVF-PQ (IVFADC) composed oracle: the [[ivfCellCtes]] coarse
    * tier (renamed `ia../icent/iac/cellof` to avoid CTE collisions) for
    * cell assignment + per-query probes, the [[pqOracle]] per-subspace
    * codebook/code derivation verbatim, then ADC scoring RESTRICTED to
    * each query's probed cells, the k*rerank candidate cut, and exact
    * re-rank — the SQL twin of
    * [[graft.operators.Similarity.ivfPqTopK]]. nCells == kCodes == 16
    * here, so the coarse and subspace tiers share the `seeds` CTE
    * (seed selection depends only on ids).
    */
  private def ivfPqOracle: String = ivfPqOracleTrainedOn("e")

  /** The appended composed-index oracle: coarse centroids AND subspace
    * codebooks train on the even-id half (the seed corpus the index was
    * built from), assignment/encoding cover the union — what
    * [[graft.operators.Similarity.IvfPqIndex.append]] must reproduce.
    */
  private def ivfPqAppendedOracle: String = ivfPqOracleTrainedOn(
    "(SELECT vec_id, v FROM e WHERE vec_id % 2 = 0)")

  private def ivfPqOracleTrainedOn(trainRel: String): String = {
    val m = 8; val sub = 8; val kCodes = 16
    def lo(s: Int) = s * sub + 1
    def hi(s: Int) = (s + 1) * sub
    val adcScore = (0 until m)
      .map(s => s"list_dot_product(p.qv[${lo(s)}:${hi(s)}], c$s.cv)")
      .mkString(" + ")
    val codeJoins = (0 until m)
      .map(s => s"JOIN code$s k$s ON k$s.vec_id = k.vec_id " +
        s"JOIN cent$s c$s ON c$s.cell = k$s.code")
      .mkString("\n  ")
    val iMeanCols = (0 until 64).map(d => s"round(avg(v[${d + 1}]), 3) AS im$d")
      .mkString(",\n    ")
    val iCentList = (0 until 64).map(d => s"coalesce(m.im$d, round(s.v[${d + 1}], 3))")
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY $signedVecIdMd5, vec_id) - 1 AS cell, v
       |  FROM $trainRel ORDER BY $signedVecIdMd5, vec_id LIMIT $kCodes),
       |ia AS (
       |  SELECT e.vec_id, e.v, s.cell,
       |    list_dot_product(e.v, s.v) / sqrt(list_dot_product(s.v, s.v)) AS score
       |  FROM $trainRel e CROSS JOIN seeds s),
       |ib AS (
       |  SELECT vec_id, v, cell FROM ia
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1),
       |im AS (SELECT cell,
       |    $iMeanCols
       |  FROM ib GROUP BY cell),
       |icent AS (
       |  SELECT s.cell, $iCentList AS cv
       |  FROM seeds s LEFT JOIN im m ON s.cell = m.cell),
       |iac AS (
       |  SELECT e.vec_id, e.v, c.cell,
       |    list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) AS score
       |  FROM e CROSS JOIN icent c),
       |cellof AS (
       |  SELECT vec_id, v, cell FROM iac
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, v AS qv, cell FROM iac WHERE vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) <= 4),
       |${pqSubspaceCtes(s"$trainRel e")},
       |approx AS (
       |  SELECT p.query_id, k.vec_id AS nn_id, ($adcScore) AS ascore
       |  FROM probes p JOIN cellof k ON p.cell = k.cell AND k.vec_id <> p.query_id
       |  $codeJoins),
       |cand AS (
       |  SELECT query_id, nn_id FROM approx
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY ascore DESC, nn_id) <= 40),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
       |sc AS (
       |  SELECT cand.query_id, cand.nn_id, q.qv, e.v AS cv
       |  FROM cand JOIN q ON q.query_id = cand.query_id
       |  JOIN e ON e.vec_id = cand.nn_id),
       |scored AS (SELECT query_id, nn_id, $cosExpr AS cos0 FROM sc)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, nn_id) AS INT) AS rank,
       |  nn_id, round(cos0, 6) AS cos
       |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** SemDeDup recomputation: re-trains the identical 16 centroids over
    * the planted-twin corpus (hash-sampled seeds + one Lloyd step, as in
    * [[ivfOracle]]), assigns cells, emits within-cell cosine pairs and
    * closes them into components with a recursive transitive closure.
    */
  private def semdedupOracle: String =
    s"""WITH RECURSIVE $vecTwinCtes,
       |${ivfCentroidCtes("e", "e", "e")},
       |pr AS (
       |  SELECT l.vec_id AS a, r.vec_id AS b, l.v AS qv, r.v AS cv
       |  FROM cellof l JOIN cellof r ON l.cell = r.cell AND l.vec_id < r.vec_id),
       |p AS (
       |  SELECT a, b FROM (SELECT a, b, $cosExpr AS cos0 FROM pr)
       |  WHERE cos0 >= 0.75),
       |und AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
       |reach(id, r) AS (
       |  SELECT u, u FROM und
       |  UNION
       |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |ids AS (SELECT vec_id AS id FROM e)
       |SELECT i.id, coalesce(comp.component, i.id) AS component,
       |  i.id = coalesce(comp.component, i.id) AS keep
       |FROM ids i LEFT JOIN comp ON i.id = comp.id
       |ORDER BY i.id""".stripMargin

  /** BM25 recomputation: identical literal-scan term frequencies (the
    * replace-length trick), one stats row, the same fixed-order float
    * arithmetic (constants embedded as the exact runtime doubles).
    */
  private def bm25Oracle(terms: Seq[String], k: Int): String =
    s"""WITH ${bm25Ctes(terms, "scored")},
       |topk AS (
       |  SELECT id, score FROM scored WHERE score > 0
       |  ORDER BY score DESC, id LIMIT $k)
       |SELECT id, round(score, 6) AS score FROM topk ORDER BY id""".stripMargin

  /** RRF hybrid-search oracle: the BM25 pool CTEs (same arithmetic as
    * [[bm25Oracle]]), the dense cosine pool (same arithmetic as the
    * brute-force oracle), reciprocal-rank fusion with the identical
    * two-term sum order.
    */
  private def hybridOracle(terms: Seq[String], queryVecId: Long, k: Int,
      poolK: Int, kRrf: Int): String =
    s"""WITH ${bm25Ctes(terms, "lexscored")},
       |lexpool AS (
       |  SELECT id, score FROM lexscored WHERE score > 0
       |  ORDER BY score DESC, id LIMIT $poolK),
       |lex AS (
       |  SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS INT) AS lex_rank
       |  FROM lexpool),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dscored AS (
       |  SELECT cv.vec_id AS id,
       |    list_dot_product(q.v, cv.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos0
       |  FROM e q JOIN e cv ON q.vec_id = $queryVecId AND cv.vec_id != q.vec_id),
       |dense AS (
       |  SELECT id, CAST(row_number() OVER (ORDER BY cos0 DESC, id) AS INT) AS dense_rank
       |  FROM dscored QUALIFY dense_rank <= $poolK),
       |fused AS (
       |  SELECT coalesce(l.id, d.id) AS doc_id, l.lex_rank, d.dense_rank,
       |    coalesce(1.0 / ($kRrf + l.lex_rank), 0.0)
       |      + coalesce(1.0 / ($kRrf + d.dense_rank), 0.0) AS rrf
       |  FROM lex l FULL JOIN dense d ON l.id = d.id),
       |topk AS (
       |  SELECT doc_id, lex_rank, dense_rank, rrf FROM fused
       |  ORDER BY rrf DESC, doc_id LIMIT $k)
       |SELECT doc_id, lex_rank, dense_rank, round(rrf, 6) AS rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
       |FROM topk ORDER BY doc_id""".stripMargin

  /** Integer-PageRank oracle: the 5 update rounds unrolled as CTEs (the
    * [[graft.operators.TextAnalysis.bpeTrain]] oracle recipe) — every
    * operation is BIGINT multiplication / integer division, so both
    * engines produce identical ranks regardless of summation order.
    */
  private def pageRankOracle(iters: Int): String = {
    val scale = "1000000000000"
    def round(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (
         |  SELECT nd.node,
         |    (SELECT b FROM base) + (coalesce(c.s, 0) * 85) // 100 AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // d.deg) AS s
         |    FROM e JOIN deg d ON e.src = d.src JOIN $prev r ON e.src = r.node
         |    GROUP BY 1) c ON nd.node = c.node)"""
    }
    s"""WITH e AS (
       |  SELECT DISTINCT l_orderkey % 500 AS src,
       |    CAST(l_partkey AS BIGINT) % 500 AS dst
       |  FROM lineitem),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |st AS (SELECT count(*) AS n FROM nodes),
       |base AS (SELECT (($scale * 15) // 100) // n AS b FROM st),
       |r0 AS (SELECT node, $scale // n AS rank FROM nodes, st),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT node, CAST(rank AS BIGINT) AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** The top-5 rows' compare surface, by query and rank. */
  private def ranked(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("rank"), col("nn_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))

  /** The BM25 CTEs up to `scored(id, score)`: identical literal-scan
    * term frequencies (the replace-length trick), one stats row, the
    * same fixed-order float arithmetic (k1 = 1.2, b = 0.75, embedded as
    * the exact runtime doubles).
    */
  private def bm25Ctes(terms: Seq[String], scored: String): String = {
    val (k1, b) = (1.2, 0.75)
    def tf(tm: String) =
      s"CAST((length(' ' || t || ' ') - length(replace(' ' || t || ' ', ' $tm ', ''))) // ${tm.length + 2} AS BIGINT)"
    val tfCols = terms.zipWithIndex.map { case (tm, i) => s"${tf(tm)} AS tf$i" }
      .mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    val avgdl = "(CAST(tl AS DOUBLE) / CAST(n AS DOUBLE))"
    val score = terms.indices.map { i =>
      val tfD = s"CAST(tf$i AS DOUBLE)"
      val dfD = s"CAST(df$i AS DOUBLE)"
      s"ln(1.0 + (CAST(n AS DOUBLE) - $dfD + 0.5) / ($dfD + 0.5)) * " +
        s"($tfD * ${k1 + 1.0}) / ($tfD + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE) / $avgdl))"
    }.mkString("\n    + ")
    s"""c AS (
       |  SELECT doc_id AS id,
       |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |tfs AS (
       |  SELECT id, t,
       |    CASE WHEN t = '' THEN 0 ELSE len(string_split(t, ' ')) END AS dl,
       |    $tfCols
       |  FROM c),
       |stats AS (
       |  SELECT COUNT(*) AS n, SUM(dl) AS tl,
       |    $dfCols
       |  FROM tfs),
       |$scored AS (
       |  SELECT id,
       |    $score AS score
       |  FROM tfs CROSS JOIN stats)""".stripMargin
  }

  /** The eight 8-dim subspace codebooks over `e(vec_id, v)` (`a<s>` ..
    * `code<s>`): trained from the shared `seeds` over `trainItem` (a FROM
    * item aliased `e`), then every row of `e` coded.
    */
  private def pqSubspaceCtes(trainItem: String): String = {
    val m = 8; val sub = 8
    def lo(s: Int) = s * sub + 1
    def hi(s: Int) = (s + 1) * sub
    (0 until m).map { s =>
      val meanCols = (0 until sub).map(d => s"round(avg(sv[${d + 1}]), 3) AS m$d")
        .mkString(", ")
      val centList = (0 until sub).map(d => s"coalesce(m.m$d, round(s.v[${lo(s) + d}], 3))")
        .mkString("[", ", ", "]")
      s"""a$s AS (
         |  SELECT e.vec_id, e.v[${lo(s)}:${hi(s)}] AS sv, s.cell,
         |    list_dot_product(e.v[${lo(s)}:${hi(s)}], s.v[${lo(s)}:${hi(s)}]) /
         |      sqrt(list_dot_product(s.v[${lo(s)}:${hi(s)}], s.v[${lo(s)}:${hi(s)}])) AS score
         |  FROM $trainItem CROSS JOIN seeds s),
         |b$s AS (
         |  SELECT vec_id, sv, cell FROM a$s
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1),
         |m$s AS (SELECT cell, $meanCols FROM b$s GROUP BY cell),
         |cent$s AS (
         |  SELECT s.cell, $centList AS cv
         |  FROM seeds s LEFT JOIN m$s m ON s.cell = m.cell),
         |code$s AS (
         |  SELECT e.vec_id, c.cell AS code
         |  FROM e CROSS JOIN cent$s c
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
         |    list_dot_product(e.v[${lo(s)}:${hi(s)}], c.cv) /
         |      sqrt(list_dot_product(c.cv, c.cv)) DESC, c.cell) = 1)""".stripMargin
    }.mkString(",\n")
  }
}
