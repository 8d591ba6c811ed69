package graft.queries

/** DuckDB oracle SQL builders that more than one query family uses:
  * the shingle and md5-half permutation CTEs of the minhash oracles,
  * the Jaccard and cosine expressions, the IVF centroid derivation, the
  * BMP pixel regeneration and the md5 sampling bucket.
  */
private[queries] object SharedOracles {
  /** Canonical distinct word-3-gram shingles (mirrors WordShingles). */
  def shinglesCtes(src: String): String =
    s"""w AS (
       |  SELECT doc_id,
       |    string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'), ' ') AS words
       |  FROM $src),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(words) < 3
       |      THEN [array_to_string(words, ' ')]
       |      ELSE list_transform(range(1, len(words) - 1),
       |             i -> array_to_string(words[i:i+2], ' ')) END) AS s
       |  FROM w)""".stripMargin

  val jaccardExpr =
    "CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(sa.s, sb.s)))"

  /** Signed-long value of `h1 + i*h2` with 64-bit wrap, in HUGEINT —
    * bit-parity with Spark's wrapped long arithmetic.
    */
  def wrappedPerm(i: Int): String = {
    val u = s"((h1 + $i*h2) % 18446744073709551616)"
    s"($u - CASE WHEN $u >= 9223372036854775808 " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
  }

  val cosExpr =
    "CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(qv, cv) / " +
      "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END"

  /** The shared centroid-derivation CTE prefix (e … cellof): re-trains
    * the identical [[graft.operators.Similarity.trainCentroids]]
    * centroids in SQL — md5-hash-sampled seeds, one Lloyd step with
    * round(mean, 3) — then assigns every vector its cell. Consumed by
    * [[ivfOracle]] (probe + re-rank on top) and the cluster-balanced
    * sampling oracle (per-cell hash-order cap on top).
    */
  def ivfCellCtes: String = ivfCellCtesTrainedOn("e")

  /** [[ivfCellCtes]] with the TRAINING corpus (seed selection + the
    * Lloyd step) restricted to `trainRel` — a CTE name or inline
    * relation over (vec_id, v). Cell ASSIGNMENT (`ac`/`cellof`) always
    * runs over the full `e`: the standing-index admission lifecycle
    * trains once on the seed corpus and assigns later arrivals against
    * the frozen centroids ([[graft.operators.Similarity.IvfIndex
    * .appendAssigned]]).
    */
  def ivfCellCtesTrainedOn(trainRel: String): String = {
    val meanCols = (0 until 64).map(d => s"round(avg(v[${d + 1}]), 3) AS m$d")
      .mkString(",\n    ")
    val centList = (0 until 64).map(d => s"coalesce(m.m$d, round(s.v[${d + 1}], 3))")
      .mkString("[", ", ", "]")
    // Spark orders seeds by the SIGNED md5 long; md5_number_lower is
    // UBIGINT, so reinterpret before ordering
    val hSigned = "(md5_number_lower(CAST(vec_id AS VARCHAR))::HUGEINT - " +
      "CASE WHEN md5_number_lower(CAST(vec_id AS VARCHAR)) >= 9223372036854775808 " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (
       |      ORDER BY $hSigned, vec_id) - 1 AS cell, v
       |  FROM $trainRel
       |  ORDER BY $hSigned, vec_id LIMIT 16),
       |a0 AS (
       |  SELECT e.vec_id, e.v, s.cell,
       |    list_dot_product(e.v, s.v) / sqrt(list_dot_product(s.v, s.v)) AS score
       |  FROM $trainRel e CROSS JOIN seeds s),
       |b0 AS (
       |  SELECT vec_id, v, cell FROM a0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1),
       |m AS (SELECT cell,
       |    $meanCols
       |  FROM b0 GROUP BY cell),
       |cent AS (
       |  SELECT s.cell, $centList AS cv
       |  FROM seeds s LEFT JOIN m ON s.cell = m.cell),
       |ac AS (
       |  SELECT e.vec_id, e.v, c.cell,
       |    list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) AS score
       |  FROM e CROSS JOIN cent c),
       |cellof AS (
       |  SELECT vec_id, v, cell FROM ac
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1)"""
      .stripMargin
  }

  /** [[mmPixelCtes]] over an arbitrary variant list — `variants` must
    * yield (pid, asset_id, size, noisy) rows over the `ids` CTE.
    */
  def mmPixelCtesFor(variants: String): String = {
    val pow2 = (0 until 64).map(p => (BigInt(1) << p).toString)
      .mkString("[", ", ", "]")
    def lumaOf(src: String) =
      s"""(299 * ((base * 7 + 23) % 256) + 587 * ((base * 3 + 11) % 256)
         |      + 114 * (base % 256)) // 1000 AS luma FROM $src""".stripMargin
    val noiseCase =
      """CASE WHEN noisy = 1 AND xx = 1 AND yy = 2 THEN 40
        |      WHEN noisy = 1 AND xx = 5 AND yy = 6 THEN 60
        |      ELSE 0 END""".stripMargin
    s"""ids AS (SELECT doc_id AS pid FROM documents WHERE doc_id < 300),
       |a AS ($variants),
       |px AS (
       |  SELECT asset_id, size, pid, noisy,
       |    unnest(generate_series(0, size * size - 1)) AS p
       |  FROM a),
       |cell AS (
       |  SELECT asset_id, pid, noisy,
       |    (((p % size) * 8) // size) AS xx, (((p // size) * 8) // size) AS yy
       |  FROM px),
       |basep AS (
       |  SELECT asset_id,
       |    pid * 31 + yy * 19 + xx * 7 + $noiseCase AS base
       |  FROM cell),
       |lum AS (SELECT asset_id,
       |    ${lumaOf("basep")}),
       |gp AS (
       |  SELECT asset_id, size, pid, noisy,
       |    unnest(generate_series(0, 71)) AS g
       |  FROM a),
       |gc AS (
       |  SELECT asset_id, pid, noisy, (g % 9) AS i, (g // 9) AS j,
       |    (((((g % 9) * size) // 9) * 8) // size) AS xx,
       |    (((((g // 9) * size) // 8) * 8) // size) AS yy
       |  FROM gp),
       |gb AS (
       |  SELECT asset_id, i, j,
       |    pid * 31 + yy * 19 + xx * 7 + $noiseCase AS base
       |  FROM gc),
       |gl AS (SELECT asset_id, i, j,
       |    ${lumaOf("gb")}),
       |bits AS (
       |  SELECT l.asset_id, l.j * 8 + l.i AS bp,
       |    CASE WHEN l.luma > r.luma THEN 1 ELSE 0 END AS bit
       |  FROM gl l JOIN gl r
       |    ON l.asset_id = r.asset_id AND l.j = r.j AND r.i = l.i + 1
       |  WHERE l.i < 8),
       |hs AS (
       |  SELECT asset_id,
       |    CAST(SUM(CASE WHEN bit = 1 THEN ($pow2::UBIGINT[])[bp + 1]
       |             ELSE 0::UBIGINT END) AS UBIGINT) AS dh
       |  FROM bits GROUP BY asset_id)""".stripMargin
  }

  /** Non-negative md5 bucket — mirrors [[Sampling.hashBucket]]: top 63
    * bits of md5-lower (unsigned right shift) mod 10000.
    */
  def bucketExpr: String =
    "((md5_number_lower(CAST(doc_id AS VARCHAR)) >> 1) % 10000)"
}
