package graft.queries

import graft.operators.{Similarity, TextAnalysis}

/** DuckDB oracle SQL builders that more than one query family uses:
  * the planted-twin corpora, the canonical text forms, the shingle,
  * minhash-signature and 8-gram CTEs, the random-hyperplane bands, the
  * 16-bit Hamming bands, the Jaccard and cosine expressions, the IVF
  * centroid derivation, the funnel-step and HLL-register CTEs, the
  * stopword, language and Gopher terms of the curation oracles, the BMP
  * pixel regeneration and the md5 sampling bucket. Each returns plain
  * SQL text (no stripMargin left to apply).
  */
private[queries] object SharedOracles {
  /** The planted-twin corpus: every document again at `doc_id + 1000000`
    * (`as` aliases the shifted id, e.g. " AS doc_id").
    */
  def twinCorpusCte(cols: String = "text", as: String = ""): String =
    s"""corpus AS (
       |  SELECT doc_id, $cols FROM documents
       |  UNION ALL SELECT doc_id + 1000000$as, $cols FROM documents)""".stripMargin

  /** The embedding twin corpus: `base` (every vector as DOUBLE[]) and
    * `e` (base plus its +0.05-perturbed twin at `vec_id + 1000000`).
    */
  val vecTwinCtes: String =
    """base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |e AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(v, x -> x + 0.05) AS v FROM base)""".stripMargin

  /** Canonical text (mirrors TextAnalysis.canon): lower, trimmed, final
    * sigma and dotted-i folded, whitespace runs collapsed.
    */
  def canon(c: String): String =
    s"regexp_replace(replace(replace(lower(trim($c)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g')"

  /** The canonical word list of `text`. */
  val canonWords: String = s"string_split(${canon("text")}, ' ')"

  /** Distinct-able word-8-gram list of the word list `w` (the whole text
    * when it is shorter than 8 words).
    */
  def gram8(w: String): String =
    s"""CASE WHEN len($w) < 8 THEN [array_to_string($w, ' ')]
       |    ELSE list_transform(range(1, len($w) - 6),
       |           i -> array_to_string($w[i:i+7], ' ')) END""".stripMargin

  /** Canonical distinct word-3-gram shingles (mirrors WordShingles). */
  def shinglesCtes(src: String): String =
    s"""w AS (
       |  SELECT doc_id,
       |    $canonWords AS words
       |  FROM $src),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(words) < 3
       |      THEN [array_to_string(words, ' ')]
       |      ELSE list_transform(range(1, len(words) - 1),
       |             i -> array_to_string(words[i:i+2], ' ')) END) AS s
       |  FROM w)""".stripMargin

  /** md5-half permutation signatures over [[shinglesCtes]]' `sh`: `hs`,
    * `hv` and `sig(doc_id, m0..m31)`.
    */
  def minhashSigCtes: String = {
    val sigCols = (0 until 32).map(i => s"MIN(${wrappedPerm(i)}) AS m$i")
      .mkString(",\n    ")
    s"""hs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
       |hv AS (SELECT doc_id,
       |    md5_number_lower(sg)::HUGEINT AS h1,
       |    md5_number_upper(sg)::HUGEINT AS h2 FROM hs),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM hv GROUP BY doc_id)""".stripMargin
  }

  /** 8 bands of 4 rows: some band of `sig` rows x and y is equal. */
  val minhashBandEq: String = (0 until 8).map { b =>
    (0 until 4).map(r => s"x.m${b * 4 + r} = y.m${b * 4 + r}")
      .mkString("(", " AND ", ")")
  }.mkString("\n      OR ")

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

  /** Random-hyperplane LSH over `e(vec_id, v)`: `sg` holds one sign bit
    * per plane (the exact plane literals the Spark plan embeds), `bd` one
    * key per band of `rows` bits; `keep` adds columns to `bd`.
    */
  def rhpBandCtes(bands: Int, rows: Int, keep: String = ""): String = {
    def plane(b: Int): String =
      (0 until 64).map(d => Similarity.planeComponent(b, d).toString)
        .mkString("[", ", ", "]")
    val bitCols = (0 until bands * rows).map(b =>
      s"(CASE WHEN list_dot_product(v, ${plane(b)}) >= 0 THEN 1 ELSE 0 END) AS b$b")
      .mkString(",\n    ")
    val keyCols = (0 until bands).map { band =>
      val expr = (0 until rows).map(r => s"b${band * rows + r}")
        .reduce((acc, b) => s"($acc * 2 + $b)")
      s"$expr AS k$band"
    }.mkString(",\n    ")
    s"""sg AS (SELECT vec_id, v,
       |    $bitCols
       |  FROM e),
       |bd AS (SELECT vec_id,$keep
       |    $keyCols
       |  FROM sg)""".stripMargin
  }

  /** Some of the 24 RHP band keys of `bd` rows l and r is equal. */
  val rhpBandEq: String = (0 until 24).map(b => s"l.k$b = r.k$b").mkString(" OR ")

  /** Some 16-bit band of the 64-bit hashes `l.<c>` and `r.<c>` differs
    * in at most `probe` bits (0: the bands are equal; 1: the 1-bit probe
    * ball) — the candidate gate of Dedup's and Multimodal's banding.
    */
  def band16(c: String, probe: Int): String = (0 until 4).map { b =>
    val (x, y) = (s"(l.$c >> ${b * 16}) & 65535", s"(r.$c >> ${b * 16}) & 65535")
    if (probe == 0) s"($x) = ($y)" else s"bit_count(xor($x, $y)) <= $probe"
  }.mkString("\n      OR ")

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
  def ivfCellCtesTrainedOn(trainRel: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${ivfCentroidCtes(trainRel, s"$trainRel e", "e")}""".stripMargin

  /** Spark orders IVF/PQ seeds by the SIGNED md5 long of `vec_id`;
    * md5_number_lower is UBIGINT, so reinterpret before ordering.
    */
  val signedVecIdMd5: String =
    "(md5_number_lower(CAST(vec_id AS VARCHAR))::HUGEINT - " +
      "CASE WHEN md5_number_lower(CAST(vec_id AS VARCHAR)) >= 9223372036854775808 " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"

  /** The centroid derivation from `seeds` to `cellof` over `e(vec_id,
    * v)`: 16 seeds drawn from `seedRel`, one Lloyd step over `trainItem`
    * (a FROM item whose alias is `t`), every row of `e` assigned a cell.
    */
  def ivfCentroidCtes(seedRel: String, trainItem: String, t: String): String = {
    val meanCols = (0 until 64).map(d => s"round(avg(v[${d + 1}]), 3) AS m$d")
      .mkString(",\n    ")
    val centList = (0 until 64).map(d => s"coalesce(m.m$d, round(s.v[${d + 1}], 3))")
      .mkString("[", ", ", "]")
    s"""seeds AS (
       |  SELECT row_number() OVER (
       |      ORDER BY $signedVecIdMd5, vec_id) - 1 AS cell, v
       |  FROM $seedRel
       |  ORDER BY $signedVecIdMd5, vec_id LIMIT 16),
       |a0 AS (
       |  SELECT $t.vec_id, $t.v, s.cell,
       |    list_dot_product($t.v, s.v) / sqrt(list_dot_product(s.v, s.v)) AS score
       |  FROM $trainItem CROSS JOIN seeds s),
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
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1)""".stripMargin
  }

  /** The funnel's step events: the view/click/purchase rows of `events`. */
  def funnelEventsCte(name: String): String =
    s"""$name AS (
       |  SELECT user_id, ts, event_type FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase'))""".stripMargin

  /** The users reaching each funnel step over `ev`: `<l>1<sfx>` saw a
    * view, `<l>2<sfx>` a click after it and `<l>3<sfx>` a purchase after
    * that, each within 4h of the view (`after` is ">=", or ">" for
    * strict_increase).
    */
  def funnelStepCtes(l: String, sfx: String, ev: String,
      after: String = ">="): String =
    s"""${l}1$sfx AS (SELECT DISTINCT user_id FROM $ev WHERE event_type = 'view'),
       |${l}2$sfx AS (
       |  SELECT DISTINCT a.user_id
       |  FROM $ev a JOIN $ev b ON a.user_id = b.user_id
       |  WHERE a.event_type = 'view' AND b.event_type = 'click'
       |    AND b.ts $after a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND),
       |${l}3$sfx AS (
       |  SELECT DISTINCT a.user_id
       |  FROM $ev a JOIN $ev b ON a.user_id = b.user_id
       |    JOIN $ev c ON a.user_id = c.user_id
       |  WHERE a.event_type = 'view' AND b.event_type = 'click'
       |    AND c.event_type = 'purchase'
       |    AND b.ts $after a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND
       |    AND c.ts $after b.ts AND c.ts <= a.ts + INTERVAL 14400 SECOND)""".stripMargin

  /** The deepest step reached, over the joined `l1`..`l3`; the WHEN
    * lines sit 5 columns right of `indent`.
    */
  def funnelLevel(indent: String): String =
    s"""CASE WHEN l3.user_id IS NOT NULL THEN 3
       |$indent     WHEN l2.user_id IS NOT NULL THEN 2
       |$indent     WHEN l1.user_id IS NOT NULL THEN 1
       |$indent     ELSE 0 END""".stripMargin

  /** uniqHLL registers of `user_id` per `event_type` over the rows the
    * `from` clause selects (md5 hash, 512 registers, capped rho):
    * `<p>h<sfx>`, `<p>r<sfx>`, `<p>m<sfx>` and
    * `<p>s<sfx>(event_type, s_present, n_regs)`.
    */
  def hllRegisterCtes(p: String, sfx: String, from: String): String =
    s"""${p}h$sfx AS (
       |  SELECT event_type,
       |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) >> 4 AS BIGINT) AS h
       |  $from),
       |${p}r$sfx AS (
       |  SELECT event_type, h % 512 AS reg,
       |    LEAST(CASE WHEN h // 512 = 0 THEN 52
       |          ELSE 52 - length(bin(h // 512)) END, 30) AS rho
       |  FROM ${p}h$sfx),
       |${p}m$sfx AS (SELECT event_type, reg, max(rho) AS m FROM ${p}r$sfx GROUP BY 1, 2),
       |${p}s$sfx AS (
       |  SELECT event_type,
       |    sum(CAST(1 AS BIGINT) << (30 - m)) AS s_present,
       |    count(*) AS n_regs
       |  FROM ${p}m$sfx GROUP BY 1)""".stripMargin

  /** The raw HLL estimate over [[hllRegisterCtes]]' `s_present` and
    * `n_regs`: one double division of exact-integer operands.
    */
  val hllRaw: String =
    """202600935058957.5 / CAST(
      |      s_present + (512 - n_regs) * (CAST(1 AS BIGINT) << 30)
      |      AS DOUBLE) AS raw""".stripMargin

  /** KMV: the distinct md5 hashes of `event_id` per `event_type` over
    * the rows the `from` clause selects (`h<sfx>`), ranked in unsigned
    * order with the distinct count (`r<sfx>(event_type, h, rn, n_d)`).
    */
  def kmvRankCtes(sfx: String, from: String): String =
    s"""h$sfx AS (
       |  SELECT DISTINCT event_type,
       |    md5_number_lower(CAST(event_id AS VARCHAR))::HUGEINT AS h
       |  $from),
       |r$sfx AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n_d
       |  FROM h$sfx)""".stripMargin

  /** English stopword hits of `text` (mirrors TextAnalysis.stopwordHits). */
  val stopHits: String = TextAnalysis.enStopwords.map { w =>
    s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) // ${w.length + 2} AS BIGINT)"
  }.mkString(" + ")

  /** The five per-language stopword scores of `text`, `sde` .. `szh`
    * (mirrors TextAnalysis.langId).
    */
  val langScoreCols: String = {
    def hits(words: Seq[String]): String = words.map { w =>
      s"CAST((length(' ' || replace(replace(lower(text), 'ς', 'σ'), 'i' || chr(775), 'i') || ' ') - length(replace(' ' || replace(replace(lower(text), 'ς', 'σ'), 'i' || chr(775), 'i') || ' ', ' $w ', ''))) // ${w.length + 2} AS BIGINT)"
    }.mkString(" + ")
    Seq("de" -> Seq("der", "die", "und", "ist", "das"),
      "en" -> Seq("the", "and", "is", "of", "to"),
      "es" -> Seq("el", "la", "los", "es", "y"),
      "fr" -> Seq("le", "la", "les", "est", "et"),
      "zh" -> Seq("的", "是", "了", "在", "我"))
      .map { case (lang, words) => s"${hits(words)} AS s$lang" }.mkString(", ")
  }

  /** The language with the top [[langScoreCols]] score ('und' when none
    * scores); the WHEN lines sit 5 columns right of `indent`.
    */
  def langPred(indent: String): String = {
    val top = "GREATEST(sde, sen, ses, sfr, szh)"
    (s"CASE WHEN $top = 0 THEN 'und'" +:
      Seq("de", "en", "es", "fr").map(l => s"$indent     WHEN s$l = $top THEN '$l'") :+
      s"$indent     ELSE 'zh' END").mkString("\n")
  }

  /** Gopher mean word length over `n_words` (mirrors
    * TextAnalysis.meanTokenLen).
    */
  val meanWordLen: String =
    """CASE WHEN n_words = 0 THEN 0.0
      |      ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / n_words END""".stripMargin

  /** Gopher share of the canonical words `w` with a letter (mirrors
    * TextAnalysis.alphaWordRatio).
    */
  val alphaWordRatio: String =
    """CASE WHEN trim(text) = '' THEN 0.0
      |      ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w) END""".stripMargin

  /** The inputs of the Gopher rules: `n_words`, `stop_hits` and the
    * canonical words `w` of `text`.
    */
  val gopherCols: String =
    s"""    CASE WHEN trim(text) = '' THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
       |    $stopHits AS stop_hits,
       |    $canonWords AS w""".stripMargin

  /** The curation pipeline's stages after the corpus (`src`): exact
    * dedup, the Gopher rules (`gopher` names that CTE), the PII scrub,
    * the per-source cap of 20 and the 90/10 train/val split, then the
    * per-(split, source) token accounting. `by` prefixes every key
    * (e.g. "batch, "); the caller appends the ORDER BY.
    */
  def curationStages(by: String, src: String, gopher: String): String = {
    val email = TextAnalysis.piiEmailRe
    val ipv4 = TextAnalysis.piiIpv4Re
    val num = TextAnalysis.piiLongNumRe
    s"""dedup AS (
       |  SELECT ${by}doc_id, text, source FROM (
       |    SELECT ${by}doc_id, text, source, row_number() OVER (
       |      PARTITION BY ${by}md5(${canon("text")})
       |      ORDER BY doc_id) AS rn
       |    FROM $src)
       |  WHERE rn = 1),
       |gm AS (
       |  SELECT ${by}doc_id, text, source,
       |$gopherCols
       |  FROM dedup),
       |$gopher AS (
       |  SELECT ${by}doc_id, text, source FROM gm
       |  WHERE n_words >= 20 AND n_words <= 100000
       |    AND ($meanWordLen) >= 3.0
       |    AND ($meanWordLen) <= 10.0
       |    AND ($alphaWordRatio) >= 0.8
       |    AND stop_hits >= 2),
       |scr AS (
       |  SELECT ${by}doc_id, source,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$ipv4', '<IP>', 'g'),
       |      '$num', '<NUM>', 'g') AS text
       |  FROM $gopher),
       |b AS (
       |  SELECT ${by}doc_id, source, text, $bucketExpr AS bucket,
       |    row_number() OVER (PARTITION BY ${by}source
       |      ORDER BY $bucketExpr, doc_id) AS rn
       |  FROM scr),
       |capped AS (SELECT ${by}doc_id, source, text, bucket FROM b WHERE rn <= 20),
       |sp AS (
       |  SELECT ${by}source, text,
       |    CASE WHEN bucket < 9000 THEN 'train' ELSE 'val' END AS split
       |  FROM capped)
       |SELECT ${by}split, source, count(*) AS n,
       |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
       |    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens
       |FROM sp GROUP BY ${by}split, source""".stripMargin
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
