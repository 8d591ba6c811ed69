package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** Sampling and curation over `documents`: md5-bucket splits,
  * stratified and temperature mixture sampling, source/cluster/token
  * caps, weighted sampling and the batch curation pipelines. Bucket
  * assignment is md5-derived ([[graft.operators.Sampling.hashBucket]]),
  * so every oracle replays the exact sample.
  */
object SamplingQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- the composed curation pipeline (capstone): exact-dedup the
    //     corpus, drop low-quality docs, roll up by predicted language —
    //     every stage individually oracle-proven, composed here ----------
    Query("corpus_curate",
      s"""WITH ${twinCorpusCte()},
         |dedup AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (
         |      PARTITION BY md5(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM corpus)
         |  WHERE rn = 1),
         |t AS (
         |  SELECT doc_id, text,
         |    CASE WHEN trim(text) = '' THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |    $stopHits AS stop_hits,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text) END AS praw
         |  FROM dedup),
         |q AS (
         |  SELECT doc_id, text,
         |    round(LEAST(n_tokens / 20.0, 1.0) * 0.4
         |        + LEAST(stop_hits / 3.0, 1.0) * 0.3
         |        + GREATEST(0.0, 1.0 - praw * 5.0) * 0.3, 6) AS q
         |  FROM t),
         |f AS (SELECT doc_id, text, q FROM q WHERE q >= 0.5),
         |s AS (
         |  SELECT doc_id, q,
         |    $langScoreCols
         |  FROM f),
         |p AS (
         |  SELECT doc_id, q,
         |    ${langPred("    ")} AS pred
         |  FROM s)
         |SELECT pred, COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
         |FROM p GROUP BY pred ORDER BY pred""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.dropExact(corpus, col("text"), col("doc_id"))
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .filter(col("q") >= 0.5)
        .withColumn("pred", TextAnalysis.langId(col("text")))
        .groupBy(col("pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_quality"))
        .orderBy(col("pred"))
    },

    // --- deterministic train/val/test split: md5-bucketed, reproducible
    //     across engines — the oracle recomputes every bucket ------------
    Query("sample_split",
      s"""WITH b AS (
         |  SELECT doc_id, $bucketExpr AS bucket FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN bucket < 8000 THEN 'train'
         |       WHEN bucket < 9000 THEN 'val'
         |       ELSE 'test' END AS split FROM b)
         |SELECT split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  min(doc_id) AS id_min, max(doc_id) AS id_max
         |FROM s GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.assignSplit(d, col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("id_sum"),
          min(col("doc_id")).as("id_min"),
          max(col("doc_id")).as("id_max"))
        .orderBy(col("split"))
    },

    // --- stratified deterministic sampling: per-language keep fractions
    //     (the corpus-mixing knob) ---------------------------------------
    Query("sample_stratified",
      s"""WITH b AS (
         |  SELECT doc_id, lang, $bucketExpr AS bucket FROM documents)
         |SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM b
         |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 1000
         |  ELSE 2500 END
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.stratifiedSample(d, col("doc_id"), col("lang"),
          Map("en" -> 0.5, "zh" -> 0.1), defaultFraction = 0.25)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    },

    // --- data mixing toward target language weights: over-represented
    //     strata downsample (en), under-represented keep whole, strata
    //     with no weight drop (es) --------------------------------------
    Query("sample_mixture",
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
         |th AS (SELECT lang,
         |  CAST(floor(least(1.0,
         |    (CASE lang WHEN 'de' THEN 0.25 WHEN 'en' THEN 0.25
         |               WHEN 'fr' THEN 0.25 WHEN 'zh' THEN 0.25
         |               ELSE 0.0 END) * total / CAST(n AS DOUBLE))
         |    * 10000 + 0.5) AS BIGINT) AS thr
         |  FROM c, tt),
         |b AS (SELECT doc_id, lang, $bucketExpr AS bucket FROM documents)
         |SELECT b.lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM b JOIN th ON b.lang = th.lang
         |WHERE b.bucket < th.thr
         |GROUP BY b.lang ORDER BY b.lang""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.mixToWeights(d, col("doc_id"), col("lang"),
          Map("en" -> 0.25, "de" -> 0.25, "fr" -> 0.25, "zh" -> 0.25))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    },

    // --- temperature-based mixture reweighting (XLM-style): T=2 targets
    //     shares ∝ sqrt(n_s) — sqrt is correctly-rounded IEEE in both
    //     engines, so the derived thresholds recompute exactly in SQL --
    Query("sample_mixture_temp",
      // temperature mixture at T=2: thresholds from sqrt shares. The z
      // normalizer sums the per-stratum sqrts in LANG ORDER via an ordered
      // list aggregate — the Scala side folds the name-sorted counts, and
      // FP addition is order-sensitive
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |z AS (SELECT
         |    list_aggregate(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang), 'sum') AS z,
         |    CAST(sum(n) AS DOUBLE) AS total
         |  FROM c),
         |th AS (SELECT lang,
         |    CAST(floor(least(1.0,
         |      sqrt(CAST(n AS DOUBLE)) / z.z * z.total / CAST(n AS DOUBLE))
         |      * 10000 + 0.5) AS BIGINT) AS thr
         |  FROM c, z),
         |b AS (SELECT doc_id, lang, $bucketExpr AS bucket FROM documents)
         |SELECT b.lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM b JOIN th ON b.lang = th.lang
         |WHERE b.bucket < th.thr
         |GROUP BY b.lang ORDER BY b.lang""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.mixToTemperature(d, col("doc_id"), col("lang"),
          temperature = 2.0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    },

    // --- temperature mixture at T=4: shares ∝ n^(1/4) = sqrt(sqrt(n)) —
    //     the two-sqrt chain keeps the oracle on correctly-rounded IEEE
    //     ops (pow's 1-ulp bound would not guarantee bit-parity) --------
    Query("sample_mixture_temp4",
      // T=4 twin: the identical two-sqrt chain evaluates in both engines
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |z AS (SELECT
         |    list_aggregate(list(sqrt(sqrt(CAST(n AS DOUBLE))) ORDER BY lang), 'sum') AS z,
         |    CAST(sum(n) AS DOUBLE) AS total
         |  FROM c),
         |th AS (SELECT lang,
         |    CAST(floor(least(1.0,
         |      sqrt(sqrt(CAST(n AS DOUBLE))) / z.z * z.total / CAST(n AS DOUBLE))
         |      * 10000 + 0.5) AS BIGINT) AS thr
         |  FROM c, z),
         |b AS (SELECT doc_id, lang, $bucketExpr AS bucket FROM documents)
         |SELECT b.lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM b JOIN th ON b.lang = th.lang
         |WHERE b.bucket < th.thr
         |GROUP BY b.lang ORDER BY b.lang""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.mixToTemperature(d, col("doc_id"), col("lang"),
          temperature = 4.0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    },

    // --- the FULL curation pipeline capstone: exact dedup -> Gopher rule
    //     filter -> PII scrub -> per-source cap -> train/val split ->
    //     per-(split, source) token accounting. Six oracle-proven stages
    //     composed end-to-end — the 100 TB pre-training data job --------
    Query("corpus_pipeline",
      s"""WITH ${twinCorpusCte("text, source")},
         |${curationStages("", "corpus", "g")} ORDER BY split, source""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text", "source")
      val scrubbed = Dedup.dropExact(corpus, col("text"), col("doc_id"))
        .filter(TextAnalysis.gopherKeep(col("text")))
        .withColumn("text", TextAnalysis.scrubPii(col("text")))
      val capped = Sampling.capPerGroup(scrubbed, col("doc_id"), col("source"),
          maxN = 20)
        .select(col("id").as("doc_id"))
      Sampling.assignSplit(scrubbed.join(capped, "doc_id"), col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.1))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(TextAnalysis.wsTokenCount(col("text"))).as("n_tokens"))
        .orderBy(col("split"), col("source"))
    },

    // --- per-source document cap (hash-ordered survivors, bounded-heap
    //     partial aggregate — never a window over the corpus) ------------
    Query("sample_source_cap",
      s"""WITH b AS (
         |  SELECT doc_id, source, $bucketExpr AS bucket FROM documents),
         |r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rn
         |  FROM b)
         |SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  min(doc_id) AS id_min, max(doc_id) AS id_max
         |FROM r WHERE rn <= 15 GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.capPerGroup(d, col("doc_id"), col("source"), maxN = 15)
        .select(col("group").as("source"), col("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
          min(col("id")).as("id_min"), max(col("id")).as("id_max"))
        .orderBy(col("source"))
    },

    // --- cluster-balanced semantic sampling: k-means cells (the IVF
    //     centroids, re-derived identically by the oracle) capped at 10
    //     docs each in stable hash order — dominant semantic modes stop
    //     crowding out the tail ------------------------------------------
    Query("sample_cluster_cap",
      // cluster-balanced sampling: identical centroid re-derivation as the
      // IVF oracle, then the per-cell hash-order cap replayed as a window
      s"""$ivfCellCtes,
         |kept AS (
         |  SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
         |      ORDER BY ((md5_number_lower(CAST(vec_id AS VARCHAR)) >> 1) % 10000),
         |        vec_id) AS rn
         |  FROM cellof)
         |SELECT CAST(cell AS INT) AS cell, vec_id FROM kept
         |WHERE rn <= 10 ORDER BY cell, vec_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val e = Tables(s, dir).embeddings
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val cents = Similarity.trainCentroids(e, nCells = 16)
      Sampling.clusterBalancedSample(e, col("vec_id"), cents,
          maxPerCell = 10)
        .select(col("cell"), col("id").as("vec_id"))
        .orderBy(col("cell"), col("vec_id"))
    },

    // --- per-source TOKEN-budget cap (the pretraining-mix shape: take N
    //     tokens per source in deterministic hash order) — keyed
    //     distributed prefix sum, ONE range exchange, never a per-source
    //     single-reducer window ------------------------------------------
    Query("sample_token_cap",
      // cumulative window over the same (bucket, id) hash order; kept iff
      // the exclusive prefix + own size fits the budget
      s"""WITH b AS (
         |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_tokens,
         |    $bucketExpr AS bucket
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY bucket, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_offset
         |  FROM b)
         |SELECT source, doc_id, n_tokens, tok_offset
         |FROM c WHERE tok_offset + n_tokens <= 5000
         |ORDER BY source, tok_offset""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      Sampling.capPerGroupTokens(d, col("doc_id"), col("source"),
          col("n_chars"), budget = 5000L)
        .select(col("group").as("source"), col("id").as("doc_id"),
          col("n_tokens"), col("tok_offset"))
        .orderBy(col("source"), col("tok_offset"))
    },

    // --- weighted Bernoulli sampling: keep probability = per-doc length
    //     weight, decided by the stable md5 bucket (never rand()) -------
    Query("sample_weighted",
      """SELECT doc_id FROM documents
        |WHERE CAST((md5_number_lower(CAST(doc_id AS VARCHAR)) >> 1) % 10000 AS DOUBLE)
        |  < least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) * 10000
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val w = least(col("n_chars").cast("double") / 2000.0, lit(1.0))
      Sampling.sampleByWeight(d, col("doc_id"), w)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // --- leakage-safe split: exact-dup families (doc + planted twin)
    //     must land whole in one split — the key is the dedup cluster --
    Query("sample_split_safe",
      // exact-dup families are cliques on the fingerprint, so the cluster
      // is min(doc_id) per fp; the split hashes the COMPONENT id
      s"""WITH ${twinCorpusCte()},
        |fp AS (
        |  SELECT doc_id,
        |    md5(${canon("text")}) AS f
        |  FROM corpus),
        |comp AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS component
        |  FROM fp),
        |sp AS (
        |  SELECT doc_id, component,
        |    (md5_number_lower(CAST(component AS VARCHAR)) >> 1) % 10000 AS bkt
        |  FROM comp)
        |SELECT doc_id, component,
        |  CASE WHEN bkt < 8000 THEN 'train'
        |       WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM sp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val corpus = Fixtures.twinCorpus(Tables(s, dir).documents, "text")
      val withFp = corpus.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val pairs = withFp.alias("x").join(withFp.alias("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      Sampling.leakageSafeSplit(corpus.select(col("doc_id")), "doc_id",
          pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy(col("doc_id"))
    }
  )
}
