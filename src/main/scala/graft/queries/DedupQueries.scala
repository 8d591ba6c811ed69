package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Corpus deduplication and decontamination over `documents` and
  * `embeddings`: exact, n-gram, minhash, simhash, substring and
  * embedding near-dup detection, clustering and benchmark contamination.
  *
  * Every oracle RECOMPUTES the operator from the base tables, including
  * the "probabilistic" ones: minhash/simhash signatures and LSH bands
  * are derived from md5 halves ([[graft.functions.PortableHash]] ==
  * DuckDB md5_number_lower/upper) and deterministic plane literals, so
  * banding decisions and candidate sets are bit-reproducible in plain
  * SQL. Corpora plant near-duplicates (identical twins, +0.05 perturbed
  * embeddings) so no oracle passes vacuously on an empty result.
  */
object DedupQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- exact dedup: fingerprint groups over a corpus with planted dups -
    Query("dedup_exact",
      s"""WITH ${twinCorpusCte()}
        |SELECT md5(${canon("text")}) AS fp,
        |  MIN(doc_id) AS keeper, COUNT(*) AS n
        |FROM corpus GROUP BY 1 ORDER BY fp""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      // plant exact duplicates: every doc re-appears with a shifted id
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.exactGroups(corpus, col("text"), col("doc_id"))
        .orderBy(col("fp"))
    },

    // --- exact dedup, drop form: keep the min-id row per fingerprint ----
    Query("dedup_drop_exact",
      s"""WITH ${twinCorpusCte()}
        |SELECT doc_id FROM (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      PARTITION BY md5(${canon("text")})
        |      ORDER BY doc_id) AS rn
        |  FROM corpus)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.dropExact(corpus, col("text"), col("doc_id"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // --- exact n-gram Jaccard near-dup pairs (bounded slice; corpus
    //     plants a 3-word-suffix twin per doc so pairs exist) ------------
    Query("dedup_ngram_jaccard", {
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 100
         |  UNION ALL SELECT doc_id + 1000000 AS doc_id,
         |    text || ' zzdup zzmarker zztoken' AS text
         |  FROM documents WHERE doc_id < 100),
         |${shinglesCtes("corpus")}
         |SELECT sa.doc_id AS a, sb.doc_id AS b,
         |  round($jaccardExpr, 6) AS jaccard
         |FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
         |WHERE $jaccardExpr >= 0.05
         |ORDER BY a, b""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 100)
      val corpus = d.select(col("doc_id"), col("text"))
        .union(d.select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzdup zzmarker zztoken")).as("text")))
      Dedup.nearDupPairsExact(corpus, "doc_id", "text", n = 3, threshold = 0.05)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    },

    // --- minhash-LSH near-dups (oracle recomputes signatures + banding) --
    Query("dedup_minhash_lsh", minhashOracle) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
          n = 3, bands = 8, rows = 4, threshold = 0.9)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    },

    // --- incremental dedup: a FRESH batch checked against the existing
    //     REFERENCE corpus only (no ref x ref or new x new re-pairing —
    //     the ingestion-time shape); half the batch is exact twins, half
    //     suffix-perturbed near-twins -----------------------------------
    Query("dedup_minhash_incr", minhashIncrOracle) { (s, dir) =>
      val d = Tables(s, dir).documents
      val ref = d.select(col("doc_id"), col("text"))
      val fresh = d.select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") < 250, col("text"))
          .otherwise(concat(col("text"), lit(" zznew zztoken zzmark"))).as("text"))
      Dedup.nearDupsAgainstMinhash(ref, fresh, "doc_id", "text",
          n = 3, bands = 8, rows = 4, threshold = 0.5)
        .select(col("ref_id"), col("new_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("ref_id"), col("new_id"))
    },

    // --- fuzzy decontamination: near-copies of benchmark docs (planted
    //     with an id-salted suffix) flagged by cross-corpus minhash ------
    Query("text_decontaminate_fuzzy", decontaminateFuzzyOracle) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 20)
      val planted = d.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .withColumn("bid", col("doc_id") % 20)
        .join(bench.select(col("doc_id").as("bid"), col("text").as("btext")),
          "bid")
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("btext"), lit(" zz"),
            col("doc_id").cast("string")).as("text"))
      val corpus = d.filter(col("doc_id") >= 20).union(planted)
      Dedup.nearDupsAgainstMinhash(bench, corpus, "doc_id", "text",
          n = 3, bands = 8, rows = 4, threshold = 0.5)
        .select(col("ref_id"), col("new_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("ref_id"), col("new_id"))
    },

    // --- simhash near-dups (oracle recomputes the 64-bit signatures) -----
    Query("dedup_simhash", simhashOracle(maxHamming = 3, probe = 0)) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.nearDupPairsSimhash(corpus, "doc_id", "text", maxHamming = 3)
        .orderBy(col("a"), col("b"))
    },

    // --- simhash near-dups at WIDE recall: the same 16-bit bands probed
    //     within a 1-bit flip ball (multi-probe), exact recall to
    //     hamming 6 — the scale path for looser thresholds, where a
    //     single-byte re-band would cost n²/64 candidates ---------------
    Query("dedup_simhash_wide", simhashOracle(maxHamming = 6, probe = 1)) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.nearDupPairsSimhash(corpus, "doc_id", "text", maxHamming = 6,
          wideRecall = true)
        .orderBy(col("a"), col("b"))
    },

    // --- edit-distance fuzzy join on short normalized keys (record
    //     linkage): SymSpell deletion-neighborhood banding + threshold
    //     levenshtein verify; planted substitution (m1) and deletion
    //     (m2) mutants of the first 50 keys --------------------------
    Query("text_fuzzy_join",
      // the TRUE <=2-edit-distance join: deletion-neighborhood banding +
      // levenshtein verify reproduce it exactly
      s"""WITH d AS (SELECT doc_id, lower(substr(text, 1, 16)) AS k
         |  FROM documents WHERE doc_id < 200),
         |m1 AS (SELECT doc_id + 1000000 AS doc_id,
         |  substr(k, 1, 3) || 'q' || substr(k, 5) AS k FROM d WHERE doc_id < 50),
         |m2 AS (SELECT doc_id + 2000000 AS doc_id,
         |  substr(k, 1, 8) || substr(k, 10) AS k FROM d WHERE doc_id < 50),
         |c AS (SELECT * FROM d UNION ALL SELECT * FROM m1
         |  UNION ALL SELECT * FROM m2)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
         |FROM c a JOIN c b
         |  ON a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= 2
         |ORDER BY a, b""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 200)
        .select(col("doc_id"), lower(substring(col("text"), 1, 16)).as("k"))
      val m1 = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(substring(col("k"), 1, 3), lit("q"),
            substring(col("k"), 5, 1000)).as("k"))
      val m2 = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(substring(col("k"), 1, 8),
            substring(col("k"), 10, 1000)).as("k"))
      val c = d.union(m1).union(m2)
      Dedup.nearDupPairsEdit(c, "doc_id", "k", maxDist = 2)
        .orderBy(col("a"), col("b"))
    },

    // --- exact-substring dedup: pairs sharing a verbatim 40-char window
    //     (Lee et al.) — planted spans (60 chars of a benchmark doc
    //     appended to 100 shifted docs) plus whatever the corpus shares
    //     naturally; rolling-hash banding + witness verify against the
    //     real text, so the oracle is the TRUE substring join ------------
    Query("dedup_substring_exact",
      // the TRUE 40-char-window join: rolling-hash banding + witness
      // verification reproduce it exactly
      s"""WITH $substrPlantedCtes,
         |g AS (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(length(text) - 38, 1)),
         |    i -> substr(text, i::INT, 40))) AS gm FROM corpus),
         |gd AS (SELECT DISTINCT doc_id, gm FROM g)
         |SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |FROM gd a JOIN gd b ON a.gm = b.gm AND a.doc_id < b.doc_id
         |ORDER BY a, b""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = d.union(planted(d, Fixtures.charSpans(d)))
      Dedup.substringDupPairs(corpus, "doc_id", "text", k = 40)
        .orderBy(col("a"), col("b"))
    },

    // --- same pairs at WINNOWED gram density (the 100 TB path: ~2/(w+1)
    //     of the grams shuffle; spans >= k+w-1 chars are guaranteed
    //     caught, and the planted spans are 61 >= 49). The winnow
    //     selection is replayed exactly in the DuckDB oracle: the
    //     polynomial rolling hash is deterministic modular arithmetic
    //     (prefix-hash recursive CTE, mod-2^64 in HUGEINT) and the
    //     rightmost-min-per-window champion is a window-min over an
    //     (h1, -pos) composite key --------------------------------------
    Query("dedup_substring_winnow",
      // exact replay of the winnowed selection: prefix rolling hashes
      // P(i) = P(i-1)*B1 + cp(i) mod 2^64 via a recursive CTE (HUGEINT
      // carries the mod-2^64 arithmetic; 11429019619962296993 = B1^40 mod
      // 2^64, and the split multiply keeps P*B1^40 inside HUGEINT), gram
      // hash h1(p) = P(p+40) - P(p)*B1^40, then the rightmost-unsigned-min
      // champion of each 10-gram window via a window-min over the
      // composite key h1*2^32 + (2^32-1-pos). Verified pairs reduce to
      // "share a selected gram by content" (the Spark side's witness
      // verification makes 128-bit hash collisions unobservable), so the
      // final join is on the literal 40-char gram.
      s"""WITH RECURSIVE $substrPlantedCtes,
        |doc AS (SELECT doc_id, text, length(text) AS n FROM corpus
        |  WHERE length(text) >= 40),
        |pref AS (
        |  SELECT doc_id, text, n, 0 AS i, 0::HUGEINT AS p1
        |  FROM doc
        |  UNION ALL
        |  SELECT doc_id, text, n, i + 1,
        |    (p1 * 1099511628211::HUGEINT
        |     + unicode(substr(text, i + 1, 1))::HUGEINT)
        |      % 18446744073709551616::HUGEINT
        |  FROM pref WHERE i < n),
        |g AS (
        |  SELECT a.doc_id, a.i AS p0,
        |    (b.p1
        |     - ((a.p1 % 4294967296::HUGEINT) * 11429019619962296993::HUGEINT
        |        + ((a.p1 // 4294967296::HUGEINT) * 11429019619962296993::HUGEINT
        |           % 4294967296::HUGEINT) * 4294967296::HUGEINT)
        |       % 18446744073709551616::HUGEINT
        |     + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT AS h1u
        |  FROM pref a JOIN pref b
        |    ON a.doc_id = b.doc_id AND b.i = a.i + 40),
        |mk AS (
        |  SELECT doc_id, p0,
        |    min(h1u * 4294967296::HUGEINT + (4294967295 - p0)::HUGEINT)
        |      OVER (PARTITION BY doc_id ORDER BY p0
        |            ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS minkey,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM g),
        |sel AS (
        |  SELECT DISTINCT doc_id,
        |    4294967295 - CAST(minkey % 4294967296::HUGEINT AS BIGINT) AS champ
        |  FROM mk WHERE p0 <= greatest(ng - 10, 0)),
        |sg AS (
        |  SELECT s.doc_id, substr(c.text, s.champ::INT + 1, 40) AS gram
        |  FROM sel s JOIN corpus c ON s.doc_id = c.doc_id)
        |SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |FROM sg a JOIN sg b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = d.union(planted(d, Fixtures.charSpans(d)))
      Dedup.substringDupPairsWinnowed(corpus, "doc_id", "text",
          k = 40, w = 10)
        .orderBy(col("a"), col("b"))
    },

    // --- embedding cosine near-dups (planted +0.05 twins) ----------------
    Query("dedup_embedding",
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(v, x -> x + 0.05) AS v FROM base)
        |SELECT q.vec_id AS a, c.vec_id AS b,
        |  round(list_dot_product(q.v, c.v) /
        |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
        |FROM e q JOIN e c ON q.vec_id < c.vec_id
        |WHERE q.vec_id < 50
        |  AND list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.75
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val corpus = e.union(Fixtures.nudged(e))
      Similarity.embeddingNearDups(
          corpus, corpus.filter(col("vec_id") < 50), threshold = 0.75)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("a"), col("b"))
    },

    // --- corpus-wide embedding near-dups, the scale path: LSH-banded
    //     candidate pairs + exact cosine verify (no all-pairs product;
    //     oracle recomputes bands from the identical plane literals) ------
    Query("dedup_embedding_lsh", embeddingLshOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      val corpus = e.union(Fixtures.nudged(e))
      Similarity.nearDupPairsEmbedding(corpus, threshold = 0.75, dims = 64)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("a"), col("b"))
    },

    // --- incremental embedding dedup: fresh vectors banded against the
    //     reference corpus only (cross-corpus candidates, exact cosine
    //     verify) --------------------------------------------------------
    Query("dedup_embedding_incr", embeddingIncrOracle) { (s, dir) =>
      val e = Fixtures.vectors(s, dir)
      Similarity.nearDupsAgainstEmbedding(e, Fixtures.nudged(e),
          threshold = 0.75, dims = 64)
        .select(col("ref_id"), col("new_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("ref_id"), col("new_id"))
    },

    // --- corpus snapshot diff (incremental crawl bookkeeping): the new
    //     snapshot drops every 17th doc, edits every 13th, adds re-id'd
    //     copies of every 11th — each identity classifies as
    //     added/removed/changed/unchanged by byte fingerprint ----------
    Query("corpus_diff",
      // snapshot diff: both snapshots reduced to (id, md5) then a full
      // outer join — byte-level change classification
      """WITH o AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
        |        ELSE text END) AS new_fp
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5('new ' || text)
        |  FROM documents WHERE doc_id % 11 = 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_fp, new_fp
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN old_fp IS NULL THEN 'added'
        |       WHEN new_fp IS NULL THEN 'removed'
        |       WHEN old_fp = new_fp THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_fp, new_fp
        |FROM j ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val newSnap = d.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      Dedup.snapshotDiff(d, newSnap, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // --- benchmark decontamination: docs sharing an 8-gram with the
    //     benchmark set (benchmark = docs < 20; contamination planted by
    //     appending a benchmark span to 100 shifted docs) ----------------
    Query("text_decontaminate", decontaminateExactOracle) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 20)
      val corpus = d.union(planted(d, Fixtures.wordSpans(bench)))
      TextAnalysis.contaminatedDocs(corpus, "doc_id", "text", bench, "text")
        .orderBy(col("doc_id"))
    },

    // --- same decontamination, Bloom-pruned: the big-benchmark regime
    //     where the gram set can't broadcast as a hash relation. The
    //     Bloom only prunes the corpus exchange (false positives are
    //     removed by the exact semi-join), so the oracle is literally
    //     text_decontaminate's SQL -----------------------------------
    Query("text_decontaminate_bloom",
      // Bloom pruning is answer-preserving (false positives verified away
      // by the exact semi-join), so the Bloom variant's oracle IS the
      // exact decontamination SQL.
      decontaminateExactOracle) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 20)
      val corpus = d.union(planted(d, Fixtures.wordSpans(bench)))
      TextAnalysis.contaminatedDocsBloom(corpus, "doc_id", "text", bench,
        "text")
        .orderBy(col("doc_id"))
    },

    // --- contamination fraction report: per-doc share of distinct
    //     8-grams hitting the benchmark set (same planted corpus as
    //     text_decontaminate — planted docs score low-but-nonzero,
    //     benchmark members score 1.0) ----------------------------------
    Query("text_contamination_frac",
      // per-doc DISTINCT 8-gram counts + benchmark-hit share; list_distinct
      // mirrors WordShingles' distinct semantics
      s"""WITH ${gram8PlantedCtes(distinctPerDoc = true)},
         |agg AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN sg IN (SELECT sg FROM bsh) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_contaminated
         |  FROM csh GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_contaminated,
         |  round(CAST(n_contaminated AS DOUBLE) / n_grams, 6) AS contamination
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 20)
      val corpus = d.union(planted(d, Fixtures.wordSpans(bench)))
      TextAnalysis.contaminationStats(corpus, "doc_id", "text", bench, "text")
        .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    },

    // --- dedup clustering: connected components over near-dup pairs +
    //     canonical-survivor selection. Edge topology mixes 3-node CHAINS
    //     (transitivity — pairs alone can't dedup these) with hub STARS
    //     merging many chains, so the star alternation must actually
    //     propagate labels; the oracle recomputes components with a
    //     recursive transitive closure ----------------------------------
    Query("dedup_cluster",
      // components via recursive transitive closure (min reachable id) —
      // the same chain+hub edge construction as the Spark side
      """WITH RECURSIVE
        |base AS (SELECT doc_id FROM documents WHERE doc_id < 300),
        |corpus AS (
        |  SELECT doc_id AS id FROM base
        |  UNION ALL SELECT doc_id + 1000000 FROM base WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 2000000 FROM base WHERE doc_id < 200),
        |e AS (
        |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM base WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM base WHERE doc_id < 200
        |  UNION ALL SELECT doc_id, 5000 + doc_id % 10 FROM base WHERE doc_id < 50),
        |und AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT u, u FROM und
        |  UNION
        |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        |SELECT c.id, coalesce(comp.component, c.id) AS component,
        |  c.id = coalesce(comp.component, c.id) AS keep
        |FROM corpus c LEFT JOIN comp ON c.id = comp.id
        |ORDER BY c.id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
        .select(col("doc_id")).filter(col("doc_id") < 300)
      val base = d.filter(col("doc_id") < 200)
      val corpus = d
        .union(base.select((col("doc_id") + 1000000).as("doc_id")))
        .union(base.select((col("doc_id") + 2000000).as("doc_id")))
      val pairs = base.select(col("doc_id").as("a"),
          (col("doc_id") + 1000000).as("b"))
        .union(base.select((col("doc_id") + 1000000).as("a"),
          (col("doc_id") + 2000000).as("b")))
        .union(d.filter(col("doc_id") < 50).select(col("doc_id").as("a"),
          (lit(5000) + col("doc_id") % 10).as("b")))
      Dedup.cluster(corpus, pairs).orderBy(col("id"))
    },

    // --- END-TO-END dedup: minhash near-dup pairs closed into clusters
    //     with canonical-survivor selection — the composed production
    //     pipeline (pairs alone don't dedup); oracle recomputes pairs AND
    //     the transitive closure -----------------------------------------
    Query("dedup_cluster_minhash", minhashClusterOracle) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      val pairs = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
        n = 3, bands = 8, rows = 4, threshold = 0.9)
      val out = Dedup.cluster(corpus.select(col("doc_id")), pairs)
        .orderBy(col("id"))
      // connectedComponents checkpoints the edge set eagerly, so the
      // (pinned-path) pair table is fully consumed by now: release it
      // here instead of leaking result-sized blocks for the session
      // (no-op on the un-pinned small-corpus path)
      pairs.unpersist()
      out
    },

    // --- chunk-granularity exact-substring dedup: corpus-wide first
    //     occurrence of each 16-token chunk survives, documents are
    //     reassembled from surviving chunks (twins vanish entirely) ------
    Query("text_chunk_dedup",
      s"""WITH ${twinCorpusCte()},
        |w AS (
        |  SELECT doc_id,
        |    $canonWords AS t
        |  FROM corpus),
        |ch AS (
        |  SELECT doc_id AS id, CAST(i - 1 AS INT) AS chunk_id,
        |    array_to_string(t[(i - 1) * 16 + 1 : (i - 1) * 16 + 16], ' ') AS chunk
        |  FROM w, unnest(generate_series(1,
        |    greatest(CAST(ceil(len(t) / 16.0) AS BIGINT), 1))) AS g(i)),
        |k AS (
        |  SELECT id, chunk_id, chunk,
        |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY id, chunk_id) AS rn
        |  FROM ch)
        |SELECT id, count(*) AS n_chunks_kept,
        |  string_agg(chunk, ' ' ORDER BY chunk_id) AS text_dedup
        |FROM k WHERE rn = 1 GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = Fixtures.twinCorpus(d, "text")
      Dedup.dropDupChunks(corpus, "doc_id", "text", maxTokens = 16)
        .orderBy(col("id"))
    },

    // --- paragraph-level exact dedup: every doc carries a corpus-wide
    //     shared boilerplate block (survives once, in the min doc), its
    //     body text (dups in the +1e6 twin drop), and a unique tail
    //     (twin tails are unique too, so twins survive with 1 para) ----
    Query("text_para_dedup",
      // first occurrence per canonical paragraph fingerprint, original
      // text + order preserved in the reassembly
      """WITH corpus AS (
        |  SELECT doc_id,
        |    'shared boilerplate paragraph on every doc' || chr(10) || text
        |      || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        |  UNION ALL SELECT doc_id + 1000000,
        |    'shared boilerplate paragraph on every doc' || chr(10) || text
        |      || chr(10) || 'unique tail ' || CAST(doc_id + 1000000 AS VARCHAR) AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, CAST(i AS INT) - 1 AS pos,
        |    paras[CAST(i AS INT)] AS para
        |  FROM (SELECT doc_id, string_split_regex(text, '\n+') AS paras
        |        FROM corpus),
        |       UNNEST(generate_series(1, len(paras))) AS g(i)
        |  WHERE trim(paras[CAST(i AS INT)]) != ''),
        |k AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(replace(replace(lower(trim(para)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'))
        |      ORDER BY doc_id, pos) AS rn
        |  FROM p)
        |SELECT doc_id AS id, count(*) AS n_paras_kept,
        |  string_agg(para, chr(10) ORDER BY pos) AS text_dedup
        |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      def para3(idExpr: org.apache.spark.sql.Column) = concat_ws("\n",
        lit("shared boilerplate paragraph on every doc"),
        col("text"),
        concat(lit("unique tail "), idExpr)).as("text")
      val corpus = d.select(col("doc_id"), para3(col("doc_id")))
        .union(d.select((col("doc_id") + 1000000).as("doc_id"),
          para3(col("doc_id") + 1000000)))
      Dedup.dropDupParagraphs(corpus, "doc_id", "text").orderBy(col("id"))
    },

    // --- asymmetric containment dedup: 10-word excerpts of each doc are
    //     planted — containment flags sub-document duplication Jaccard
    //     dilutes (excerpt-in-doc ~1.0 vs Jaccard ~0.1) -----------------
    Query("dedup_ngram_containment", {
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 100
         |  UNION ALL SELECT doc_id + 1000000 AS doc_id,
         |    array_to_string(string_split(text, ' ')[1:10], ' ') AS text
         |  FROM documents WHERE doc_id < 100),
         |${shinglesCtes("corpus")}
         |SELECT sa.doc_id AS a, sb.doc_id AS b,
         |  round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / len(sa.s), 6) AS containment
         |FROM sh sa JOIN sh sb ON sa.doc_id != sb.doc_id
         |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / len(sa.s) >= 0.6
         |ORDER BY a, b""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 100)
      val subs = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 10)).as("text"))
      val corpus = d.select(col("doc_id"), col("text")).union(subs)
      Dedup.containmentPairs(corpus, "doc_id", "text", n = 3,
          threshold = 0.6)
        .select(col("a"), col("b"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("a"), col("b"))
    },

    // --- URL normalization + URL-keyed dedup: four noisy variants of
    //     each planted URL (case, www, default port, tracking params,
    //     fragment, trailing slash) must collapse to one key -------------
    Query("text_url_dedup",
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id // 4 AS BIGINT) AS g
        |  FROM documents WHERE doc_id < 1000),
        |planted AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTPS://' || upper('site' || CAST(g % 7 AS VARCHAR) || '.example.org')
        |        || ':443/p/' || CAST(g AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://site' || CAST(g % 7 AS VARCHAR) || '.example.org/p/'
        |        || CAST(g AS VARCHAR) || '?a=1&b=2'
        |      WHEN 2 THEN 'https://www.site' || CAST(g % 7 AS VARCHAR) || '.example.org/p/'
        |        || CAST(g AS VARCHAR) || '/?b=2&a=1&gclid=z'
        |      ELSE 'https://site' || CAST(g % 7 AS VARCHAR) || '.example.org/p/'
        |        || CAST(g AS VARCHAR) || '?b=2&utm_medium=mail&a=1'
        |    END AS url
        |  FROM base),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS pathq
        |  FROM planted),
        |pieces AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\.', '') AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    CASE WHEN position('?' IN pathq) > 0 THEN split_part(pathq, '?', 1) ELSE pathq END AS path0,
        |    CASE WHEN position('?' IN pathq) > 0 THEN substr(pathq, position('?' IN pathq) + 1) ELSE '' END AS query
        |  FROM parts),
        |normed AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |           OR (scheme = 'https' AND port = '443') THEN ''
        |         ELSE ':' || port END ||
        |    regexp_replace(path0, '/+$', '') ||
        |    CASE WHEN len(list_filter(string_split(query, '&'), p -> p != ''
        |           AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid)='))) = 0
        |         THEN ''
        |         ELSE '?' || array_to_string(list_sort(list_filter(string_split(query, '&'),
        |           p -> p != '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid)='))), '&') END
        |    AS url_norm
        |  FROM pieces)
        |SELECT url_norm, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n
        |FROM normed GROUP BY 1 ORDER BY url_norm""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val g = (col("doc_id") / lit(4)).cast("long")
      val site = concat(lit("site"), g % 7, lit(".example.org"))
      val path = concat(lit("/p/"), g)
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://"), upper(site), lit(":443"), path,
            lit("?utm_source=feed&b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://"), site, path, lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://www."), site, path, lit("/?b=2&a=1&gclid=z")))
        .otherwise(
          concat(lit("https://"), site, path, lit("?b=2&utm_medium=mail&a=1")))
      TextAnalysis.urlDedupGroups(
        d.filter(col("doc_id") < 1000).select(col("doc_id"), url.as("url")),
        "doc_id", "url")
        .orderBy(col("url_norm"))
    }
  )

  /** Docs 100..199 re-planted at +1000000 with the span of benchmark doc
    * `doc_id % 20` appended.
    */
  private def planted(d: DataFrame, spans: DataFrame): DataFrame =
    Fixtures.shifted(Fixtures.quoting(
      d.filter(col("doc_id") >= 100 && col("doc_id") < 200), spans, " "))

  /** The planted-twin corpus used by the dedup oracles. */
  private lazy val corpusCte = twinCorpusCte(as = " AS doc_id")

  /** `corpus` = `d` plus docs 100..199 re-planted at +1000000 with the
    * `spans` row of benchmark doc `doc_id % 20` appended — the SQL twin
    * of [[planted]].
    */
  private def plantedCorpusCtes(spans: String): String =
    s"""$spans,
       |planted AS (
       |  SELECT d.doc_id + 1000000 AS doc_id, d.text || ' ' || s.span AS text
       |  FROM d JOIN spans s ON d.doc_id % 20 = s.bid
       |  WHERE d.doc_id >= 100 AND d.doc_id < 200),
       |corpus AS (SELECT doc_id, text FROM d
       |  UNION ALL SELECT doc_id, text FROM planted)""".stripMargin

  /** [[plantedCorpusCtes]] with 60-character benchmark spans. */
  private lazy val substrPlantedCtes: String =
    s"""d AS (SELECT doc_id, text FROM documents),
       |${plantedCorpusCtes("""spans AS (SELECT doc_id AS bid, substr(text, 1, 60) AS span
       |  FROM d WHERE doc_id < 20)""".stripMargin)}""".stripMargin

  /** [[plantedCorpusCtes]] with 8-word benchmark spans, then the distinct
    * 8-grams of the corpus (`cw`, `csh`, `distinct` applied per doc when
    * asked) and of the benchmark docs (`bw`, `bsh`).
    */
  private def gram8PlantedCtes(distinctPerDoc: Boolean): String = {
    val sh8 = if (distinctPerDoc) s"list_distinct(${gram8("words")})" else gram8("words")
    s"""d AS (SELECT doc_id, text FROM documents),
       |w0 AS (SELECT doc_id, $canonWords AS words FROM d),
       |${plantedCorpusCtes("""spans AS (SELECT doc_id AS bid, array_to_string(words[1:8], ' ') AS span
       |  FROM w0 WHERE doc_id < 20)""".stripMargin)},
       |cw AS (SELECT doc_id, $canonWords AS words FROM corpus),
       |csh AS (SELECT doc_id, unnest($sh8) AS sg FROM cw),
       |bw AS (SELECT doc_id, $canonWords AS words FROM d WHERE doc_id < 20),
       |bsh AS (SELECT DISTINCT unnest($sh8) AS sg FROM bw)""".stripMargin
  }

  /** The shared minhash-pair CTE chain (corpus -> shingles -> md5-half
    * permutation signatures -> band-equality candidates -> exact
    * Jaccard), ending in `jac(a, b, j)`.
    */
  private def minhashPairsCtes: String =
    s"""$corpusCte,
       |${shinglesCtes("corpus")},
       |$minhashSigCtes,
       |cand AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |    AND ($minhashBandEq)),
       |jac AS (
       |  SELECT c.a, c.b, $jaccardExpr AS j
       |  FROM cand c JOIN sh sa ON c.a = sa.doc_id JOIN sh sb ON c.b = sb.doc_id)""".stripMargin

  /** Full minhash-LSH recomputation: md5-half permutations, 8 bands of 4,
    * band-equality candidates, exact-Jaccard verify.
    */
  private def minhashOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT a, b, round(j, 6) AS jaccard FROM jac
       |WHERE j >= 0.9 ORDER BY a, b""".stripMargin

  /** Cross-corpus minhash recomputation over a combined-corpus CTE
    * (named `allc`): signatures for both sides, candidates restricted to
    * (ref, fresh) band collisions per the id-space predicates, exact-
    * Jaccard verify — the shared SQL twin of
    * [[graft.operators.Dedup.nearDupsAgainstMinhash]].
    */
  private def crossMinhashOracle(allcSql: String, refPred: String,
      newPred: String, threshold: Double): String =
    s"""WITH allc AS (
       |$allcSql),
       |${shinglesCtes("allc")},
       |$minhashSigCtes,
       |cand AS (
       |  SELECT x.doc_id AS ref_id, y.doc_id AS new_id
       |  FROM sig x JOIN sig y ON (${refPred.replace("doc_id", "x.doc_id")})
       |    AND (${newPred.replace("doc_id", "y.doc_id")})
       |    AND ($minhashBandEq)),
       |jac AS (
       |  SELECT c.ref_id, c.new_id, $jaccardExpr AS j
       |  FROM cand c JOIN sh sa ON c.ref_id = sa.doc_id
       |    JOIN sh sb ON c.new_id = sb.doc_id)
       |SELECT ref_id, new_id, round(j, 6) AS jaccard FROM jac
       |WHERE j >= $threshold ORDER BY ref_id, new_id""".stripMargin

  /** Incremental-dedup recomputation: fresh ids carry the +1000000
    * offset.
    */
  private def minhashIncrOracle: String = crossMinhashOracle(
    """  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id,
      |    CASE WHEN doc_id < 250 THEN text
      |         ELSE text || ' zznew zztoken zzmark' END AS text
      |  FROM documents""".stripMargin,
    refPred = "doc_id < 1000000", newPred = "doc_id >= 1000000",
    threshold = 0.5)

  /** Exact 8-gram decontamination over the planted corpus (benchmark =
    * docs < 20; 100 shifted docs contaminated with a benchmark span).
    * Shared by text_decontaminate and text_decontaminate_bloom — the
    * Bloom prefilter never changes the answer, only the plan.
    */
  private def decontaminateExactOracle: String =
    s"""WITH ${gram8PlantedCtes(distinctPerDoc = false)}
       |SELECT DISTINCT doc_id FROM csh WHERE sg IN (SELECT sg FROM bsh)
       |ORDER BY doc_id""".stripMargin

  /** Fuzzy decontamination: near-copies of benchmark docs (planted at
    * +2000000 with an id-salted suffix) flagged by cross-corpus minhash
    * against the benchmark set (doc_id < 20).
    */
  private def decontaminateFuzzyOracle: String = crossMinhashOracle(
    """  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT p.doc_id + 2000000 AS doc_id,
      |    b.text || ' zz' || CAST(p.doc_id AS VARCHAR) AS text
      |  FROM documents p JOIN documents b ON b.doc_id = p.doc_id % 20
      |  WHERE p.doc_id >= 100 AND p.doc_id < 150""".stripMargin,
    refPred = "doc_id < 20", newPred = "doc_id >= 20",
    threshold = 0.5)

  /** End-to-end dedup: the minhash pair set closed into components with
    * a recursive transitive closure, then the canonical-survivor rule —
    * the oracle twin of `nearDupPairsMinhash |> cluster`.
    */
  private def minhashClusterOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |p AS (SELECT a, b FROM jac WHERE j >= 0.9),
       |und AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
       |reach(id, r) AS (
       |  SELECT u, u FROM und
       |  UNION
       |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |ids AS (SELECT doc_id AS id FROM corpus)
       |SELECT i.id, coalesce(comp.component, i.id) AS component,
       |  i.id = coalesce(comp.component, i.id) AS keep
       |FROM ids i LEFT JOIN comp ON i.id = comp.id
       |ORDER BY i.id""".stripMargin

  /** Full simhash recomputation: md5-lower token hashes, 64 sign
    * counters, 4x16-bit banding (`probe` = 0: some band equal, the
    * default; 1: some band within the 1-bit probe ball, recall-exact for
    * hamming <= 6), hamming verify.
    */
  private def simhashOracle(maxHamming: Int, probe: Int): String = {
    val cntCols = (0 until 64).map(j =>
      s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS c$j").mkString(",\n    ")
    val sigExpr = (0 until 64).map(j =>
      s"CASE WHEN c$j > 0 THEN ${BigInt(1) << j}::UBIGINT ELSE 0::UBIGINT END")
      .mkString(" + ")
    s"""WITH $corpusCte,
       |tk AS (SELECT doc_id,
       |    unnest($canonWords) AS tok
       |  FROM corpus),
       |hv AS (SELECT doc_id, md5_number_lower(tok) AS h FROM tk),
       |cnt AS (SELECT doc_id,
       |    $cntCols
       |  FROM hv GROUP BY doc_id),
       |sig AS (SELECT doc_id, ($sigExpr) AS sh FROM cnt),
       |pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b,
       |    CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
       |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       |    AND (${band16("sh", probe)}))
       |SELECT a, b, hamming FROM pairs WHERE hamming <= $maxHamming ORDER BY a, b""".stripMargin
  }

  /** Embedding near-dup recomputation over the planted-twin corpus: the
    * 384 plane literals (same splitmix64 doubles as the Spark plan),
    * 24x16-bit banding, band-equality candidates (`a`, `b` name the pair;
    * `cross` bounds it; `sep` breaks the vector join), exact cosine
    * verify.
    */
  private def embeddingBandOracle(a: String, b: String, cross: String,
      sep: String): String =
    s"""WITH $vecTwinCtes,
       |${rhpBandCtes(24, 16)},
       |cd AS (
       |  SELECT DISTINCT l.vec_id AS $a, r.vec_id AS $b
       |  FROM bd l JOIN bd r ON $cross ($rhpBandEq)),
       |sc AS (
       |  SELECT cd.$a, cd.$b, va.v AS qv, vb.v AS cv
       |  FROM cd JOIN e va ON cd.$a = va.vec_id$sep JOIN e vb ON cd.$b = vb.vec_id),
       |scored AS (SELECT $a, $b, $cosExpr AS cos0 FROM sc)
       |SELECT $a, $b, round(cos0, 6) AS cos FROM scored
       |WHERE cos0 >= 0.75 ORDER BY $a, $b""".stripMargin

  /** Corpus-wide embedding near-dups — mirrors
    * [[Similarity.nearDupPairsEmbedding]] step for step (incl. the
    * scale-safe band width).
    */
  private def embeddingLshOracle: String =
    embeddingBandOracle("a", "b", "l.vec_id < r.vec_id AND", "")

  /** Incremental embedding dedup: identical plane-literal bands for
    * reference (base ids) and fresh (+1000000 twins); the candidate join
    * keeps only cross-corpus band collisions.
    */
  private def embeddingIncrOracle: String = embeddingBandOracle("ref_id",
    "new_id", "l.vec_id < 1000000 AND r.vec_id >= 1000000\n    AND", "\n   ")
}
