package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.NfcNormalize
import graft.operators.TextAnalysis

/** Text analysis over `documents`: language id, cleaning, script and
  * quality filters, language-model scores, fingerprints, vocabulary,
  * chunking and packing, and BPE training/encoding — each oracle
  * recomputes the operator from the base table in DuckDB SQL.
  */
object TextQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- per-doc character-distribution Shannon entropy (compressibility
    //     proxy: degenerate repetition scores ~0, prose ~4, junk high;
    //     quality pipelines band-filter both tails). One scan-local pass
    //     per doc — no per-character explode/shuffle ------------------
    Query("text_entropy",
      // identical counts, ln/ln(2) to mirror the expression's arithmetic;
      // double divergence is ~1e-15, far inside the 6-decimal compare
      s"""WITH ch AS (SELECT doc_id, unnest(list_transform(
         |    range(1, length(text) + 1),
         |    i -> substr(text, i::INT, 1))) AS c FROM documents),
         |f AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
         |  FROM ch GROUP BY doc_id, c),
         |t AS (SELECT doc_id, sum(n) AS tot FROM f GROUP BY doc_id)
         |SELECT f.doc_id,
         |  round(-sum((n / t.tot) * ln(n / t.tot) / ln(2)), 6) AS entropy
         |FROM f JOIN t ON f.doc_id = t.doc_id
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      d.select(col("doc_id"),
          round(graft.functions.CharEntropy.of(col("text")), 6).as("entropy"))
        .orderBy(col("doc_id"))
    },

    // --- language identification -----------------------------------------
    Query("text_langid",
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    $langScoreCols
         |  FROM documents)
         |SELECT doc_id, lang,
         |  ${langPred("  ")} AS predicted
         |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .orderBy(col("doc_id"))
    },

    // --- HTML-to-text extraction: docs wrapped in markup with script/
    //     style blocks (holding tag-like text), comments, and entities —
    //     named + numeric (decimal/hex/leading-zero/supplementary) decode,
    //     with overflow-length, surrogate, empty-payload, and amp-escaped
    //     references left literal ---------------------------------------
    Query("text_strip_html",
      // identical strip/decode chain: blocks+comments, tags, named
      // entities, numeric references (marker-split + chr() map with the
      // same bounded-length/valid-scalar guards as DecodeNumericEntities),
      // amp LAST, whitespace collapse
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red; }</style><script>if (x < 2) { alert("hi"); }</script></head><body><h1>Doc '
        |      || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
        |      || '</p><!-- hidden comment --><p>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;caf&#233; h&#xE9;llo &#X41;&#0233; gr&#128512; bad&#12345678; sur&#55296; no&#x; esc&#38;lt; amp&amp;#65; end</p></body></html>' AS h
        |  FROM documents WHERE doc_id < 500),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(h,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g') AS b
        |  FROM page),
        |t AS (SELECT doc_id, regexp_replace(b, '<[^>]+>', ' ', 'g') AS b FROM c),
        |e AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(b,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', chr(39), 'g'), '&apos;', chr(39), 'g'),
        |      '&nbsp;', ' ', 'g') AS b
        |  FROM t),
        |m AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(b,
        |      '&#([xX][0-9a-fA-F]{1,6});', chr(1) || '\1' || chr(1), 'g'),
        |      '&#([0-9]{1,7});', chr(1) || 'd\1' || chr(1), 'g') AS b
        |  FROM e),
        |tok AS (SELECT doc_id, unnest(string_split(b, chr(1))) AS s,
        |    generate_subscripts(string_split(b, chr(1)), 1) AS i
        |  FROM m),
        |dec AS (SELECT doc_id, i,
        |    CASE WHEN i % 2 = 0 THEN
        |      CASE WHEN CASE WHEN s LIKE 'd%' THEN try_cast(substr(s, 2) AS INTEGER)
        |                     ELSE try_cast('0x' || substr(s, 2) AS INTEGER) END
        |                BETWEEN 1 AND 1114111
        |            AND NOT (CASE WHEN s LIKE 'd%' THEN try_cast(substr(s, 2) AS INTEGER)
        |                     ELSE try_cast('0x' || substr(s, 2) AS INTEGER) END
        |                BETWEEN 55296 AND 57343)
        |           THEN chr(CASE WHEN s LIKE 'd%' THEN try_cast(substr(s, 2) AS INTEGER)
        |                     ELSE try_cast('0x' || substr(s, 2) AS INTEGER) END)
        |           WHEN s LIKE 'd%' THEN '&#' || substr(s, 2) || ';'
        |           ELSE '&#' || s || ';' END
        |      ELSE s END AS o
        |  FROM tok),
        |g AS (SELECT doc_id, string_agg(o, '' ORDER BY i) AS b FROM dec GROUP BY doc_id)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(b, '&amp;', '&', 'g'), '\s+', ' ', 'g')) AS clean
        |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 500)
      val page = concat(
        lit("<html><head><style>p { color: red; }</style>" +
          "<script>if (x < 2) { alert(\"hi\"); }</script></head>" +
          "<body><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><!-- hidden comment --><p>A &amp; B &lt;tag&gt; " +
          "&quot;q&quot; &#39;s&#39;&nbsp;" +
          "caf&#233; h&#xE9;llo &#X41;&#0233; gr&#128512; " +
          "bad&#12345678; sur&#55296; no&#x; esc&#38;lt; amp&amp;#65; " +
          "end</p></body></html>"))
      d.select(col("doc_id"),
          TextAnalysis.stripHtml(page).as("clean"))
        .orderBy(col("doc_id"))
    },

    // --- Unicode script composition (mostly-Latin gate): every fourth
    //     doc gets a Greek / Cyrillic / Arabic suffix so each listed
    //     script has non-zero mass; zh docs exercise the CJK block ------
    Query("text_scripts",
      // script counts share the exact range literals with the Spark side
      // (TextAnalysis.scriptRanges — explicit BMP blocks, not version-
      // dependent \p{script} classes)
      {
      val rangeCols = TextAnalysis.scriptRanges.map { case (n, r) =>
        s"length(regexp_replace(text, '[^$r]', '', 'g')) AS c_$n"
      }.mkString(",\n    ")
      val sumListed = TextAnalysis.scriptRanges.map(p => s"c_${p._1}")
        .mkString(" + ")
      val ratioCols = TextAnalysis.scriptRanges.map { case (n, _) =>
        s"round(CASE WHEN ns = 0 THEN 0.0 ELSE CAST(c_$n AS DOUBLE) / ns END, 6) AS $n"
      }.mkString(",\n  ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text ||
         |    CASE doc_id % 4 WHEN 0 THEN ' αβγ' WHEN 1 THEN ' привет'
         |         WHEN 2 THEN ' مرحبا' ELSE '' END AS text
         |  FROM documents WHERE doc_id < 500),
         |c AS (
         |  SELECT doc_id,
         |    length(regexp_replace(text, '\\s', '', 'g')) AS ns,
         |    $rangeCols
         |  FROM corpus)
         |SELECT doc_id,
         |  $ratioCols,
         |  round(CASE WHEN ns = 0 THEN 0.0
         |    ELSE CAST(ns - ($sumListed) AS DOUBLE) / ns END, 6) AS other
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = d.filter(col("doc_id") < 500).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" αβγ"))
            .when(col("doc_id") % 4 === 1,
              lit(" привет"))
            .when(col("doc_id") % 4 === 2,
              lit(" مرحبا"))
            .otherwise(lit(""))).as("text"))
      corpus.select(col("doc_id") +:
          TextAnalysis.scriptRatioCols(col("text")).map { case (n, c) =>
            round(c, 6).as(n)
          }: _*)
        .orderBy(col("doc_id"))
    },

    // --- quality scoring ---------------------------------------------------
    Query("text_quality",
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    CASE WHEN trim(text) = '' THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |    $stopHits AS stop_hits,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / length(text) END AS praw
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_pieces,
         |  round(CASE WHEN length(text) = 0 THEN 0.0
         |    ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS alpha_ratio,
         |  round(praw, 6) AS punct_ratio,
         |  round(CASE WHEN n_tokens = 0 THEN 0.0
         |    ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_tokens END, 6) AS mean_token_len,
         |  stop_hits,
         |  round(LEAST(n_tokens / 20.0, 1.0) * 0.4
         |      + LEAST(stop_hits / 3.0, 1.0) * 0.3
         |      + GREATEST(0.0, 1.0 - praw * 5.0) * 0.3, 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_pieces"),
          round(TextAnalysis.alphaRatio(col("text")), 6).as("alpha_ratio"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.meanTokenLen(col("text")), 6).as("mean_token_len"),
          TextAnalysis.stopwordHits(col("text")).as("stop_hits"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // --- repetition filter (corpus-cleaning: drop keyword-stuffed /
    //     degenerate docs by duplicate-word fraction) ----------------------
    Query("text_repetition",
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |    string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(CASE WHEN n_words = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END, 6) AS dup_ratio,
        |  round(CASE WHEN n_words = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END, 6) < 0.8 AS keep
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_words"),
          round(TextAnalysis.wordRepetitionRatio(col("text")), 6).as("dup_ratio"))
        .withColumn("keep", col("dup_ratio") < 0.8)
        .orderBy(col("doc_id"))
    },

    // --- PII scrubbing (planted emails/IPs/long numbers -> typed tokens;
    //     oracle recomputes the scrub with the identical portable regexes) -
    Query("text_pii_scrub", {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val num = "\\d{9,}"
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000 AS doc_id,
         |    text || ' contact bob.smith+x@mail.example.org or 10.42.0.255 ref 9876543210123' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_longnums,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ipv4', '<IP>', 'g'),
         |    '$num', '<NUM>', 'g') AS scrubbed
         |FROM corpus ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = d.select(col("doc_id"), col("text"))
        .union(d.select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" contact bob.smith+x@mail.example.org " +
            "or 10.42.0.255 ref 9876543210123")).as("text")))
      corpus.select(col("doc_id"),
          TextAnalysis.piiCount(col("text"), TextAnalysis.piiEmailRe).as("n_emails"),
          TextAnalysis.piiCount(col("text"), TextAnalysis.piiIpv4Re).as("n_ipv4"),
          TextAnalysis.piiCount(col("text"), TextAnalysis.piiLongNumRe).as("n_longnums"),
          TextAnalysis.scrubPii(col("text")).as("scrubbed"))
        .orderBy(col("doc_id"))
    },

    // --- document fingerprinting ------------------------------------------
    Query("text_fingerprint",
      """SELECT doc_id,
        |  md5(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // --- NFC-composed fingerprinting: every doc planted TWICE, once with
    //     a precomposed suffix (é, 가) and once with its decomposed twin
    //     (e+U+0301, jamo pair) — with NFC in the key both collapse onto
    //     ONE fingerprint group (n=2 per group); the byte-level default
    //     would keep them apart. Oracle: DuckDB nfc_normalize before the
    //     canonical md5 -------------------------------------------------
    Query("text_fingerprint_nfc",
      // composed (é = chr(233), 가 = chr(44032)) and decomposed
      // (e+chr(769), chr(4352)+chr(4449)) suffixes must land in ONE group
      """WITH corpus AS (
        |  SELECT doc_id, text || ' caf' || chr(233) || ' ' || chr(44032) AS text
        |  FROM documents
        |  UNION ALL SELECT doc_id + 1000000,
        |    text || ' cafe' || chr(769) || ' ' || chr(4352) || chr(4449) AS text
        |  FROM documents)
        |SELECT md5(regexp_replace(replace(replace(lower(trim(nfc_normalize(text))), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g')) AS fp,
        |  MIN(doc_id) AS keeper, COUNT(*) AS n
        |FROM corpus GROUP BY 1 ORDER BY fp""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = d.select(col("doc_id"),
          concat(col("text"), lit(" caf\u00e9 \uac00")).as("text"))
        .union(d.select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" cafe\u0301 \u1100\u1161")).as("text")))
      corpus.select(TextAnalysis.fingerprintNfc(col("text")).as("fp"),
          col("doc_id"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
        .orderBy(col("fp"))
    },

    // --- corpus vocabulary statistics: token tf/df, top-100 -------------
    Query("text_vocab",
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |tfx AS (SELECT token, count(*) AS tf
        |  FROM (SELECT unnest(t) AS token FROM toks) GROUP BY 1),
        |dfx AS (SELECT token, count(*) AS df
        |  FROM (SELECT unnest(list_distinct(t)) AS token FROM toks) GROUP BY 1)
        |SELECT tfx.token, tfx.tf, dfx.df
        |FROM tfx JOIN dfx ON tfx.token = dfx.token
        |ORDER BY tfx.tf DESC, tfx.token LIMIT 100""".stripMargin) { (s, dir) =>
      TextAnalysis.vocabStats(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("tf").desc, col("token"))
        .limit(100)
    },

    // --- token-budget chunking (sequence packing) ------------------------
    Query("text_chunk",
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id AS id, CAST(i - 1 AS INT) AS chunk_id,
        |  CAST(least(32, len(t) - (i - 1) * 32) AS BIGINT) AS n_tokens,
        |  array_to_string(t[(i - 1) * 32 + 1 : (i - 1) * 32 + 32], ' ') AS chunk
        |FROM w, unnest(generate_series(1,
        |  greatest(CAST(ceil(len(t) / 32.0) AS BIGINT), 1))) AS g(i)
        |ORDER BY id, chunk_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 100)
      TextAnalysis.chunkByTokens(d, "doc_id", "text", maxTokens = 32)
        .orderBy(col("id"), col("chunk_id"))
    },

    // --- sliding-window chunking: 32-token windows every 24 tokens ------
    Query("text_chunk_sliding",
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id AS id, CAST(i AS INT) AS chunk_id,
        |  CAST(i * 24 AS BIGINT) AS start,
        |  CAST(least(32, len(t) - i * 24) AS BIGINT) AS n_tokens,
        |  array_to_string(t[CAST(i * 24 + 1 AS INT) : CAST(i * 24 + 32 AS INT)], ' ') AS chunk
        |FROM w, unnest(range(0,
        |  greatest(CAST(ceil((len(t) - 32) / 24.0) AS BIGINT), 0) + 1)) AS g(i)
        |ORDER BY id, chunk_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 100)
      TextAnalysis.chunkByTokensSliding(d, "doc_id", "text",
          window = 32, stride = 24)
        .orderBy(col("id"), col("chunk_id"))
    },

    // --- global sequence packing: every chunk's global token offset via
    //     a distributed prefix sum (range exchange + per-partition
    //     running sums — never a single-partition global window) --------
    Query("text_pack",
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id AS id, CAST(i - 1 AS INT) AS chunk_id,
        |    CAST(least(32, len(t) - (i - 1) * 32) AS BIGINT) AS n_tokens
        |  FROM w, unnest(generate_series(1,
        |    greatest(CAST(ceil(len(t) / 32.0) AS BIGINT), 1))) AS g(i)),
        |o AS (
        |  SELECT id, chunk_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |  FROM ch)
        |SELECT id, chunk_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
        |  CAST(tok_offset // 512 AS BIGINT) AS seq_id,
        |  CAST(tok_offset % 512 AS BIGINT) AS seq_pos,
        |  (tok_offset % 512) + n_tokens > 512 AS spans_next
        |FROM o ORDER BY id, chunk_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val chunks = TextAnalysis.chunkByTokens(d, "doc_id", "text", maxTokens = 32)
      TextAnalysis.packSequences(chunks, tokensPerSeq = 512)
        .orderBy(col("id"), col("chunk_id"))
    },

    // --- Gopher rule battery: word-count / mean-length / alpha-word /
    //     stopword bounds -> keep verdict (scan-local projection) --------
    Query("text_gopher",
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |$gopherCols
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_words, stop_hits,
         |    $meanWordLen AS mwl,
         |    $alphaWordRatio AS awr
         |  FROM t)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  round(mwl, 6) AS mean_word_len,
         |  round(awr, 6) AS alpha_word_ratio, stop_hits,
         |  (n_words >= 20 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
         |   AND awr >= 0.8 AND stop_hits >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_words"),
          round(TextAnalysis.meanTokenLen(col("text")), 6).as("mean_word_len"),
          round(TextAnalysis.alphaWordRatio(col("text")), 6).as("alpha_word_ratio"),
          TextAnalysis.stopwordHits(col("text")).as("stop_hits"),
          TextAnalysis.gopherKeep(col("text")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // --- hashed unigram LM quality scoring (CCNet shape): train pass
    //     yields a bounded bucket table, apply pass scores each doc by
    //     exact integer quantized log-frequency sums ---------------------
    Query("text_lm_score",
      // hashed unigram LM: identical md5 buckets, quantized log2 via the
      // exact bin()-length trick on both engines
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, (md5_number_lower(token) >> 1) % 1024 AS bucket
        |  FROM tok),
        |lm AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(length(bin(cnt)) - 1) AS BIGINT) AS logq_sum
        |  FROM b JOIN lm USING (bucket) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, logq_sum,
        |  round(CAST(logq_sum AS DOUBLE) / n_tokens, 6) AS lm_score
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val lm = TextAnalysis.unigramLmCounts(d, "text", nBuckets = 1024)
      TextAnalysis.lmScore(d, "doc_id", "text", lm, nBuckets = 1024)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("logq_sum"), col("lm_score"))
        .orderBy(col("doc_id"))
    },

    // --- bigram Stupid-Backoff LM scoring (Brants et al. 2007): fluent
    //     text scores high on common word PAIRS; unseen bigrams back off
    //     to the w2 unigram with a fixed 2^-4 discount. All quantized
    //     integer logs, one double division per doc -----------------------
    Query("text_bigram_lm",
      // bigram Stupid Backoff: identical md5 buckets for bigram strings
      // and both unigrams, quantized logs via bin()-length, CASE backoff
      // with the fixed integer penalty
      """WITH tok AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT (md5_number_lower(u.token) >> 1) % 1024 AS bucket,
        |    count(*) AS cnt
        |  FROM (SELECT unnest(t) AS token FROM tok
        |    JOIN documents USING (doc_id) WHERE lang = 'en') u
        |  GROUP BY 1),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> struct_pack(w1 := t[i::INT], w2 := t[i::INT + 1]))) AS p
        |  FROM tok WHERE len(t) >= 2),
        |bib AS (
        |  SELECT doc_id,
        |    (md5_number_lower(p.w1 || ' ' || p.w2) >> 1) % 1024 AS bb,
        |    (md5_number_lower(p.w1) >> 1) % 1024 AS b1,
        |    (md5_number_lower(p.w2) >> 1) % 1024 AS b2
        |  FROM bg),
        |bi AS (
        |  SELECT bb AS bucket, count(*) AS cnt
        |  FROM bib JOIN documents USING (doc_id)
        |  WHERE lang = 'en' GROUP BY 1),
        |q AS (
        |  SELECT x.doc_id,
        |    CASE WHEN b.cnt IS NOT NULL
        |      THEN (length(bin(b.cnt)) - 1)
        |        - (length(bin(coalesce(u1.cnt, 0))) - 1)
        |      ELSE (length(bin(coalesce(u2.cnt, 0))) - 1) - 4
        |    END AS q
        |  FROM bib x
        |  LEFT JOIN bi b ON x.bb = b.bucket
        |  LEFT JOIN uni u1 ON x.b1 = u1.bucket
        |  LEFT JOIN uni u2 ON x.b2 = u2.bucket),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(q) AS BIGINT) AS logq_sum
        |  FROM q GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, logq_sum,
        |  round(CAST(logq_sum AS DOUBLE) / n_bigrams, 6) AS bo_score
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      // train on the English slice, score the WHOLE corpus: non-English
      // docs carry genuinely unseen bigrams, so the backoff branch is
      // exercised (self-training would make it vacuous)
      val train = d.filter(col("lang") === "en")
      val uni = TextAnalysis.unigramLmCounts(train, "text", nBuckets = 1024)
      val bi = TextAnalysis.bigramLmCounts(train, "text", nBuckets = 1024)
      TextAnalysis.bigramLmScore(d, "doc_id", "text", uni, bi,
          nBuckets = 1024)
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("logq_sum"), col("bo_score"))
        .orderBy(col("doc_id"))
    },

    // --- model-based quality classifier (DCLM/FineWeb-Edu shape): train
    //     a hashed-bag-of-words NB log-ratio model on lang='en' labels,
    //     round-trip it through the persisted-model lifecycle, score the
    //     corpus with exact integer weight sums ------------------------
    Query("text_quality_clf",
      // NB log-count-ratio classifier: identical md5 buckets, quantized
      // logs via the exact bin()-length trick, integer weight sums
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS pos, unnest(string_split(
        |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, pos, (md5_number_lower(token) >> 1) % 1024 AS bucket
        |  FROM tok),
        |m AS (
        |  SELECT bucket,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_cnt,
        |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS neg_cnt
        |  FROM b GROUP BY 1),
        |w AS (
        |  SELECT bucket,
        |    (length(bin(pos_cnt)) - 1) - (length(bin(neg_cnt)) - 1) AS weight
        |  FROM m),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(coalesce(weight, 0)) AS BIGINT) AS clf_sum
        |  FROM b LEFT JOIN w USING (bucket) GROUP BY 1)
        |SELECT doc_id, n_tokens, clf_sum,
        |  round(CAST(clf_sum AS DOUBLE) / n_tokens, 6) AS clf_mean
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val model = TextAnalysis.trainQualityClassifier(
        d, "text", col("lang") === "en", nBuckets = 1024)
      val mdir = Scratch.dir("qclf", dir)
      TextAnalysis.QualityModel.save(model, mdir)
      val loaded = TextAnalysis.QualityModel.load(s, mdir)
      TextAnalysis.scoreQualityClassifier(d, "doc_id", "text", loaded,
          nBuckets = 1024)
        .select(col("id").as("doc_id"), col("n_tokens"), col("clf_sum"),
          col("clf_mean"))
        .orderBy(col("doc_id"))
    },

    // --- DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    //     importance weights of raw docs vs an English target slice,
    //     deterministic top-100 pick by normalized weight. Uses the
    //     fused in-corpus counting pass (2 feature scans, not 3) --------
    Query("text_dsir_select",
      // DSIR: unigram+bigram hashed features, quantized log-likelihood
      // ratio of the en-target vs raw distributions, deterministic top-100
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(
        |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(toks || CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)),
        |      i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+1], ' '))
        |    ELSE [] END) AS feat
        |  FROM t),
        |b AS (
        |  SELECT doc_id, lang, (md5_number_lower(feat) >> 1) % 1024 AS bucket
        |  FROM feats),
        |tc AS (SELECT bucket, count(*) AS cnt FROM b WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |lam AS (
        |  SELECT rc.bucket,
        |    (length(bin(coalesce(tc.cnt, 0))) - 1) - (length(bin(rc.cnt)) - 1) AS lambda
        |  FROM rc LEFT JOIN tc USING (bucket)),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_feats,
        |    CAST(sum(coalesce(lambda, 0)) AS BIGINT) AS dsir_sum
        |  FROM b LEFT JOIN lam USING (bucket) GROUP BY 1),
        |sel AS (
        |  SELECT doc_id, n_feats, dsir_sum,
        |    round(CAST(dsir_sum AS DOUBLE) / n_feats, 6) AS dsir_mean
        |  FROM sc ORDER BY dsir_mean DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_feats, dsir_sum, dsir_mean
        |FROM sel ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      TextAnalysis.dsirWeightsWithin(d, "doc_id", "text",
          targetCond = col("lang") === "en", nBuckets = 1024)
        .orderBy(col("dsir_mean").desc, col("id")).limit(100)
        .select(col("id").as("doc_id"), col("n_feats"), col("dsir_sum"),
          col("dsir_mean"))
        .orderBy(col("doc_id"))
    },

    // --- Luhn card detection: planted valid + invalid digit runs; only
    //     checksum-valid candidates flag (precision over scrub-all) -----
    Query("text_pii_cards",
      // integer double-and-fold Luhn over leftmost non-overlapping runs
      """WITH corpus AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 2 = 0
        |    THEN ' card 4539578763621486 ref 1234567890123'
        |    ELSE ' acct 79927398713999 ord 4111111111111111' END AS text
        |  FROM documents WHERE doc_id < 200),
        |cand AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[0-9]{13,19}')) AS candidate
        |  FROM corpus)
        |SELECT doc_id, candidate,
        |  list_sum(list_transform(range(1, length(candidate) + 1), i ->
        |    CASE WHEN (length(candidate) - i) % 2 = 1
        |      THEN CASE WHEN CAST(candidate[i] AS INT) * 2 > 9
        |        THEN CAST(candidate[i] AS INT) * 2 - 9
        |        ELSE CAST(candidate[i] AS INT) * 2 END
        |      ELSE CAST(candidate[i] AS INT) END)) % 10 = 0 AS valid
        |FROM cand ORDER BY doc_id, candidate""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.filter(col("doc_id") < 200)
      val corpus = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            lit(" card 4539578763621486 ref 1234567890123"))
            .otherwise(lit(" acct 79927398713999 ord 4111111111111111")))
          .as("text"))
      corpus.select(col("doc_id"),
          explode(TextAnalysis.cardCandidates(col("text"))).as("candidate"))
        .withColumn("valid", TextAnalysis.luhnValid(col("candidate")))
        .orderBy(col("doc_id"), col("candidate"))
    },

    // --- ARI readability (Senter & Smith 1967): the syllable-free
    //     readability heuristic as a pure scan-local projection ---------
    Query("text_readability",
      // identical fixed-order float arithmetic on both engines
      """SELECT doc_id,
        |  length(regexp_replace(text, '\s+', '', 'g')) AS n_chars_ns,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |  greatest(len(string_split_regex(text, '[.!?]+')) - 1, 1) AS n_sentences,
        |  CASE WHEN (CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END) > 0 THEN
        |    CAST(floor((4.71 * (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / (CASE WHEN trim(text) = '' THEN 0
        |           ELSE len(string_split_regex(trim(text), '\s+')) END))
        |      + 0.5 * (CAST((CASE WHEN trim(text) = '' THEN 0
        |           ELSE len(string_split_regex(trim(text), '\s+')) END) AS DOUBLE)
        |        / greatest(len(string_split_regex(text, '[.!?]+')) - 1, 1))
        |      - 21.43) * 1000000 + 0.5) AS BIGINT)
        |  END AS ari_q
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      d.select(col("doc_id"),
          // cast: Spark length() is INT, DuckDB's is BIGINT — align widths
          length(regexp_replace(col("text"), "\\s+", "")).cast("long")
            .as("n_chars_ns"),
          TextAnalysis.wsTokenCount(col("text")).as("n_words"),
          greatest(size(split(col("text"), "[.!?]+")) - 1, lit(1))
            .cast("long").as("n_sentences"),
          // quantized micro-units: engine round() implementations can
          // disagree by one ulp at a .5 boundary; floor(x*1e6+0.5) is the
          // same IEEE ops on both sides, hence exact
          floor(TextAnalysis.ariScore(col("text")) * 1000000 + 0.5)
            .cast("long").as("ari_q"))
        .orderBy(col("doc_id"))
    },

    // --- BPE pair statistics: top adjacent character pairs within
    //     canonical tokens (one merge step of tokenizer training) --------
    Query("text_bpe_pairs",
      """WITH toks AS (
        |  SELECT unnest(string_split(
        |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ')) AS w
        |  FROM documents),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair
        |  FROM toks, UNNEST(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2)
        |SELECT pair, count(*) AS cnt FROM p
        |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50""".stripMargin) { (s, dir) =>
      TextAnalysis.bpePairStats(Tables(s, dir).documents, "text")
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)
    },

    // --- Gopher duplicate/top n-gram signals (the §A1.1 repetition
    //     battery beyond the distinct-word ratio) -------------------------
    Query("text_rep_ngrams",
      """WITH t AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |c2 AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)),
        |        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+1], ' '))
        |      ELSE [] END) AS gram FROM t)
        |  GROUP BY 1, 2),
        |top2 AS (
        |  SELECT doc_id, cnt * length(gram) AS topchars FROM (
        |    SELECT doc_id, gram, cnt,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk
        |    FROM c2) WHERE rk = 1),
        |tot2 AS (SELECT doc_id, sum(cnt * length(gram)) AS tot
        |  FROM c2 GROUP BY 1),
        |d5 AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup,
        |    sum(cnt * length(gram)) AS tot,
        |    sum(cnt) AS m
        |  FROM (
        |    SELECT doc_id, gram, count(*) AS cnt FROM (
        |      SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
        |        THEN list_transform(range(1, len(toks) - 3),
        |          i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' '))
        |        ELSE [] END) AS gram FROM t)
        |    GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  CASE WHEN coalesce(tot2.tot, 0) = 0 THEN 0.0
        |    ELSE round(CAST(top2.topchars AS DOUBLE) / tot2.tot, 6) END AS top2,
        |  CASE WHEN coalesce(d5.m, 0) < 2 OR coalesce(d5.tot, 0) = 0 THEN 0.0
        |    ELSE round(CAST(d5.dup AS DOUBLE) / d5.tot, 6) END AS dup5
        |FROM t LEFT JOIN top2 ON t.doc_id = top2.doc_id
        |  LEFT JOIN tot2 ON t.doc_id = tot2.doc_id
        |  LEFT JOIN d5 ON t.doc_id = d5.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetitionNgramStats(
          Tables(s, dir).documents, "doc_id", "text", topN = 2, dupN = 5)
        .orderBy(col("doc_id"))
    },

    // --- BPE trainer: 3 driver-picked merge rounds over the corpus
    //     vocab; output is the merge table --------------------------------
    Query("text_bpe_train", bpeTrainOracle(3)) { (s, dir) =>
      TextAnalysis.bpeTrain(Tables(s, dir).documents, "text", nMerges = 3)
    },

    // --- deep BPE trainer: 64 merges via BATCHED selection (8 rounds x
    //     up to 8 greedy-disjoint picks per recount) — proves the
    //     driver loop at real depth: merge count scales with nMerges/batch
    //     rounds, not nMerges ------------------------------------------
    Query("text_bpe_train_deep", bpeTrainBatchedOracle(64, 8)) { (s, dir) =>
      TextAnalysis.bpeTrain(Tables(s, dir).documents, "text",
        nMerges = 64, batch = 8)
    },

    // --- BPE apply: encode the corpus with the 3 trained merges; the
    //     merge table is a bounded driver-side collect (nMerges rows) ----
    Query("text_bpe_encode", bpeApplyOracle(3)) { (s, dir) =>
      val d = Tables(s, dir).documents
      val merges = TextAnalysis.bpeTrain(d, "text", nMerges = 3)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeApply(d, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    },

    // --- boilerplate line removal: planted repeated lines (newsletter on
    //     every even doc, cookie banner on every fifth) vanish; per-doc
    //     unique lines survive in original order -------------------------
    Query("text_boilerplate",
      """WITH corpus AS (
        |  SELECT doc_id, text || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today'
        |         ELSE 'footer note ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'cookie policy accept all'
        |         ELSE 'unique line ' || CAST(doc_id AS VARCHAR) END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, i AS pos, ls[CAST(i AS INT) + 1] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
        |       UNNEST(range(0, len(ls))) AS t(i)),
        |freq AS (SELECT line FROM lines
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 50),
        |kept AS (SELECT doc_id, pos, line FROM lines
        |  WHERE line NOT IN (SELECT line FROM freq)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id AS id, coalesce(a.text, '') AS text
        |FROM (SELECT doc_id FROM corpus) d LEFT JOIN agg a USING (doc_id)
        |ORDER BY id""".stripMargin) { (s, dir) =>
      val corpus = Tables(s, dir).documents.select(col("doc_id"),
        concat_ws("\n", col("text"),
          when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter today"))
            .otherwise(concat(lit("footer note "), col("doc_id"))),
          when(col("doc_id") % 5 === 0, lit("cookie policy accept all"))
            .otherwise(concat(lit("unique line "), col("doc_id")))).as("text"))
      TextAnalysis.stripBoilerplateLines(corpus, "doc_id", "text", minDocs = 50)
        .orderBy(col("id"))
    },

    // --- URL/domain provenance rollup (URLs planted deterministically:
    //     every third doc cites one of 7 sites, every 12th a second) ----
    Query("text_domains", {
      val url = "https?://[A-Za-z0-9.-]+[A-Za-z0-9](/[A-Za-z0-9/._~-]*)?"
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
         |      || CASE WHEN doc_id % 12 = 0
         |         THEN ' and http://mirror.example.net/x' || CAST(doc_id AS VARCHAR)
         |         ELSE '' END AS text
         |  FROM documents WHERE doc_id % 3 = 0),
         |u AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$url', 0)) AS url
         |  FROM corpus),
         |d AS (
         |  SELECT doc_id,
         |    regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain
         |  FROM u)
         |SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits
         |FROM d GROUP BY 1 ORDER BY domain""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" see https://site"), col("doc_id") % 7,
            lit(".example.org/p/"), col("doc_id"),
            when(col("doc_id") % 12 === 0,
              concat(lit(" and http://mirror.example.net/x"), col("doc_id")))
              .otherwise(lit(""))).as("text"))
      TextAnalysis.domainStats(corpus, "doc_id", "text")
        .orderBy(col("domain"))
    },

    // --- Unicode NFC normalization: decomposed accents + Hangul jamo
    //     planted; oracle is DuckDB's utf8proc nfc_normalize ------------
    Query("text_nfc",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' ' || chr(4352) || chr(4449) AS text
        |  FROM documents WHERE doc_id < 500)
        |SELECT doc_id, nfc_normalize(text) AS nfc_text,
        |  (nfc_normalize(text) != text) AS changed
        |FROM corpus ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = d.filter(col("doc_id") < 500).select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 \u1100\u1161")).as("text"))
      corpus.select(col("doc_id"),
          NfcNormalize.of(col("text")).as("nfc_text"),
          (NfcNormalize.of(col("text")) =!= col("text")).as("changed"))
        .orderBy(col("doc_id"))
    },

    // --- C4 heuristic cleaning battery: lines planted so each rule has
    //     survivors and victims (short / no-punct / javascript lines;
    //     lorem-ipsum and curly-brace pages) ------------------------------
    Query("text_c4_filters",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'too short.'
        |      || chr(10) || 'this line has plenty of words but no terminal mark'
        |      || chr(10) || 'please enable javascript to view item ' || CAST(doc_id AS VARCHAR) || '.'
        |      || chr(10) || 'a perfectly fine closing sentence about document ' || CAST(doc_id AS VARCHAR) || '.'
        |      || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.'
        |              WHEN doc_id % 23 = 0 THEN chr(10) || 'if (x) { return; }'
        |              ELSE '' END AS text
        |  FROM documents WHERE doc_id < 500),
        |sig AS (
        |  SELECT doc_id AS id,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    list_filter(string_split(text, chr(10)), l ->
        |      regexp_matches(trim(l), '[.!?"”]$')
        |      AND len(list_filter(regexp_split_to_array(trim(l), '\s+'), t -> t != '')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_curly
        |  FROM corpus)
        |SELECT id, n_lines, CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  has_lorem, has_curly, array_to_string(kept, chr(10)) AS clean_text,
        |  (len(kept) >= 3 AND NOT has_lorem AND NOT has_curly) AS keep
        |FROM sig ORDER BY id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val corpus = d.filter(col("doc_id") < 500).select(col("doc_id"),
        concat_ws("\n",
          col("text"),
          lit("too short."),                                  // < 5 words
          lit("this line has plenty of words but no terminal mark"),
          concat(lit("please enable javascript to view item "),
            col("doc_id"), lit(".")),                         // js line
          concat(lit("a perfectly fine closing sentence about document "),
            col("doc_id"), lit("."))).as("text"))
        .withColumn("text",
          when(col("doc_id") % 17 === 0,
            concat(col("text"), lit("\nlorem ipsum dolor sit amet.")))
          .when(col("doc_id") % 23 === 0,
            concat(col("text"), lit("\nif (x) { return; }")))
          .otherwise(col("text")))
      TextAnalysis.c4Signals(corpus, "doc_id", "text").orderBy(col("id"))
    }
  )

  /** text_bpe_train oracle: unfold [[graft.operators.TextAnalysis
    * .bpeTrain]]'s driver loop into `n` nested CTE stages. Each stage
    * recomputes the weighted pair counts from the enclosed-symbol
    * encoding (`␁s1␁␁s2␁…`), picks the same argmax (ties by pair
    * string), and applies the identical non-regex `replace` merge.
    */
  // shared CTE builders for the bpe oracles ------------------------------

  /** The chosen pair `pK`'s enclosed-pattern / merged-replacement pair. */
  private def bpePat(step: Int): (String, String) = (
    s"chr(1)||string_split((SELECT pr FROM p$step), chr(1))[1]||chr(1)||" +
      s"chr(1)||string_split((SELECT pr FROM p$step), chr(1))[2]||chr(1)",
    s"chr(1)||replace((SELECT pr FROM p$step), chr(1), '')||chr(1)")

  /** WITH-stage stack shared by the bpe train/apply oracles: tokenize,
    * vocab, enc0 encoding, then n rounds of argmax pick + merge (the
    * final merge only when `mergeLast`).
    */
  private def bpeStages(n: Int, mergeLast: Boolean): String = {
    def pick(step: Int, src: String) =
      s"""p$step AS (
         |  SELECT pr, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(sy)),
         |      i -> sy[i] || chr(1) || sy[i+1])) AS pr, c
         |    FROM (SELECT c, string_split(substr(sym, 2, length(sym)-2),
         |      chr(1)||chr(1)) AS sy FROM $src))
         |  GROUP BY pr ORDER BY cnt DESC, pr LIMIT 1)""".stripMargin
    def merge(step: Int, src: String) = {
      val (pat, rep) = bpePat(step)
      s"""enc$step AS (
         |  SELECT c, replace(sym, $pat, $rep) AS sym
         |  FROM $src)""".stripMargin
    }
    val stages = (1 to n).flatMap { i =>
      val src = s"enc${i - 1}"
      Seq(pick(i, src)) ++
        (if (i < n || mergeLast) Seq(merge(i, src)) else Nil)
    }
    s"""$bpeHeader,
       |${stages.mkString(",\n")}""".stripMargin
  }

  /** Shared tokenize → vocab → enclosed-symbol-encoding CTE header of
    * every bpe oracle (no trailing comma).
    */
  private def bpeHeader: String =
    s"""tok AS (
       |  SELECT unnest(string_split(
       |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'), ' ')) AS w
       |  FROM documents),
       |vocab AS (SELECT w, count(*) AS c FROM tok
       |  WHERE length(w) >= 1 GROUP BY w),
       |enc0 AS (SELECT c, list_aggregate(list_transform(
       |    string_split(w, ''), ch -> chr(1)||ch||chr(1)),
       |    'string_agg', '') AS sym FROM vocab)""".stripMargin

  private def bpeTrainOracle(n: Int): String = {
    val unions = (1 to n).map { i =>
      s"""SELECT $i AS step, string_split(pr, chr(1))[1] AS lhs,
         |  string_split(pr, chr(1))[2] AS rhs, cnt FROM p$i""".stripMargin
    }
    s"""WITH ${bpeStages(n, mergeLast = false)}
       |${unions.mkString("\nUNION ALL\n")}
       |ORDER BY step""".stripMargin
  }

  /** text_bpe_train_deep oracle: replay of [[graft.operators.TextAnalysis
    * .bpeTrain]]'s BATCHED selection. Per round: one pair recount
    * (materialized, LIMIT batch*8 candidates by cnt desc / pr), then
    * `batch` pick CTEs — pick k is the argmax among candidates whose two
    * symbols are DISJOINT from every earlier pick of the round (its lhs,
    * rhs, AND concatenation lhs||rhs; an empty pick NULL-poisons the
    * comparisons of all later picks, which is exactly greedy
    * exhaustion) — then ONE merge stage applying the
    * picks' replaces in pick order (empty picks coalesce to a chr(2)
    * no-op pattern). Steps renumber by (round, pick) at the end.
    */
  private def bpeTrainBatchedOracle(nMerges: Int, batch: Int): String = {
    val k = batch * 8
    val nRounds = (nMerges + batch - 1) / batch
    def picksIn(r: Int) = math.min(batch, nMerges - (r - 1) * batch)
    def pick(r: Int, j: Int) = s"p${r}_$j"
    val stages = (1 to nRounds).flatMap { r =>
      val src = s"enc${r - 1}"
      val cand =
        s"""cand$r AS MATERIALIZED (
           |  SELECT pr, cnt, string_split(pr, chr(1))[1] AS lhs,
           |    string_split(pr, chr(1))[2] AS rhs
           |  FROM (
           |    SELECT pr, CAST(sum(c) AS BIGINT) AS cnt FROM (
           |      SELECT unnest(list_transform(range(1, len(sy)),
           |        i -> sy[i] || chr(1) || sy[i+1])) AS pr, c
           |      FROM (SELECT c, string_split(substr(sym, 2, length(sym)-2),
           |        chr(1)||chr(1)) AS sy FROM $src))
           |    GROUP BY pr ORDER BY cnt DESC, pr LIMIT $k))""".stripMargin
      val picks = (1 to picksIn(r)).map { j =>
        val disjoint = (1 until j).map { i =>
          val p = pick(r, i)
          // third exclusion term (lhs||rhs): a candidate whose symbol
          // equals an earlier pick's CONCATENATION would merge
          // occurrences that pick's replace just created — counts not
          // in this round's recount (mirrors bpeTrain's used += a+b)
          s"""lhs <> (SELECT lhs FROM $p) AND lhs <> (SELECT rhs FROM $p)
             |    AND rhs <> (SELECT lhs FROM $p) AND rhs <> (SELECT rhs FROM $p)
             |    AND lhs <> (SELECT lhs||rhs FROM $p)
             |    AND rhs <> (SELECT lhs||rhs FROM $p)""".stripMargin
        }
        val where =
          if (disjoint.isEmpty) "" else disjoint.mkString("\n  WHERE ", "\n    AND ", "")
        s"""${pick(r, j)} AS MATERIALIZED (
           |  SELECT pr, cnt, lhs, rhs FROM cand$r$where
           |  ORDER BY cnt DESC, pr LIMIT 1)""".stripMargin
      }
      val merged = (1 to picksIn(r)).foldLeft("sym") { (acc, j) =>
        val p = pick(r, j)
        val pat = s"coalesce(chr(1)||(SELECT lhs FROM $p)||chr(1)||" +
          s"chr(1)||(SELECT rhs FROM $p)||chr(1), chr(2))"
        val rep = s"coalesce(chr(1)||(SELECT lhs FROM $p)||" +
          s"(SELECT rhs FROM $p)||chr(1), '')"
        s"replace($acc, $pat, $rep)"
      }
      // MATERIALIZED is load-bearing on enc/pick: each enc$r is referenced
      // twice (cand$r+1 and enc$r+1) — inlined, the plan doubles per round
      // (2^nRounds expansion; observed: 50 GB for 8 rounds at sf0.01)
      val enc = s"""enc$r AS MATERIALIZED (SELECT c, $merged AS sym FROM $src)"""
      cand +: picks :+ enc
    }
    val unions = (1 to nRounds).flatMap { r =>
      (1 to picksIn(r)).map { j =>
        s"SELECT $r AS r, $j AS k, lhs, rhs, cnt FROM ${pick(r, j)}"
      }
    }
    s"""WITH $bpeHeader,
       |${stages.mkString(",\n")}
       |SELECT CAST(row_number() OVER (ORDER BY r, k) AS INTEGER) AS step,
       |  lhs, rhs, cnt
       |FROM (
       |${unions.mkString("\nUNION ALL\n")}
       |)
       |ORDER BY step""".stripMargin
  }

  /** text_bpe_encode oracle: re-derive the same n merges, then apply them
    * in step order to every document's enclosed-symbol encoding (token
    * boundaries are spaces, so the patterns cannot straddle tokens) and
    * count pieces by symbol-marker arithmetic — the SQL twin of
    * [[graft.operators.TextAnalysis.bpeApply]].
    */
  private def bpeApplyOracle(n: Int): String = {
    val docStages = (1 to n).map { i =>
      val (pat, rep) = bpePat(i)
      s"""doc$i AS (
         |  SELECT doc_id, n_tokens, replace(sym, $pat, $rep) AS sym
         |  FROM doc${i - 1})""".stripMargin
    }
    s"""WITH ${bpeStages(n, mergeLast = false)},
       |doc0 AS (
       |  SELECT doc_id, len(string_split(canon, ' ')) AS n_tokens,
       |    list_aggregate(list_transform(string_split(canon, ' '), t ->
       |      CASE WHEN t = '' THEN '' ELSE
       |        list_aggregate(list_transform(string_split(t, ''),
       |          ch -> chr(1)||ch||chr(1)), 'string_agg', '') END),
       |      'string_agg', ' ') AS sym
       |  FROM (SELECT doc_id,
       |    regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g') AS canon
       |    FROM documents)),
       |${docStages.mkString(",\n")}
       |SELECT doc_id, n_tokens,
       |  (length(sym) - length(replace(sym, chr(1), ''))) // 2 AS n_pieces
       |FROM doc$n ORDER BY doc_id""".stripMargin
  }
}
