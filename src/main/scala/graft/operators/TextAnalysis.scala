package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.WordShingles

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting. All pure
  * Catalyst expressions (codegen'd, no UDFs), so they run at scan speed
  * and survive column pruning — at 100 TB these are the operators that
  * must not leave whole-stage codegen.
  *
  * Every formula here is deliberately SQL-expressible so the DuckDB
  * oracles can recompute it verbatim.
  */
object TextAnalysis {

  // ---- token counting -------------------------------------------------

  /** Whitespace tokenization count (split on runs of whitespace). */
  def wsTokenCount(text: Column): Column = {
    val trimmed = trim(text)
    when(trimmed === "", lit(0L))
      .otherwise(size(split(trimmed, "\\s+")).cast(LongType))
  }

  /** BPE-ish subword proxy: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs — a deterministic stand-in for a real
    * tokenizer's piece count, cheap enough for a full-corpus pass.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)

  /** Repetition ratio: 1 - distinct_words/words over the canonical
    * (lowercased) tokens — the standard corpus-cleaning repetition
    * filter (boilerplate, keyword-stuffed and degenerate-generation
    * pages score high). 0 for empty text.
    */
  def wordRepetitionRatio(text: Column): Column = {
    val toks = canonToks(text)
    val n = size(toks).cast(DoubleType)
    when(trim(text) === "", lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(toks)).cast(DoubleType) / n)
  }

  /** N-grams over an ALREADY-TOKENIZED array — callers that need both
    * the tokens and their n-grams stage the token array once (behind
    * [[graft.functions.Once]]) instead of re-running canonicalization
    * per n-gram width.
    */
  private[graft] def ngramsOfToks(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Gopher §A1.1 repetition signals over the documents of `df`:
    * `top<topN>` = fraction of n-gram characters covered by the single
    * most frequent topN-gram; `dup<dupN>` = fraction of n-gram
    * characters in dupN-grams occurring 2+ times. Scan-local: one fused
    * pass per document ([[graft.functions.NgramRepFractions]]), no
    * per-doc explode, no shuffle.
    */
  def repetitionNgramStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topN: Int = 2, dupN: Int = 5): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        graft.functions.NgramRepFractions.of(col(textCol), topN, dupN).as("__r"))
      .select(col(idCol),
        col("__r").getField("top").as(s"top$topN"),
        col("__r").getField("dup").as(s"dup$dupN"))

  // ---- quality scoring ------------------------------------------------

  def charCount(text: Column): Column = length(text).cast(LongType)

  /** Fraction of characters that are ASCII letters. */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType) /
          length(text).cast(DoubleType))

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast(DoubleType) /
          length(text).cast(DoubleType))

  /** Mean whitespace-token length. */
  def meanTokenLen(text: Column): Column = {
    val n = wsTokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast(DoubleType) /
        n.cast(DoubleType))
  }

  /** Fraction of whitespace tokens containing at least one letter — the
    * Gopher-style "alpha word" ratio (pages of markup, tables or numeric
    * noise score low). 0 for empty text.
    */
  def alphaWordRatio(text: Column): Column = {
    val toks = canonToks(text)
    when(trim(text) === "", lit(0.0))
      .otherwise(size(filter(toks, t => t.rlike("[a-z]"))).cast(DoubleType) /
        size(toks).cast(DoubleType))
  }

  /** Gopher-style rule-battery keep decision (Rae et al. 2021 §A1.1,
    * adapted to the signals available at scan speed): 20 to 100000
    * words, mean token length in [3, 10], an alpha-word ratio of at least
    * 0.8, at least 2 stopword occurrences. Every input is an existing
    * scan-local metric, so the verdict is a pure codegen'd projection —
    * and SQL-recomputable for the oracle.
    */
  def gopherKeep(text: Column): Column = {
    val n = wsTokenCount(text)
    val m = meanTokenLen(text)
    n >= 20L && n <= 100000L &&
      m >= 3.0 && m <= 10.0 &&
      alphaWordRatio(text) >= 0.8 &&
      stopwordHits(text) >= 2L
  }

  /** Occurrences of a literal word surrounded by spaces, via the
    * replace-length trick — identical semantics in any SQL engine, no
    * regex dialect to match.
    */
  def wordHits(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $word "
    // literal replace (no regex machinery), same non-overlapping
    // left-to-right semantics as SQL replace() in any engine
    ((length(padded) - length(replace(padded, lit(needle), lit(""))))
      / needle.length).cast(LongType)
  }

  /** Stopword hit count over a fixed English stopword list. */
  val enStopwords: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it")

  /** Fused single-pass form ([[graft.functions.WordHits]]): one padded
    * copy + one indexOf scan per word, instead of one padded copy + one
    * replace() pass per word. Identical counts (FusedParitySpec).
    */
  def stopwordHits(text: Column): Column =
    graft.functions.WordHits.totalOf(text, enStopwords)

  /** Composite quality score in [0,1] — the usual corpus-filter shape:
    * enough tokens, sane token length, some stopwords, low punctuation.
    * Deterministic and SQL-expressible; weights are explicit.
    */
  def qualityScore(text: Column): Column = {
    val n = wsTokenCount(text).cast(DoubleType)
    val lengthOk = least(n / 20.0, lit(1.0))
    val stopOk   = least(stopwordHits(text).cast(DoubleType) / 3.0, lit(1.0))
    val punctOk  = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    round(lengthOk * 0.4 + stopOk * 0.3 + punctOk * 0.3, 6)
  }

  // ---- language ID ----------------------------------------------------

  /** Stopword sets per language for the n-gram/stopword-count heuristic.
    * Scores are literal-word hit counts; argmax wins, ties break by
    * language code order, zero hits -> "und".
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "is", "of", "to"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Fused single-pass form: one lowercase + one padded copy per doc,
    * all 25 marker scans over it ([[graft.functions.WordHits.bestLang]]).
    * Tie/zero semantics identical to the compositional argmax
    * (FusedParitySpec).
    */
  def langId(text: Column): Column =
    graft.functions.WordHits.langIdOf(text,
      langMarkers.keys.toSeq.sorted.map(l => l -> langMarkers(l)))

  // ---- HTML-to-text extraction ----------------------------------------

  /** Pragmatic HTML-to-text cleanup for raw-crawl corpora — the
    * precursor to every text filter when the input is markup: drop
    * `<script>`/`<style>` blocks and comments wholesale, strip the
    * remaining tags, decode entities (AFTER tag stripping, so a decoded
    * `&lt;tag&gt;` or `&#60;tag&#62;` can never re-inject markup),
    * collapse whitespace. Entity order: named first, then numeric
    * references ([[graft.functions.HtmlEntities]] — `&#233;`/`&#xE9;`,
    * codegen'd), then `&amp;` LAST so amp-escaped entities stay literal
    * both ways: `&amp;lt;` yields the literal `&lt;`, `&amp;#65;` the
    * literal `&#65;`, and `&#38;lt;` the literal `&lt;` (the numeric
    * pass turns `&#38;` into a bare `&` only after the named pass has
    * run). Deliberately regex-portable (inline-flag non-greedy dotall
    * blocks, no lookaround, no backreferences) so Java and RE2 match
    * identically and the oracle recomputes the cleanup verbatim — the
    * numeric decode's oracle twin is a marker-split + chr() map with the
    * same bounded-length/valid-scalar semantics. NOT an HTML5 parser —
    * malformed markup degrades gracefully to text, the C4-style
    * extraction trade.
    */
  def stripHtml(html: Column): Column = {
    import org.apache.spark.sql.graftbridge.CatalystBridge.{toColumn, toExpression}
    val blocks = regexp_replace(regexp_replace(regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(blocks, "<[^>]+>", " ")
    val named = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " "
    ).foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    val numeric = toColumn(
      graft.functions.DecodeNumericEntities(toExpression(named)))
    val decoded = regexp_replace(numeric, "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // ---- Unicode script composition -------------------------------------

  /** Explicit BMP block ranges per script — deliberately NOT
    * `\p{script=...}` classes, whose membership shifts with each
    * engine's Unicode table version; literal ranges match identically
    * under Java regex and RE2, so the oracle recomputes every count.
    *
    * Latin spans the ASCII letters, Latin-1 letters (excluding the
    * U+00D7 multiplication and U+00F7 division signs, which are math
    * punctuation, not letters), Latin Extended-A/B + IPA through
    * U+024F, and Latin Extended Additional (U+1E00–U+1EFF) — the block
    * Vietnamese leans on (ặ=U+1EB7, ọ=U+1ECD): without it a
    * mostly-Latin gate at 0.8 wrongly drops Vietnamese pages.
    */
  private[graft] val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-zÀ-ÖØ-öø-ɏḀ-ỿ",
    "cjk" -> "㐀-䶿一-鿿",
    "cyrillic" -> "Ѐ-ӿ",
    "greek" -> "Ͱ-Ͽ",
    "arabic" -> "؀-ۿ")

  /** Per-document script-composition ratios — the RefinedWeb/mC4-style
    * script gate ("keep mostly-Latin pages") complementing [[langId]]'s
    * stopword argmax: fraction of NON-WHITESPACE codepoints falling in
    * each script's blocks, plus the `other` remainder (digits,
    * punctuation, unlisted scripts). Empty/whitespace-only docs score 0
    * everywhere. A scan-local projection (one regex strip per script);
    * counts are exact ints, so the ratios recompute bit-identically in
    * SQL.
    */
  def scriptRatioCols(text: Column): Seq[(String, Column)] = {
    val nonSpace = length(regexp_replace(text, "\\s", ""))
    val counts = scriptRanges.map { case (name, r) =>
      name -> length(regexp_replace(text, s"[^$r]", ""))
    }
    val listed = counts.map(_._2).reduce(_ + _)
    val ratios = counts.map { case (name, c) =>
      name -> when(nonSpace === 0, lit(0.0))
        .otherwise(c.cast(DoubleType) / nonSpace)
    }
    ratios :+ ("other" -> when(nonSpace === 0, lit(0.0))
      .otherwise((nonSpace - listed).cast(DoubleType) / nonSpace))
  }

  // ---- PII scrubbing --------------------------------------------------

  /** Deliberately dialect-portable patterns (no alternation, no
    * backreferences, no lookaround) so Java regex (Spark) and RE2
    * (DuckDB) match identically and the oracle recomputes the scrub
    * verbatim.
    */
  val piiEmailRe: String   = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Re: String    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiLongNumRe: String = "\\d{9,}"

  /** Redact common PII shapes for training corpora: emails, dotted IPv4s
    * and long (9+) digit runs (phone/account/id numbers), replaced by
    * typed placeholder tokens. Applied email -> ip -> number so the
    * narrower patterns never eat part of a wider match. Pure Catalyst
    * regexp_replace — scan-speed, codegen'd.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiEmailRe, "<EMAIL>"),
        piiIpv4Re, "<IP>"),
      piiLongNumRe, "<NUM>")

  /** Match count of one PII pattern over the original text. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast(LongType)

  // ---- benchmark decontamination --------------------------------------

  /** Benchmark decontamination: ids of corpus documents sharing at least
    * one word 8-gram (the usual decontamination span) with
    * the benchmark set. The benchmark side is deduped and expected to be
    * small relative to the corpus, so Catalyst plans a broadcast
    * left-semi join against the exploded corpus shingles — one pass over
    * the corpus, no corpus x corpus work. At extreme benchmark sizes,
    * swap the string shingle key for [[fingerprint64]] of the shingle to
    * narrow the exchange.
    */
  def contaminatedDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, bench: org.apache.spark.sql.DataFrame,
      benchTextCol: String): org.apache.spark.sql.DataFrame = {
    val dsh = docs.select(col(idCol).as("doc_id"),
      explode(WordShingles.of(col(textCol), 8)).as("sg"))
    val bsh = bench
      .select(explode(WordShingles.of(col(benchTextCol), 8)).as("sg"))
      .distinct()
    dsh.join(bsh, Seq("sg"), "left_semi").select(col("doc_id")).distinct()
  }

  /** [[contaminatedDocs]] for the regime where the benchmark gram set is
    * itself too large to broadcast as a hash relation (a full eval-suite
    * sweep: hundreds of millions of distinct grams). Same answer — the
    * Bloom admits ~1% false positives and the trailing exact semi-join
    * removes them — but the corpus side is pruned SCAN-LOCAL by a
    * broadcast-cheap Bloom of the benchmark grams before any exchange,
    * so the corpus exchange carries ~1% of its rows instead of all of
    * them. See [[BloomPrune]] for the cost model.
    */
  def contaminatedDocsBloom(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, bench: org.apache.spark.sql.DataFrame,
      benchTextCol: String): org.apache.spark.sql.DataFrame = {
    val dsh = docs.select(col(idCol).as("doc_id"),
      explode(WordShingles.of(col(textCol), 8)).as("sg"))
    val bsh = bench
      .select(explode(WordShingles.of(col(benchTextCol), 8)).as("sg"))
      .distinct()
    BloomPrune.semiJoin(dsh, col("sg"), bsh, col("sg"), 0.01)
      .select(col("doc_id")).distinct()
  }

  /** Per-document contamination FRACTION: the share of a document's
    * DISTINCT word 8-grams present in the benchmark set — the standard
    * contamination-REPORT metric (a doc quoting one benchmark span
    * scores low, a verbatim benchmark copy scores ~1) where
    * [[contaminatedDocs]] answers only membership. Same scale shape: the
    * deduped benchmark shingle set stays small (Catalyst broadcasts it),
    * one corpus pass, the shuffle carries one row per distinct doc
    * shingle into a per-doc conditional count. Returns
    * (doc_id, n_grams, n_contaminated, contamination).
    */
  def contaminationStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, bench: org.apache.spark.sql.DataFrame,
      benchTextCol: String): org.apache.spark.sql.DataFrame = {
    val dsh = docs.select(col(idCol).as("doc_id"),
      explode(WordShingles.of(col(textCol), 8)).as("sg"))
    val bsh = bench
      .select(explode(WordShingles.of(col(benchTextCol), 8)).as("sg"))
      .distinct()
      .withColumn("__hit", lit(1))
    dsh.join(bsh, Seq("sg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast(DoubleType) / col("n_grams"))
  }

  // ---- lexical relevance search (BM25) --------------------------------

  /** Okapi BM25 top-k document retrieval for a fixed bag of query terms —
    * the lexical complement to the vector-search tier in [[Similarity]].
    *
    * Because the query is a handful of LITERAL terms, per-document term
    * frequencies come from the [[wordHits]] literal-scan counter (no
    * tokenize-explode, no inverted index, no shuffle of token rows): the
    * whole scoring pass is corpus-scan-local. Corpus statistics (N,
    * total length, per-term document frequency) reduce to ONE tiny
    * aggregate row that is broadcast back; the final top-k is a global
    * `TakeOrderedAndProject` (never a full sort).
    *
    * Term contributions are summed in the fixed argument order, so the
    * doubles are bit-reproducible and a SQL oracle recomputes them
    * exactly. Documents containing no query term (score 0) are omitted.
    * Parameters are the standard k1 = 1.2, b = 0.75.
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val k1 = 1.2
    val b = 0.75
    val canon = canonStr(col(textCol))
    val base = docs.select(col(idCol).as("id"), canon.as("t"))
      .select(col("id"), col("t"), wsTokenCount(col("t")).as("dl"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (term, i)) =>
      d.withColumn(s"tf$i", wordHits(col("t"), term))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("tl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("tl").cast(DoubleType) / col("n").cast(DoubleType)
    val score = terms.indices.map { i =>
      val tf  = col(s"tf$i").cast(DoubleType)
      val dfq = col(s"df$i").cast(DoubleType)
      val idf = log(lit(1.0) +
        (col("n").cast(DoubleType) - dfq + 0.5) / (dfq + 0.5))
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl").cast(DoubleType) / avgdl))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col("id"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  // ---- vocabulary statistics ------------------------------------------

  /** Corpus vocabulary statistics over canonical whitespace tokens:
    * per-token total frequency (tf) and document frequency (df) — the
    * input to stopword discovery, tokenizer training and tf-idf weighting.
    *
    * One explode + one hash aggregate: tf is a plain count; df counts
    * each (token, doc) once by pre-distincting per document INSIDE the
    * scan (array_distinct before the explode), so the aggregate never
    * needs a count(distinct) — partial (map-side) aggregation applies to
    * both counters, and the single shuffle carries token keys only. At
    * 100 TB the token-key skew (the most common token appears in nearly
    * every doc) stays bounded by map-side combine: each mapper emits one
    * row per distinct token.
    */
  def vocabStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = canonToks(col(textCol))
    df.select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
      .join(
        df.select(col(idCol).as("id"),
            explode(array_distinct(toks)).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("df")),
        Seq("token"))
  }

  // ---- token-budget chunking ------------------------------------------

  /** Split each document into consecutive chunks of at most `maxTokens`
    * whitespace tokens — sequence packing for training (context-window
    * budgeting). Returns (id, chunk_id, n_tokens, chunk) rows.
    *
    * Scan-local: tokenization, chunk slicing and the explode all happen
    * in one projection over the document scan — no shuffle, no UDF; the
    * output is immediately partition-parallel for downstream tokenizer
    * work. Chunk boundaries are deterministic (pure arithmetic on token
    * positions).
    */
  def chunkByTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxTokens: Int): org.apache.spark.sql.DataFrame =
    chunkByTokensSliding(df, idCol, textCol, maxTokens, maxTokens)
      .drop("start")

  /** Sliding-window chunking: fixed-size token windows starting every
    * `stride` tokens (stride < window overlaps — the RAG-retrieval /
    * long-context training shape where chunk boundaries must not lose
    * cross-boundary context). Emission stops at the FIRST window whose
    * end reaches the document end (`ceil((total-window)/stride) + 1`
    * windows; later starts would only re-cover the tail), so only the
    * last window may be short. `stride == window` emits exactly
    * [[chunkByTokens]]'s non-overlapping windows (which delegates here).
    * An empty doc emits one empty chunk with n_tokens = 1 — the
    * canonical tokenization of '' is one empty token, the same contract
    * as `chunkByTokens`/`string_split`. Pure scan-local projection
    * (sequence + slice inside the row).
    */
  def chunkByTokensSliding(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0, "window must be positive")
    require(stride > 0 && stride <= window, "stride must be in [1, window]")
    val toks = canonToks(col(textCol))
    df.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"),
        sequence(lit(0),
          greatest(ceil((size(col("toks")) - lit(window)).cast(DoubleType) / stride)
            .cast(IntegerType), lit(0))).as("idxs"))
      .select(col("id"),
        posexplode(transform(col("idxs"),
          i => array_join(slice(col("toks"), i * stride + 1, lit(window)), " ")))
          .as(Seq("chunk_id", "chunk")),
        size(col("toks")).as("total"))
      .select(col("id"), col("chunk_id"),
        (col("chunk_id") * stride).cast(LongType).as("start"),
        least(lit(window), col("total") - col("chunk_id") * stride)
          .cast(LongType).as("n_tokens"),
        col("chunk"))
  }

  // ---- global sequence packing ----------------------------------------

  /** Pack token chunks into fixed-size training sequences: every chunk
    * (from [[chunkByTokens]]) gets its GLOBAL token offset in the
    * (id, chunk_id)-ordered corpus concatenation, plus the derived
    * sequence id / in-sequence position for a `tokensPerSeq` context
    * window (`spans_next` marks chunks crossing a boundary — the
    * standard GPT-style packing where documents may split).
    *
    * The global offset is a distributed prefix sum — the scale-correct
    * shape, NOT a global window (a `Window.orderBy` with no partition
    * spec funnels the corpus through one task):
    *
    *   1. ONE range exchange on (id, chunk_id) + in-partition sort;
    *   2. per-partition token totals (p rows) to the driver, exclusive
    *      prefix scan over the range-ordered partition index;
    *   3. a per-partition running sum seeded by the broadcast prefix —
    *      `mapPartitions`, the legitimate use: per-partition imperative
    *      state no Catalyst construct expresses.
    *
    * Offsets are invariant to the partition count/boundaries (only the
    * key order defines them), so output is deterministic and a plain
    * SQL window recomputes it for the oracle.
    */
  def packSequences(chunks: org.apache.spark.sql.DataFrame, tokensPerSeq: Int,
      numPartitions: Int = 0): org.apache.spark.sql.DataFrame = {
    require(tokensPerSeq > 0, "tokensPerSeq must be positive")
    val spark = chunks.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    import spark.implicits._
    // ONE materialized RDD below both passes: the totals job and the
    // offset pass share the same ShuffleDependency, so the range shuffle
    // (and everything under it) executes once. The prefix work MUST be
    // mapPartitionsWithIndex at the RDD level: TaskContext.getPartitionId
    // (and anything built on it, like spark_partition_id() or
    // monotonically_increasing_id) reports the index within the RUNNING
    // STAGE — a downstream union (e.g. the one exceptAll plans) shifts
    // those indexes, silently corrupting every offset.
    val sortedRdd = packStaged(chunks, p)
      .select(col("id").as("_1"), col("chunk_id").as("_2"),
        col("n_tokens").as("_3"))
      .as[(Long, Int, Long)].rdd

    val totals = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(s += _._3); Iterator((i, s))
    }.collect().toMap
    // range partitions are key-ordered, so the exclusive prefix over the
    // partition index is the partition's global token base
    val prefix = (0 until p).scanLeft(0L)((acc, i) => acc + totals.getOrElse(i, 0L))

    val t = tokensPerSeq.toLong
    sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var offset = prefix(i)
      it.map { case (id, chunkId, n) =>
        val o = offset
        offset += n
        (id, chunkId, n, o, o / t, o % t, (o % t) + n > t)
      }
    }.toDF("id", "chunk_id", "n_tokens", "tok_offset",
      "seq_id", "seq_pos", "spans_next")
  }

  /** The declarative stage under [[packSequences]]: one range exchange on
    * (id, chunk_id) + in-partition sort (exposed for plan assertions).
    */
  private[graft] def packStaged(chunks: org.apache.spark.sql.DataFrame,
      p: Int): org.apache.spark.sql.DataFrame =
    chunks
      .select(col("id").cast(LongType).as("id"),
        col("chunk_id").cast(IntegerType).as("chunk_id"),
        col("n_tokens").cast(LongType).as("n_tokens"))
      .repartitionByRange(p, col("id"), col("chunk_id"))
      .sortWithinPartitions(col("id"), col("chunk_id"))

  // ---- hashed unigram LM quality scoring -------------------------------

  /** Canonical whitespace tokens (shared by the LM / vocab / BPE ops). */
  /** The canonical string every text operator keys on: trim, engine-
    * portable lowercase ([[graft.functions.PortableCase.lowerPortable]]),
    * whitespace collapse.
    */
  private[graft] def canonStr(text: Column): Column =
    regexp_replace(graft.functions.PortableCase.lowerPortable(trim(text)),
      "\\s+", " ")

  private[graft] def canonToks(text: Column): Column =
    split(canonStr(text), " ")

  /** Hashed unigram language-model counts — the train pass of a
    * CCNet-style LM quality filter. Tokens hash into `nBuckets` stable
    * buckets ([[Sampling.hashBucket]], engine-portable md5), so the
    * model table is BOUNDED (≤ nBuckets rows) no matter how large the
    * corpus vocabulary grows: at 100 TB the counts table stays
    * broadcastable while a literal-vocab table would not. One explode +
    * one hash aggregate with map-side combine.
    */
  def unigramLmCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    df.select(explode(canonToks(col(textCol))).as("token"))
      .select(Sampling.hashBucket(col("token"), nBuckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Score documents against a hashed unigram LM (the apply pass): each
    * token contributes the QUANTIZED log-frequency of its bucket —
    * floor(log2(count)) computed as `length(bin(count)) - 1`, which is
    * exact integer/string arithmetic in every engine (no libm, no FP
    * summation order), so the oracle recomputes scores bit-identically.
    * High mean log-frequency ≈ fluent/common-word text; garbage and
    * wrong-language docs score low — the standard perplexity-filter
    * shape with a deterministic stand-in for the KenLM score.
    *
    * Plumbing: explode + BROADCAST join against the bounded counts
    * table + per-doc integer-sum aggregate. The only shuffle carries one
    * narrow row per document (map-side combine collapses each doc's
    * tokens before the exchange).
    *
    * Smoothing contract: the LEFT join scores an absent bucket as
    * qlog = floor(log2(coalesce(cnt, 0) -> bin("0"))) = 0 — the same
    * value as cnt = 1. This zero-floor smoothing is intentional (unseen
    * ≈ hapax); note it makes scores comparable with the SQL oracle's
    * inner join ONLY when the LM was trained on the scored corpus
    * (every bucket present). Scoring against a foreign LM is supported
    * but uses the zero-floor for out-of-model buckets.
    */
  def lmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, lm: org.apache.spark.sql.DataFrame,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(canonToks(col(textCol))).as("token"))
      .select(col("id"), Sampling.hashBucket(col("token"), nBuckets).as("bucket"))
    toks.join(broadcast(lm), Seq("bucket"), "left")
      .select(col("id"),
        (length(bin(coalesce(col("cnt"), lit(0L)))) - 1).cast(LongType).as("qlog"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("qlog")).as("logq_sum"))
      .withColumn("lm_score",
        round(col("logq_sum").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6))
  }

  /** Hashed bigram LM counts — the order-2 train pass over adjacent
    * canonical word pairs, bounded to `nBuckets` rows exactly like
    * [[unigramLmCounts]]. The token array is staged once behind `Once`
    * (the r12 double-evaluation lesson: generator children get no
    * common-subexpression elimination).
    */
  def bigramLmCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    df.select(graft.functions.Once(canonToks(col(textCol))).as("__tk"))
      .select(explode(ngramsOfToks(col("__tk"), 2)).as("bigram"))
      .select(Sampling.hashBucket(col("bigram"), nBuckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Stupid-Backoff bigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") with QUANTIZED integer
    * logs — the order-2 upgrade of [[lmScore]]'s perplexity filter:
    * fluent text scores high because its word PAIRS are common, not
    * just its words. Per bigram position (w1, w2):
    *   - bigram bucket seen:  qlog2(cnt_bigram) - qlog2(cnt_w1)
    *     (the quantized conditional log-MLE log2 c(w1 w2)/c(w1)),
    *   - unseen: qlog2(cnt_w2) - 4
    *     (backoff to the unigram with alpha = 2^-4 — Stupid
    *     Backoff's fixed discount, no normalization by design).
    * All contributions are exact integers (the bin()-length qlog), so
    * the per-doc sums replay bit-identically in the oracle; one double
    * division at the end. Docs with fewer than 2 canonical tokens have
    * no bigram positions and drop out (score undefined).
    *
    * Plumbing: one staged-token explode of (bigram, w1, w2) bucket
    * triples, three BROADCAST joins against the bounded count tables,
    * and a per-doc integer-sum aggregate — the shuffle carries one
    * narrow row per document.
    */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, uniLm: org.apache.spark.sql.DataFrame,
      biLm: org.apache.spark.sql.DataFrame,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "bad params")
    val backoffPenalty = 4
    val pos = df.select(col(idCol).as("id"),
        graft.functions.Once(canonToks(col(textCol))).as("__tk"))
      // guard: Spark's sequence(1, 0) DESCENDS — size < 2 must yield an
      // empty position array, not a reversed one
      .select(col("id"), explode(expr(
        """CASE WHEN size(__tk) >= 2 THEN
          |  transform(sequence(1, size(__tk) - 1),
          |    i -> struct(__tk[i-1] AS w1, __tk[i] AS w2))
          |ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""".stripMargin))
        .as("p"))
      .select(col("id"),
        Sampling.hashBucket(
          concat_ws(" ", col("p.w1"), col("p.w2")), nBuckets).as("bb"),
        Sampling.hashBucket(col("p.w1"), nBuckets).as("b1"),
        Sampling.hashBucket(col("p.w2"), nBuckets).as("b2"))
    def qc(c: Column) =
      (length(bin(coalesce(c, lit(0L)))) - 1).cast(LongType)
    pos
      .join(broadcast(biLm.select(col("bucket").as("bb"),
        col("cnt").as("__bc"))), Seq("bb"), "left")
      .join(broadcast(uniLm.select(col("bucket").as("b1"),
        col("cnt").as("__c1"))), Seq("b1"), "left")
      .join(broadcast(uniLm.select(col("bucket").as("b2"),
        col("cnt").as("__c2"))), Seq("b2"), "left")
      .select(col("id"),
        when(col("__bc").isNotNull, qc(col("__bc")) - qc(col("__c1")))
          .otherwise(qc(col("__c2")) - backoffPenalty).as("q"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("logq_sum"))
      .withColumn("bo_score",
        round(col("logq_sum").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType), 6))
  }

  /** Luhn checksum validity of a digit string — distinguishes real
    * payment-card numbers from arbitrary digit runs, the precision
    * upgrade over scrubbing every long number: integer arithmetic only
    * (double-and-fold from the right), bit-reproducible everywhere.
    */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val vals = transform(sequence(lit(1), n), i => {
      val d = digits.substr(i, lit(1)).cast(IntegerType)
      when((n - i) % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    aggregate(vals, lit(0), (a, b) => a + b) % 10 === 0
  }

  /** Candidate payment-card numbers: contiguous 13-19 digit runs
    * (leftmost non-overlapping, the shared regex-engine contract).
    * Callers gate on [[luhnValid]] for detection with precision.
    */
  def cardCandidates(text: Column): Column =
    regexp_extract_all(text, lit("[0-9]{13,19}"), lit(0))

  /** Automated Readability Index (Senter & Smith 1967) — the readability
    * heuristic computable WITHOUT syllable counting, so it stays a pure
    * deterministic projection: `4.71*(chars/words) + 0.5*(words/
    * sentences) - 21.43` over non-space chars, whitespace tokens, and
    * `[.!?]+` sentence runs (clamped to >= 1). Null for empty docs. The
    * fixed operation order makes the float bit-reproducible across
    * engines.
    */
  def ariScore(text: Column): Column = {
    val chars = length(regexp_replace(text, "\\s+", "")).cast(DoubleType)
    val words = wsTokenCount(text).cast(DoubleType)
    val sentences = greatest(
      (size(split(text, "[.!?]+")) - 1).cast(DoubleType), lit(1.0))
    when(words > 0,
      lit(4.71) * (chars / words) + lit(0.5) * (words / sentences)
        - lit(21.43))
  }

  // ---- model-based quality filtering (fastText-classifier shape) ------

  /** Quantized log2: floor(log2(c)) for c >= 1, and 0 for c = 0 or null —
    * computed as `length(bin(c)) - 1`, exact integer/string arithmetic in
    * every engine (no libm, no FP summation order). The determinism
    * backbone of the trained-model tiers: weights built from qlogs are
    * integers, so scores are exact sums the SQL oracle reproduces
    * bit-identically.
    */
  private[graft] def qlog(c: Column): Column =
    (length(bin(coalesce(c.cast(LongType), lit(0L)))) - 1).cast(LongType)

  /** Train pass of a model-based quality classifier — the linear
    * bag-of-words shape of DCLM / FineWeb-Edu quality filtering (a
    * fastText-style classifier distilled to its Naive-Bayes log-count
    *-ratio core): per hashed-token bucket, positive/negative class
    * counts reduce to an integer weight `qlog(pos) - qlog(neg)`. Tokens
    * hash into `nBuckets` stable buckets ([[Sampling.hashBucket]],
    * engine-portable md5), so the model is BOUNDED (<= nBuckets rows)
    * no matter the corpus vocabulary — broadcastable at 100 TB where a
    * literal-vocab table would not be. One explode + one hash aggregate
    * with map-side combine; the shuffle carries bucket keys only.
    *
    * `labelCol` is evaluated as boolean (true = positive class). Zero
    * counts quantize to weight contribution 0 (the [[lmScore]] zero-floor
    * smoothing contract: unseen ~ hapax).
    */
  def trainQualityClassifier(df: org.apache.spark.sql.DataFrame,
      textCol: String, labelCol: Column,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    df.select(explode(canonToks(col(textCol))).as("token"),
        labelCol.cast(BooleanType).as("__pos"))
      .select(Sampling.hashBucket(col("token"), nBuckets).as("bucket"),
        col("__pos"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__pos"), lit(1L)).otherwise(lit(0L))).as("pos_cnt"),
        sum(when(col("__pos"), lit(0L)).otherwise(lit(1L))).as("neg_cnt"))
      .withColumn("weight", qlog(col("pos_cnt")) - qlog(col("neg_cnt")))
  }

  /** Apply pass: each document's tokens vote with their bucket's integer
    * weight; `clf_sum` is the exact integer score, `clf_mean` the
    * length-normalized signal a threshold keeps on (positive ~ the
    * positive training class). Explode + BROADCAST join against the
    * bounded model + per-doc integer-sum aggregate — the only shuffle
    * carries one narrow row per document (map-side combine collapses a
    * doc's tokens before the exchange), so scoring a 100 TB corpus is a
    * single scan-shaped pass. Out-of-model buckets score 0 (left join +
    * coalesce), so a foreign model degrades gracefully.
    */
  def scoreQualityClassifier(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      model: org.apache.spark.sql.DataFrame,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(canonToks(col(textCol))).as("token"))
      .select(col("id"),
        Sampling.hashBucket(col("token"), nBuckets).as("bucket"))
    toks.join(broadcast(model.select(col("bucket"), col("weight"))),
        Seq("bucket"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight"), lit(0L))).as("clf_sum"))
      .withColumn("clf_mean",
        round(col("clf_sum").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6))
  }

  /** Train-once lifecycle for the quality classifier (the
    * [[graft.operators.Similarity.IvfIndex]] recipe): persist the bounded
    * model table, score later corpora without retraining.
    */
  object QualityModel {
    def save(model: org.apache.spark.sql.DataFrame, dir: String): Unit =
      model.select(col("bucket"), col("pos_cnt"), col("neg_cnt"),
          col("weight"))
        .coalesce(1).write.mode("overwrite").parquet(dir)

    def load(spark: org.apache.spark.sql.SparkSession,
        dir: String): org.apache.spark.sql.DataFrame =
      spark.read.parquet(dir)
  }

  // ---- DSIR importance resampling (data selection) ---------------------

  /** Hashed n-gram features of one document — unigrams plus adjacent
    * word bigrams, the DSIR (Xie et al. 2023, arXiv:2302.03169) feature
    * space. Scan-local array expression; callers explode it into the
    * bounded bucket space.
    */
  /** DSIR feature rows with the tokenization staged ONCE per row: the naive
    * `concat(canonToks(t), ngramsOfToks(canonToks(t), 2))` runs the regex-heavy
    * canonicalization twice per document per pass (once for unigrams,
    * once inside the bigram builder) — on the corpus-scale feature scans
    * that doubled the dominant cost. `prev` carries the other columns
    * the caller needs through the staging projection.
    */
  private def dsirFeatRows(df: org.apache.spark.sql.DataFrame,
      textCol: String,
      carry: Seq[(String, Column)]): org.apache.spark.sql.DataFrame =
    df.select(graft.functions.Once(canonToks(col(textCol))).as("__tk") +:
        carry.map { case (n, c) => c.as(n) }: _*)
      .select(explode(concat(col("__tk"), ngramsOfToks(col("__tk"), 2)))
        .as("feat") +: carry.map { case (n, _) => col(n) }: _*)

  /** Feature-distribution counts for DSIR: hashed unigram+bigram bucket
    * counts over a corpus (target or raw). Bounded (<= nBuckets rows),
    * one explode + one map-side-combined aggregate — same 100 TB shape
    * as [[unigramLmCounts]].
    */
  def dsirCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    dsirFeatRows(df, textCol, Seq.empty)
      .select(Sampling.hashBucket(col("feat"), nBuckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Per-doc weighting pass shared by the DSIR variants: explode the
    * features, broadcast-join the bounded lambda table, integer-sum per
    * document (map-side combine collapses a doc's features before the
    * one narrow exchange).
    */
  private def dsirWeightsByLambda(raw: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, lam: org.apache.spark.sql.DataFrame,
      nBuckets: Int): org.apache.spark.sql.DataFrame = {
    val feats = dsirFeatRows(raw, textCol, Seq("id" -> col(idCol)))
      .select(col("id"),
        Sampling.hashBucket(col("feat"), nBuckets).as("bucket"))
    feats.join(broadcast(lam), Seq("bucket"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("lambda"), lit(0L))).as("dsir_sum"))
      .withColumn("dsir_mean",
        round(col("dsir_sum").cast(DoubleType) / col("n_feats").cast(DoubleType), 6))
  }

  /** DSIR importance weights: each raw document scores
    * sum over its features of `qlog(target_cnt) - qlog(raw_cnt)` — the
    * quantized log-likelihood ratio of the target vs raw hashed n-gram
    * distributions (the paper's log importance weight, with quantized
    * logs so the sum is exact integer arithmetic). High `dsir_sum` =
    * looks like the target domain. Both count tables are bounded and
    * broadcast; the only shuffle carries one row per document.
    */
  def dsirWeights(raw: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, targetCounts: org.apache.spark.sql.DataFrame,
      rawCounts: org.apache.spark.sql.DataFrame,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    val lam = targetCounts.select(col("bucket"),
        col("cnt").as("__tcnt"))
      .join(rawCounts.select(col("bucket"), col("cnt").as("__rcnt")),
        Seq("bucket"), "outer")
      .select(col("bucket"),
        (qlog(col("__tcnt")) - qlog(col("__rcnt"))).as("lambda"))
    dsirWeightsByLambda(raw, idCol, textCol, lam, nBuckets)
  }

  /** Fused counting pass for the common in-corpus case (`target` is a
    * predicate slice of `raw`, e.g. a high-quality source flag): ONE
    * explode computes both distributions via a conditional sum, cutting
    * the three corpus-scale feature scans of the generic
    * [[dsirWeights]] composition to two — at 100 TB that third scan is
    * real money. Same lambda table, bit-identical weights.
    */
  def dsirWeightsWithin(raw: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, targetCond: Column,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val counts = dsirFeatRows(raw, textCol,
        Seq("__t" -> targetCond.cast(BooleanType)))
      .select(Sampling.hashBucket(col("feat"), nBuckets).as("bucket"),
        col("__t"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("__rcnt"),
        sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("__tcnt"))
    val lam = counts.select(col("bucket"),
      (qlog(col("__tcnt")) - qlog(col("__rcnt"))).as("lambda"))
    dsirWeightsByLambda(raw, idCol, textCol, lam, nBuckets)
  }

  /** DSIR selection: keep the `n` raw documents most target-like by
    * length-normalized importance weight (ties break on id — fully
    * deterministic, unlike the paper's Gumbel noise, so the oracle can
    * replay the pick). Global top-n over per-doc rows is a
    * TakeOrdered (bounded result), never a full sort materialization.
    */
  def dsirSelect(raw: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, target: org.apache.spark.sql.DataFrame, n: Int,
      nBuckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    val w = dsirWeights(raw, idCol, textCol,
      dsirCounts(target, textCol, nBuckets),
      dsirCounts(raw, textCol, nBuckets), nBuckets)
    w.orderBy(col("dsir_mean").desc, col("id")).limit(n)
  }

  // ---- BPE pair statistics (tokenizer-training prep) -------------------

  /** Adjacent character-pair frequencies within canonical tokens — the
    * inner statistic of byte-pair-encoding tokenizer training (each BPE
    * merge step picks the argmax of exactly this table; a trainer loops
    * this count over a re-symbolized corpus, driver-picking one merge
    * per round). Pair generation is scan-local (a transform over token
    * character positions inside the projection); the single shuffle
    * carries pair keys only, and the key space is bounded by the symbol
    * alphabet squared, so map-side combine collapses the corpus before
    * the exchange — the 100 TB shape for any corpus size.
    */
  def bpePairStats(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(canonToks(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))

  /** Bounded BPE trainer: `nMerges` rounds of (count adjacent symbol
    * pairs weighted by word frequency -> pick argmax -> merge everywhere),
    * returning the merge table (step, lhs, rhs, cnt) — the tokenizer-
    * training composition over [[bpePairStats]]'s single-step statistic.
    *
    * Scale shape: the corpus is collapsed ONCE into a bounded word-
    * frequency vocab (the only corpus-sized shuffle, map-side combined);
    * every round then runs over the vocab table, whose size is
    * independent of corpus row count. Words are carried as an "enclosed
    * symbol" string (`␁s1␁␁s2␁…`), which makes the merge a codegen'd
    * non-regex `replace` — string replace's left-to-right non-overlapping
    * scan IS greedy BPE merge order — and lets the DuckDB oracle apply
    * the identical operation. Per round: one bounded pair-stats shuffle +
    * a ONE-row collect (the argmax; ties broken by pair string so both
    * engines agree), with `localCheckpoint` truncating the growing
    * lineage like the dedup-clustering loop. Symbols containing U+0001
    * in source text would corrupt the encoding; corpus canonicalization
    * never emits it.
    */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, batch: Int = 1): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    require(batch >= 1, "batch must be >= 1")
    val spark = df.sparkSession
    val E = "\u0001"
    var vocab = df.select(explode(canonToks(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("sym", concat_ws("",
        transform(filter(split(col("w"), ""), ch => ch =!= ""),
          ch => concat(lit(E), ch, lit(E)))))
      .localCheckpoint()
    // batched merge selection (the scale knob): per driver ROUND, recount
    // pairs ONCE, collect the top `candidates` rows, greedily pick up to
    // `batch` DISJOINT pairs in (cnt desc, pr) order, and apply them in
    // pick order. Disjointness excludes a later candidate whose lhs/rhs
    // equals an earlier pick's lhs, rhs, OR concatenation a+b: without
    // the concat exclusion, a candidate (z, 'xy') after a pick (x, y)
    // would merge occurrences of 'xy' the earlier replace just CREATED —
    // counts not present in this round's recount. With it, no pick can
    // create or destroy another's occurrences, so each pick is the true
    // argmax of the remaining candidates at its turn; what batching
    // gives up is only that a pair CREATED mid-round cannot win until
    // the next round's recount — the standard BPE-training trade-off.
    // A 32k-merge vocab costs ~32k/batch driver rounds (and pair-recount
    // shuffles) instead of 32k. batch=1 (with a 1-row candidate list) IS
    // classic sequential BPE, bit-identical to the unbatched
    // implementation; the DuckDB oracle replays the identical
    // round/candidate-cap/greedy-disjoint spec.
    val candidates = if (batch == 1) 1 else batch * 8
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    // the round layout is STRUCTURAL (fixed caps summing to nMerges),
    // not fill-driven: a round that finds fewer than its cap of disjoint
    // candidates loses the slack rather than extending the schedule —
    // this is what makes the oracle's unrolled round/pick CTE lattice an
    // exact replay. With batch=1 every round caps at 1 and the layout is
    // the classic one-merge-per-recount loop.
    val nRounds = (nMerges + batch - 1) / batch
    var round = 0
    while (round < nRounds && !done) {
      val roundCap = math.min(batch, nMerges - round * batch)
      round += 1
      // pin the symbol split in its own projection: referenced from the
      // per-element lambda it would re-split the string per element
      val withSyms = vocab.withColumn("__sy", graft.functions.Once(
        split(col("sym").substr(lit(2), length(col("sym")) - 2), E + E)))
      val syms = col("__sy")
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => concat(element_at(syms, i), lit(E), element_at(syms, i + 1))))
        .otherwise(array().cast("array<string>"))
      val top = withSyms.select(explode(pairs).as("pr"), col("c"))
        .groupBy(col("pr")).agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr").asc)
        .limit(candidates).collect()
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = top.iterator.map { r =>
          val Array(a, b) = r.getString(0).split(E, 2)
          (a, b, r.getLong(1))
        }.filter { case (a, b, _) =>
          val ok = !used(a) && !used(b)
          if (ok) { used += a; used += b; used += a + b }
          ok
        }.take(roundCap).toSeq
        picked.foreach { case (a, b, cnt) =>
          merges += ((merges.size + 1, a, b, cnt))
        }
        val prev = vocab
        vocab = vocab.withColumn("sym",
          picked.foldLeft(col("sym")) { case (acc, (a, b, _)) =>
            regexp_replace(acc,
              lit(java.util.regex.Pattern.quote(E + a + E + E + b + E)),
              lit(java.util.regex.Matcher.quoteReplacement(E + a + b + E)))
          })
          .localCheckpoint()
        prev.unpersist()
      }
    }
    import spark.implicits._
    val out = merges.toSeq.toDF("step", "lhs", "rhs", "cnt")
    vocab.unpersist()
    out.orderBy(col("step"))
  }

  /** Apply trained BPE merges ([[bpeTrain]]'s output, in step order) to a
    * corpus: per-document canonical tokens are enclosed-symbol encoded,
    * each merge is one codegen'd non-regex replace over the whole
    * document string (token boundaries are spaces, which the enclosed
    * pattern `␁a␁␁b␁` can never straddle), and the piece count falls out
    * of symbol-marker arithmetic — no explode, no shuffle, a pure
    * scan-local projection. Returns (id, n_tokens, n_pieces): the
    * before/after compression a tokenizer-training loop monitors.
    */
  def bpeApply(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val E = "\u0001"
    val toks = canonToks(col(textCol))
    val doc0 = concat_ws(" ", transform(toks, tok =>
      when(tok === "", lit("")).otherwise(
        concat_ws("", transform(filter(split(tok, ""), ch => ch =!= ""),
          ch => concat(lit(E), ch, lit(E)))))))
    val merged = merges.foldLeft(doc0) { case (acc, (a, b)) =>
      regexp_replace(acc,
        lit(java.util.regex.Pattern.quote(E + a + E + E + b + E)),
        lit(java.util.regex.Matcher.quoteReplacement(E + a + b + E)))
    }
    df.select(col(idCol),
      size(toks).cast(LongType).as("n_tokens"),
      ((length(merged) - length(translate(merged, E, ""))) / 2)
        .cast(LongType).as("n_pieces"))
  }

  /** Boilerplate line removal (the CCNet/RefinedWeb paragraph-dedup
    * shape): a line appearing in >= `minDocs` DISTINCT documents is
    * boilerplate (cookie banners, nav text, footers) and is dropped from
    * every document; survivors reassemble in original line order.
    * Returns (id, text) with the cleaned text ('' when every line was
    * boilerplate).
    *
    * Scale shape: one hash aggregate over line fingerprints (map-side
    * combined; the shuffle carries md5 keys, not lines), then a
    * broadcast ANTI join — the frequent-line set is small BY DEFINITION
    * (each entry repeats across >= minDocs docs), so it broadcasts even
    * at 100 TB — and one per-doc reassembly aggregate. Line order is
    * restored from the kept positions, never a window.
    */
  def stripBoilerplateLines(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, minDocs: Long): org.apache.spark.sql.DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("fp", md5(col("line").cast(BinaryType)))
    val frequent = lines.groupBy(col("fp"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("fp"))
    val cleaned = lines.join(broadcast(frequent), Seq("fp"), "left_anti")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("line")))).as("ls"))
      .select(col("id"),
        concat_ws("\n", transform(col("ls"), s => s.getField("line"))).as("text"))
    // docs whose every line was boilerplate still come back (as '')
    df.select(col(idCol).as("id")).join(cleaned, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
  }

  // ---- URL / domain extraction -----------------------------------------

  /** Dialect-portable URL pattern (Java regex == RE2): scheme, host, and
    * an optional path of unreserved characters.
    */
  val urlRe: String =
    "https?://[A-Za-z0-9.-]+[A-Za-z0-9](/[A-Za-z0-9/._~-]*)?"

  /** All URLs appearing in a document. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(urlRe), lit(0))

  /** Registrable host of a URL (the per-domain curation key: domain
    * caps, blocklists, provenance stats all group on this).
    */
  def urlDomain(url: Column): Column =
    regexp_extract(url, "https?://([A-Za-z0-9.-]+)", 1)

  /** Per-domain provenance rollup over the URLs found in the corpus:
    * how many documents cite the domain and how many total hits — the
    * input to domain blocklist filtering and per-domain caps
    * ([[Sampling.capPerGroup]]). One explode + one aggregate; the
    * shuffle carries (domain, doc) keys with map-side distinct-combine.
    */
  def domainStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("id"),
        explode(extractUrls(col(textCol))).as("url"))
      .select(col("id"), urlDomain(col("url")).as("domain"))
      .groupBy(col("domain"))
      .agg(countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_hits"))

  // ---- C4-style heuristic cleaning ------------------------------------

  /** Number of non-empty whitespace-separated tokens in one line —
    * written with split+filter primitives every SQL engine shares, so
    * the oracle recomputes it verbatim.
    */
  private def lineWordCount(line: Column): Column =
    size(filter(split(trim(line), "\\s+"), t => t =!= ""))

  /** C4's line keep rule (Raffel et al. 2020 §2.2): a line survives iff
    * it ends in terminal punctuation (. ! ? or a closing quote), has at
    * least 5 words, and does not mention javascript.
    */
  def c4LineKeep(line: Column): Column =
    trim(line).rlike("[.!?\"”]$") &&
      lineWordCount(line) >= 5 &&
      !lower(line).contains("javascript")

  /** The C4 heuristic-cleaning battery as one scan-local projection:
    * per-document line filtering plus the page-level drop rules
    * ("lorem ipsum", curly braces — source-code tells). Returns every
    * signal plus the cleaned text and the keep verdict, so callers can
    * either filter on `keep` or audit the reasons; everything is
    * split/filter/array arithmetic inside codegen (no shuffle, no UDF)
    * and SQL-recomputable for the oracle. The reference has no cleaning
    * stage at all (it ships rows as-is); this is the training-data lift.
    * A page keeps at least 3 lines that pass [[c4LineKeep]].
    */
  def c4Signals(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l => c4LineKeep(l))
    df.select(
      col(idCol).as("id"),
      size(lines).cast(LongType).as("n_lines"),
      size(kept).cast(LongType).as("n_lines_kept"),
      lower(col(textCol)).contains("lorem ipsum").as("has_lorem"),
      col(textCol).contains("{").as("has_curly"),
      array_join(kept, "\n").as("clean_text"))
    .withColumn("keep",
      col("n_lines_kept") >= 3 &&
        !col("has_lorem") && !col("has_curly"))
  }

  // ---- URL normalization + URL-keyed dedup ----------------------------

  /** Canonical URL: lowercase scheme/host, `www.` and default ports
    * stripped, fragment dropped, tracking params (`utm_*`, `gclid`,
    * `fbclid`) removed and the surviving query params sorted, trailing
    * path slashes trimmed. The standard crawl-curation key — page
    * re-crawls differ only in tracking noise, and URL-keyed dedup wants
    * all of them on one key. Pure string/array primitives (regexp
    * extract/split/sort/join) so the oracle recomputes it byte-for-byte;
    * a value with no `scheme://` passes through unchanged.
    */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = regexp_replace(regexp_replace(hostport, ":[0-9]+$", ""), "^www\\.", "")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    // path+query with the fragment already excluded by [^#]*
    val pathq = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val qPos = instr(pathq, "?")
    val path = regexp_replace(
      when(qPos > 0, split_part(pathq, lit("?"), lit(1))).otherwise(pathq),
      "/+$", "")
    val query = when(qPos > 0, pathq.substr(qPos + 1, length(pathq))).otherwise(lit(""))
    val keptParams = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|gclid|fbclid)=")))
    val queryPart = when(size(keptParams) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(keptParams, "&")))
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, portPart, path, queryPart))
  }

  /** URL-keyed exact dedup: group documents by normalized URL, keep the
    * minimum id per key — the crawl-dedup twin of
    * [[Dedup.exactGroups]], same map-side-combinable min/count
    * aggregate (one narrow shuffle on the url key, no window).
    */
  def urlDedupGroups(df: org.apache.spark.sql.DataFrame, idCol: String,
      urlCol: String): org.apache.spark.sql.DataFrame =
    df.select(normalizeUrl(col(urlCol)).as("url_norm"), col(idCol).as("id"))
      .groupBy(col("url_norm"))
      .agg(min(col("id")).as("keeper"), count(lit(1)).as("n"))

  // ---- fingerprinting -------------------------------------------------

  /** Canonical-form content fingerprint: lowercase, collapse whitespace,
    * md5. The exact-dedup key for noisy corpora.
    */
  def fingerprint(text: Column): Column =
    md5(canonStr(text).cast(BinaryType))

  /** [[fingerprint]] with Unicode NFC composition FIRST: crawled corpora
    * mix precomposed and decomposed encodings of identical text (`é` vs
    * `e`+U+0301), which byte-level fingerprints treat as different
    * documents. Composing before the canonical lowercase/collapse makes
    * them ONE dedup key. Opt-in — the plain [[fingerprint]] stays
    * byte-stable for corpora with upstream normalization.
    */
  def fingerprintNfc(text: Column): Column =
    fingerprint(graft.functions.NfcNormalize.of(text))

  /** 64-bit rolling content hash (xxh64 of the canonical form) — cheaper
    * join key than the md5 hex string at shuffle time.
    */
  def fingerprint64(text: Column): Column =
    graft.functions.GoHash.goXxHash64(canonStr(text))
}
