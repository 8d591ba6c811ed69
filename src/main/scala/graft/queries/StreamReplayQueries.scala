package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Multimodal, Similarity, TextAnalysis}

/** Standing-operator replays: each query seeds a [[graft.streaming]]
  * operator, admits deterministic batches (most through
  * [[graft.streaming.StandingOperator.replay]]: batch k at id k, a
  * compaction after batch 0) and emits every batch's output. Each oracle
  * recomputes batch k against exactly the state seeded or admitted
  * before it, so a row is green only if state genuinely accumulates
  * across admissions and survives the compaction.
  */
object StreamReplayQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- standing streaming dedup, replayed under oracle: seed the
    //     persisted minhash state from 1/5 of the corpus, admit K=3
    //     deterministic batches derived from the same base docs (half
    //     exact twins, half suffix-perturbed — every batch pairs with
    //     the seed AND with every earlier batch, so the oracle is green
    //     only if state genuinely ACCUMULATES across admissions), with a
    //     compaction after batch 0 so the fold is exercised under the
    //     oracle too. The oracle recomputes each batch's cross-corpus
    //     pairs against exactly the ids admitted before it -------------
    Query("stream_dedup_replay", streamReplayOracle) { (s, dir) =>
      val d = Tables(s, dir).documents
      val base = d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      def batchDf(k: Int) = base.select(
        (col("doc_id") + lit((k + 1) * 1000000L)).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zzre zzplay zzmark")))
          .as("text"))
      val stateDir =
        Scratch.dir("stream_replay", dir)
      val sd = new graft.streaming.StreamingDedup(s, stateDir,
        "doc_id", "text", n = 3, bands = 8, rows = 4, threshold = 0.5)
      sd.seed(base)
      val pairs = sd.replay((0 until 3).map(batchDf))
      pairs.select(col("batch"), col("ref_id"), col("new_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("batch"), col("ref_id"), col("new_id"))
    },

    // --- standing paragraph filter, replayed under oracle: seed state
    //     from a 3-paragraph-per-doc corpus; every batch doc repeats the
    //     seed's boilerplate + body (both drop) and carries a versioned
    //     tail — batch 2's odd-doc tails repeat batch 0's, so they drop
    //     ONLY if state accumulated across admissions -------------------
    Query("stream_paradedup_replay",
      // global first occurrence per canonical paragraph fp, ordered
      // (batch, id, pos) with the seed at batch -1 — exactly the state the
      // standing filter accumulates; output = batches >= 0 reassembled
      {
      // every embedded line must END with its || (a line STARTING with
      // || would lose one pipe to the outer stripMargin)
      val batchArms = (0 until 3).map { k =>
        s"  UNION ALL SELECT $k AS batch, doc_id + ${k + 1}000000 AS doc_id,\n" +
          "    'shared boilerplate paragraph on every doc' || chr(10) || text ||\n" +
          "    chr(10) || 'tail ' || CAST(doc_id AS VARCHAR) || ' v' ||\n" +
          s"    CAST(CASE WHEN doc_id % 2 = 0 THEN $k ELSE ${k % 2} END AS VARCHAR) AS text\n" +
          "  FROM base"
      }.mkString("\n")
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |docs AS (
         |  SELECT -1 AS batch, doc_id,
         |    'shared boilerplate paragraph on every doc' || chr(10) || text
         |      || chr(10) || 'seed tail ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM base
         |$batchArms),
         |p AS (
         |  SELECT batch, doc_id, CAST(i AS INT) - 1 AS pos,
         |    paras[CAST(i AS INT)] AS para
         |  FROM (SELECT batch, doc_id, string_split_regex(text, '\\n+') AS paras
         |        FROM docs),
         |       UNNEST(generate_series(1, len(paras))) AS g(i)
         |  WHERE trim(paras[CAST(i AS INT)]) != ''),
         |k AS (
         |  SELECT batch, doc_id, pos, para,
         |    row_number() OVER (
         |      PARTITION BY md5(regexp_replace(replace(replace(lower(trim(para)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'))
         |      ORDER BY batch, doc_id, pos) AS rn
         |  FROM p)
         |SELECT batch, doc_id AS id, count(*) AS n_paras_kept,
         |  string_agg(para, chr(10) ORDER BY pos) AS text_dedup
         |FROM k WHERE rn = 1 AND batch >= 0 GROUP BY batch, doc_id
         |ORDER BY batch, id""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents
      val base = d.filter(col("doc_id") % 5 === 0)
      val boiler = lit("shared boilerplate paragraph on every doc")
      val seedCorpus = base.select(col("doc_id"),
        concat_ws("\n", boiler, col("text"),
          concat(lit("seed tail "), col("doc_id"))).as("text"))
      def batchDf(k: Int) = base.select(
        (col("doc_id") + lit((k + 1) * 1000000L)).as("doc_id"),
        concat_ws("\n", boiler, col("text"),
          concat(lit("tail "), col("doc_id"), lit(" v"),
            when(col("doc_id") % 2 === 0, lit(k)).otherwise(lit(k % 2))))
          .as("text"))
      val stateDir =
        Scratch.dir("stream_parareplay", dir)
      val sd = new graft.streaming.StreamingParagraphDedup(s, stateDir,
        "doc_id", "text")
      sd.seed(seedCorpus)
      val out = sd.replay((0 until 3).map(batchDf))
      out.select(col("batch"), col("id"), col("n_paras_kept"),
          col("text_dedup"))
        .orderBy(col("batch"), col("id"))
    },

    // --- the embedding twin of stream_dedup_replay: same seed/3-batch/
    //     compact-after-0 structure over the RHP-banded vector state;
    //     every batch pairs with the seed and with earlier batches ------
    Query("stream_embdedup_replay", streamEmbReplayOracle) { (s, dir) =>
      val e = Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val base = e.filter(col("vec_id") % 5 === 0)
      def batchDf(k: Int) = base.select(
        (col("vec_id") + lit((k + 1) * 1000000L)).as("vec_id"),
        when(col("vec_id") % 2 === 0, col("embedding"))
          .otherwise(transform(col("embedding"), x => x + lit(0.05)))
          .as("embedding"))
      val stateDir =
        Scratch.dir("stream_embreplay", dir)
      val sed = new graft.streaming.StreamingEmbeddingDedup(s, stateDir,
        "vec_id", "embedding", dims = 64, threshold = 0.75)
      sed.seed(base)
      val pairs = sed.replay((0 until 3).map(batchDf))
      pairs.select(col("batch"), col("ref_id"), col("new_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("batch"), col("ref_id"), col("new_id"))
    },

    // --- the semantic (SemDeDup) twin: centroids train on the SEED
    //     corpus only (exactly what StreamingSemanticDedup.seed does),
    //     batches assign cells with the loaded index and pair within
    //     shared cells against everything admitted before -----------------
    Query("stream_semdedup_replay", streamSemReplayOracle) { (s, dir) =>
      val e = Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val base = e.filter(col("vec_id") % 5 === 0)
      def batchDf(k: Int) = base.select(
        (col("vec_id") + lit((k + 1) * 1000000L)).as("vec_id"),
        when(col("vec_id") % 2 === 0, col("embedding"))
          .otherwise(transform(col("embedding"), x => x + lit(0.05)))
          .as("embedding"))
      val stateDir =
        Scratch.dir("stream_semreplay", dir)
      val ssd = new graft.streaming.StreamingSemanticDedup(s, stateDir,
        "vec_id", "embedding", nCells = 16, threshold = 0.75)
      ssd.seed(base)
      val pairs = ssd.replay((0 until 3).map(batchDf))
      pairs.select(col("batch"), col("ref_id"), col("new_id"), col("cell"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("batch"), col("ref_id"), col("new_id"))
    },

    // --- the multimodal twin of stream_dedup_replay: standing phash
    //     fingerprint state (band-bucketed on BatchedState), three
    //     admitted image batches derived from pixel id (asset_id % 100)
    //     — so each batch carries REAL in-batch cliques of 3 (ids pid,
    //     pid+100, pid+200 share the pixel content) and the SAME
    //     fingerprint recurs across batches (cross-batch version fold);
    //     even pixel ids byte-exact — hamming 0 to the seed and to
    //     every earlier batch; odd ids noisy — a few gradient bits off;
    //     compaction after batch 0. The oracle regenerates every dHash
    //     from the pixel arithmetic, collapses each arm by fingerprint
    //     (rep = min id, clique = count), and replays each batch's
    //     band-probed representative pairs against exactly the versions
    //     admitted before it, folding state versions per fingerprint
    //     (ref_id = all-time min id, clique_ref = summed multiplicity) —
    //     the collapse-first default's representative contract ---------
    Query("stream_phash_replay", streamPhashReplayOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      val seed = ids.select(col("asset_id"),
        Multimodal.bmpContent(col("asset_id"), 8, lit(false)).as("content"))
      def batchAssets(shift: Long) = ids
        .select(col("asset_id"),
          Multimodal.bmpContent(col("asset_id") % 100, 8,
            col("asset_id") % 2 =!= 0).as("content"))
        .select((col("asset_id") + shift).as("asset_id"), col("content"))
      def decoded(df: org.apache.spark.sql.DataFrame) =
        Multimodal.decodeImages(df).toDF()
          .select(col("asset_id"), col("dhash"))
      val stateDir = Scratch.dir("stream_phash", dir)
      val spd = new graft.streaming.StreamingPhashDedup(s, stateDir,
        "asset_id", "dhash", maxHamming = 7, wideRecall = true)
      spd.seed(decoded(seed))
      val pairs = spd.replay(
        (0 until 3).map(k => decoded(batchAssets((k + 1) * 1000000L))))
      pairs.select(col("batch"), col("ref_id"), col("new_id"),
          col("hamming"), col("clique_ref"), col("clique_new"))
        .orderBy(col("batch"), col("ref_id"), col("new_id"))
    },

    // --- standing streaming decontamination, replayed under oracle: seed
    //     the benchmark 8-gram state from docs < 20; three admitted doc
    //     batches plant benchmark quotes (doc_id%4==1 quotes the SEED
    //     set, %4==3 quotes a SECOND benchmark release folded in at
    //     batch id 1 — flagged from batch id 2 on, proving the state
    //     accumulated), with a compaction right after the addition so
    //     the fold sits under the oracle too ----------------------------
    Query("stream_decontaminate_replay",
      // streaming decontamination replay: state at batch 0 is the seed
      // benchmark's gram set alone; batches 2+ gate against the UNION with
      // the release folded in at id 1 — the verdict flip on %4==3 docs
      // between batch 0 and batch 2 is the state-accumulation proof
      {
      val words8 =
        "string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'), ' ')"
      def sh8(w: String) = s"""CASE WHEN len($w) < 8 THEN [array_to_string($w, ' ')]
        |    ELSE list_transform(range(1, len($w) - 6),
        |           i -> array_to_string($w[i:i+7], ' ')) END""".stripMargin
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |w0 AS (SELECT doc_id, $words8 AS words FROM d),
         |b0g AS (SELECT DISTINCT unnest(list_distinct(${sh8("words")})) AS sg
         |  FROM w0 WHERE doc_id < 20),
         |b1g AS (SELECT DISTINCT unnest(list_distinct(${sh8("words")})) AS sg
         |  FROM w0 WHERE doc_id >= 20 AND doc_id < 40),
         |spans0 AS (SELECT doc_id % 20 AS bid,
         |    array_to_string(words[1:8], ' ') AS span
         |  FROM w0 WHERE doc_id < 20),
         |spans1 AS (SELECT doc_id % 20 AS bid,
         |    array_to_string(words[1:8], ' ') AS span
         |  FROM w0 WHERE doc_id >= 20 AND doc_id < 40),
         |base AS (SELECT doc_id, text FROM d WHERE doc_id % 5 = 0),
         |raw AS (
         |  SELECT doc_id, text FROM base WHERE doc_id % 2 = 0
         |  UNION ALL SELECT b.doc_id, b.text || ' ' || s.span
         |    FROM base b JOIN spans0 s ON b.doc_id % 20 = s.bid
         |    WHERE b.doc_id % 4 = 1
         |  UNION ALL SELECT b.doc_id, b.text || ' ' || s.span
         |    FROM base b JOIN spans1 s ON b.doc_id % 20 = s.bid
         |    WHERE b.doc_id % 4 = 3),
         |batches AS (
         |  SELECT 0 AS batch, doc_id + 1000000 AS id, text FROM raw
         |  UNION ALL SELECT 2, doc_id + 2000000, text FROM raw
         |  UNION ALL SELECT 3, doc_id + 3000000, text FROM raw),
         |bw AS (SELECT batch, id, $words8 AS words FROM batches),
         |g AS (SELECT batch, id,
         |    unnest(list_distinct(${sh8("words")})) AS sg FROM bw),
         |agg AS (
         |  SELECT batch, id, count(*) AS n_grams,
         |    CAST(SUM(CASE WHEN sg IN (SELECT sg FROM b0g)
         |        OR (batch >= 2 AND sg IN (SELECT sg FROM b1g))
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM g GROUP BY 1, 2)
         |SELECT batch, id, n_grams, n_hits, n_hits > 0 AS contaminated
         |FROM agg ORDER BY batch, id""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val bench0 = d.filter(col("doc_id") < 20)
      val bench1 = d.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      def spans(bench: DataFrame) = bench.select(
        (col("doc_id") % 20).as("bid"),
        concat_ws(" ",
          slice(TextAnalysis.canonToks(col("text")), 1, 8)).as("span"))
      val base = d.filter(col("doc_id") % 5 === 0)
      def quoted(bench: DataFrame, m: Int) = base
        .filter(col("doc_id") % 4 === m)
        .withColumn("bid", col("doc_id") % 20)
        .join(spans(bench), "bid")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), col("span")).as("text"))
      // ids shift AFTER the text is built (lateral-alias hazard)
      def batchDf(k: Int) = base.filter(col("doc_id") % 2 === 0)
        .unionByName(quoted(bench0, 1)).unionByName(quoted(bench1, 3))
        .select(col("doc_id"), col("text"))
        .select((col("doc_id") + lit((k + 1) * 1000000L)).as("doc_id"),
          col("text"))
      val stateDir = Scratch.dir("stream_decontam", dir)
      val sdc = new graft.streaming.StreamingDecontamination(s, stateDir,
        "doc_id", "text")
      sdc.seed(bench0, "text")
      val b0 = sdc.described("admit", 0)(sdc.admit(batchDf(0), 0L))
        .withColumn("batch", lit(0))
      sdc.described("addBenchmark", 1)(sdc.addBenchmark(bench1, "text", 1L))
      sdc.described("compact", 1)(sdc.compact(upTo = 1L))
      val rest = (1 until 3).map { k =>
        val id = (k + 1).toLong
        sdc.described("admit", id)(sdc.admit(batchDf(k), id))
          .withColumn("batch", lit(k + 1))
      }
      (b0 +: rest).reduce(_ unionByName _)
        .select(col("batch"), col("id"), col("n_grams"), col("n_hits"),
          col("contaminated"))
        .orderBy(col("batch"), col("id"))
    },

    // --- the exact-substring twin's replay: seed docs %5==0, three
    //     admitted batches whose bodies re-quote their base doc (plus a
    //     ' bK' suffix so no batch is byte-identical) and whose %4==1
    //     members splice a 60-char span of a SEED doc — every batch
    //     pairs with the seed corpus and all earlier batches through
    //     verbatim 40-char windows, proving the gram state accumulates --
    Query("stream_substring_replay",
      // replay of the standing exact-substring state: per batch, the TRUE
      // 40-char-window join of that batch against the seed corpus plus
      // every earlier batch (seed = batch -1; state reads are strictly
      // before the admitted id)
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |base AS (SELECT doc_id, text FROM d WHERE doc_id % 5 = 0),
         |spans AS (SELECT doc_id % 20 AS bid, substr(text, 1, 60) AS span
         |  FROM d WHERE doc_id < 20),
         |ks AS (SELECT unnest([0, 1, 2]) AS k),
         |batches AS (
         |  SELECT ks.k AS batch, b.doc_id + (ks.k + 1) * 1000000 AS doc_id,
         |    CASE WHEN b.doc_id % 4 = 1
         |      THEN b.text || ' b' || CAST(ks.k AS VARCHAR) || ' ' || s.span
         |      ELSE b.text || ' b' || CAST(ks.k AS VARCHAR) END AS text
         |  FROM base b CROSS JOIN ks
         |  LEFT JOIN spans s ON b.doc_id % 4 = 1 AND s.bid = b.doc_id % 20),
         |everything AS (
         |  SELECT -1 AS batch, doc_id, text FROM base
         |  UNION ALL SELECT batch, doc_id, text FROM batches),
         |g AS (SELECT batch, doc_id, unnest(list_transform(
         |    range(1, greatest(length(text) - 38, 1)),
         |    i -> substr(text, i::INT, 40))) AS gm FROM everything),
         |gd AS (SELECT DISTINCT batch, doc_id, gm FROM g)
         |SELECT DISTINCT n.batch AS batch, r.doc_id AS ref_id,
         |  n.doc_id AS new_id
         |FROM gd r JOIN gd n ON r.gm = n.gm AND r.batch < n.batch
         |WHERE n.batch >= 0
         |ORDER BY batch, ref_id, new_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val base = d.filter(col("doc_id") % 5 === 0)
      val spans = d.filter(col("doc_id") < 20)
        .select((col("doc_id") % 20).as("bid"),
          substring(col("text"), 1, 60).as("span"))
      def batchDf(k: Int) = {
        val plain = base.filter(col("doc_id") % 4 =!= 1)
          .select(col("doc_id"), concat(col("text"), lit(s" b$k")).as("text"))
        val spliced = base.filter(col("doc_id") % 4 === 1)
          .withColumn("bid", col("doc_id") % 20)
          .join(spans, "bid")
          .select(col("doc_id"),
            concat(col("text"), lit(s" b$k "), col("span")).as("text"))
        plain.unionByName(spliced)
          .select((col("doc_id") + lit((k + 1) * 1000000L)).as("doc_id"),
            col("text"))
      }
      val stateDir = Scratch.dir("stream_substr", dir)
      val ssd = new graft.streaming.StreamingSubstringDedup(s, stateDir,
        "doc_id", "text", k = 40)
      ssd.seed(base)
      ssd.replay((0 until 3).map(batchDf))
        .select(col("batch"), col("ref_id"), col("new_id"))
        .orderBy(col("batch"), col("ref_id"), col("new_id"))
    },

    // --- the capstone STREAMING: the same stage list on a real
    //     Structured Streaming source (MemoryStream -> foreachBatch via
    //     StreamingCuration.attach), decontamination as the standing
    //     stateful gate. Batch fixture plants every stage's work: %4==1
    //     docs quote the SEED benchmark (always dropped), %4==3 docs
    //     quote a SECOND release folded in mid-stream at batch id 1
    //     (dropped from batch 2 on — the state-accumulation proof),
    //     %4==2 docs re-appear as +500000 exact copies (dedup drops
    //     them), and the per-batch rollup rides cap + split. The
    //     driver-side collect is the TEST HARNESS feeding MemoryStream,
    //     not the operator: production attaches to a Kafka/file source
    //     and nothing in StreamingCuration collects -------------------
    Query("corpus_pipeline_stream", corpusPipelineStreamOracle) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("text"), col("source"))
      val bench0 = d.filter(col("doc_id") < 20)
      val bench1 = d.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      def spans(bench: DataFrame) = bench.select(
        (col("doc_id") % 20).as("bid"),
        concat_ws(" ",
          slice(TextAnalysis.canonToks(col("text")), 1, 8)).as("span"))
      val base = d.filter(col("doc_id") % 5 === 0)
      def quoted(bench: DataFrame, m: Int) = base
        .filter(col("doc_id") % 4 === m)
        .withColumn("bid", col("doc_id") % 20)
        .join(spans(bench), "bid")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), col("span")).as("text"),
          col("source"))
      val raw = base.filter(col("doc_id") % 4 =!= 1 && col("doc_id") % 4 =!= 3)
        .unionByName(base.filter(col("doc_id") % 4 === 2)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text"),
            col("source")))
        .unionByName(quoted(bench0, 1))
        .unionByName(quoted(bench1, 3))
      def batchRows(k: Int): Seq[(Long, String, String)] = raw
        .select((col("doc_id") + lit((k + 1) * 1000000L)).as("doc_id"),
          col("text"), col("source"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val root = Scratch.dir("stream_capstone", dir)
      // a stale checkpoint + a fresh MemoryStream is an unrunnable pair
      // (committed offsets point at data the new source never had) — a
      // re-run inside one process must start clean
      val rootPath = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(rootPath))
        java.nio.file.Files.walk(rootPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      val outDir = s"$root/out"
      val sc = new graft.streaming.StreamingCuration(s, s"$root/state",
        "doc_id", "text", "source")
      sc.seed(bench0, "text")
      val mem = MemoryStream[(Long, String, String)]
      val q = sc.attach(mem.toDF().toDF("doc_id", "text", "source"),
        outDir, s"$root/ck").start()
      mem.addData(batchRows(0)); q.processAllAvailable()
      // release 1 folds in at id 1: stream batch 1 admits with state
      // `before = 1` (doesn't see it), batch 2 does
      sc.addBenchmark(bench1, "text", 1L)
      mem.addData(batchRows(1)); q.processAllAvailable()
      mem.addData(batchRows(2)); q.processAllAvailable()
      q.stop()
      s.read.parquet(outDir)
        .select(col("batch").cast("int").as("batch"), col("split"),
          col("source"), col("n"), col("n_tokens"))
        .orderBy(col("batch"), col("split"), col("source"))
    },

    // --- standing streaming retention, replayed under oracle: cohort
    //     flags accumulate across 3 time-ordered batches; each batch's
    //     emitted row is the anchor-gated retention over full history --
    Query("stream_retention_replay", retentionReplayOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val batches = eventBatches(e)
      val w1 = lit("2024-01-08 00:00:00").cast("timestamp_ntz")
      val w2 = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val stateDir = Scratch.dir("stream_retention", dir)
      val sr = new graft.streaming.StreamingRetention(s, stateDir,
        "user_id", Seq(
          "anchor" -> (col("event_type") === "signup" && col("ts") < w1),
          "week2" -> (col("ts") >= w1 && col("ts") < w2),
          "week3" -> (col("ts") >= w2)))
      sr.seed(e.filter(lit(false)))
      val outs = sr.replay(batches)
      outs.select(col("batch"), col("user_id"), col("r0"), col("r1"),
          col("r2"))
        .orderBy(col("batch"), col("user_id"))
    },

    // --- standing streaming funnel, replayed under oracle: events
    //     arrive in three event-time-ordered batches; each batch's
    //     emitted level must equal the BATCH windowFunnel over the
    //     user's full history so far (chains spanning batch boundaries
    //     within the 4h window must surface) ----------------------------
    Query("stream_funnel_replay", funnelReplayOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val batches = eventBatches(e)
      val stateDir = Scratch.dir("stream_funnel", dir)
      val swf = new graft.streaming.StreamingWindowFunnel(s, stateDir,
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"), windowSec = 14400)
      swf.seed(e.filter(lit(false)))
      val outs = swf.replay(batches)
      outs.select(col("batch"), col("user_id"), col("level"))
        .orderBy(col("batch"), col("user_id"))
    },

    // --- standing streaming SummingMerge (the CH materialized-view
    //     pattern), replayed under oracle: a rollup over lineitem folds
    //     one batch at a time; every batch's emitted row must equal the
    //     batch aggregate over the key's full history — addition is not
    //     idempotent, so this pins the newest-state-row read discipline -
    Query("stream_summing_replay",
      // per batch b: full-history sums for the keys touched in b; compare
      // surface rounded through DOUBLE on both sides (the standing state
      // stays exact DECIMAL(28,2) — only the emitted row is rounded)
      {
      def out(b: Int) =
        s"""out$b AS (
           |  SELECT $b AS batch, k,
           |    round(CAST(sum(qty) AS DOUBLE), 6) AS qty,
           |    round(CAST(sum(price) AS DOUBLE), 6) AS price
           |  FROM t WHERE b <= $b AND k IN (SELECT k FROM t WHERE b = $b)
           |  GROUP BY k)"""
      s"""WITH t AS (
         |  SELECT l_partkey % 500 AS k, l_orderkey % 3 AS b,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price
         |  FROM lineitem),
         |${(0 to 2).map(out).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM out0 UNION ALL
         |  SELECT * FROM out1 UNION ALL
         |  SELECT * FROM out2)
         |ORDER BY batch, k""".stripMargin
    }) { (s, dir) =>
      val l = Tables(s, dir).lineitem.select(
        (col("l_partkey") % 500).as("k"),
        (col("l_orderkey") % 3).as("b"),
        col("l_quantity").cast("decimal(18,2)").as("qty"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val stateDir = Scratch.dir("stream_summing", dir)
      val sm = new graft.streaming.StreamingSummingMerge(s, stateDir,
        "k", Seq("qty", "price"))
      sm.seed(l.filter(lit(false)))
      val outs = sm.replay((0 until 3).map(b => l.filter(col("b") === b).drop("b")))
      // compare surface rounded through DOUBLE on both sides (driver's
      // hasher rejects DECIMAL renderings; state stays exact DECIMAL)
      outs.select(col("batch"), col("k"),
          round(col("qty").cast("double"), 6).as("qty"),
          round(col("price").cast("double"), 6).as("price"))
        .orderBy(col("batch"), col("k"))
    },

    // --- standing streaming VersionedCollapsing (the fourth MergeTree
    //     streaming tier), replayed under oracle: signed rows fold into
    //     per-(key, VERSION) nets across 3 batches — pairwise cancels
    //     collapse, a SECOND cancel drives the net negative (the
    //     tombstone row must survive net 0 for that to fold right), and
    //     old-version cancels never consume newer state ----------------
    Query("stream_versioned_replay",
      // per batch b: full-history (key, version) nets for the pairs
      // touched in b — survival flips off at net 0 and back ON (sign -1)
      // at the second cancel; payload follows the surviving side
      {
      def out(b: Int) =
        s"""out$b AS (
           |  SELECT $b AS batch, k, ver,
           |    CAST(sum(sign) AS BIGINT) AS net,
           |    sum(sign) <> 0 AS surviving,
           |    round(CASE WHEN sum(sign) > 0
           |        THEN max(CASE WHEN sign = 1 THEN tp END)
           |      WHEN sum(sign) < 0
           |        THEN max(CASE WHEN sign = -1 THEN tp END)
           |      END, 6) AS totalprice
           |  FROM t WHERE b <= $b AND EXISTS (SELECT 1 FROM t t2
           |    WHERE t2.b = $b AND t2.k = t.k AND t2.ver = t.ver)
           |  GROUP BY k, ver)"""
      s"""WITH base AS (
         |  SELECT o_orderkey % 149 AS k, o_orderkey // 149 AS ver,
         |    o_orderkey % 3 AS g, o_totalprice AS tp
         |  FROM orders WHERE o_orderkey < 3000),
         |t AS (
         |  SELECT 0 AS b, k, 1 AS sign, ver, tp FROM base WHERE g = 0
         |  UNION ALL SELECT 1, k, 1, ver, tp FROM base WHERE g = 1
         |  UNION ALL SELECT 1, k, -1, ver, tp FROM base
         |    WHERE g = 0 AND ver % 2 = 0
         |  UNION ALL SELECT 2, k, 1, ver, tp FROM base WHERE g = 2
         |  UNION ALL SELECT 2, k, -1, ver, tp FROM base
         |    WHERE g = 1 AND ver % 2 = 0
         |  UNION ALL SELECT 2, k, -1, ver, tp FROM base
         |    WHERE g = 0 AND ver % 10 = 0),
         |${(0 to 2).map(out).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM out0 UNION ALL
         |  SELECT * FROM out1 UNION ALL
         |  SELECT * FROM out2)
         |ORDER BY batch, k, ver""".stripMargin
    }) { (s, dir) =>
      val base = Tables(s, dir).orders.filter(col("o_orderkey") < 3000)
        .select((col("o_orderkey") % 149).as("k"),
          expr("CAST(o_orderkey DIV 149 AS BIGINT)").as("ver"),
          (col("o_orderkey") % 3).as("g"), col("o_totalprice").as("tp"))
      def states(g: Int) = base.filter(col("g") === g)
        .select(col("k"), lit(1).as("sign"), col("ver"), col("tp"))
      def cancels(g: Int, m: Int) = base
        .filter(col("g") === g && col("ver") % m === 0)
        .select(col("k"), lit(-1).as("sign"), col("ver"), col("tp"))
      val batches = Seq(
        states(0),
        states(1).unionByName(cancels(0, 2)),
        states(2).unionByName(cancels(1, 2))
          .unionByName(cancels(0, 10))) // second cancel -> net -1
      val stateDir = Scratch.dir("stream_versioned", dir)
      val svc = new graft.streaming.StreamingVersionedCollapsing(s,
        stateDir, "k", "sign", "ver", Seq("tp"))
      svc.seed(states(0).filter(lit(false)))
      val outs = svc.replay(batches)
      outs.select(col("batch"), col("k"), col("ver"), col("net"),
          col("surviving"), round(col("tp"), 6).as("totalprice"))
        .orderBy(col("batch"), col("k"), col("ver"))
    },

    // --- standing streaming quantile sketch, replayed under oracle:
    //     per-batch histogram folds; each batch's p50/p90 must equal the
    //     batch sketch over the key's full history ----------------------
    Query("stream_quantile_replay",
      // per batch b: the q_quantile_sketch pipeline over rows with
      // b' <= b for the keys touched in b
      {
      def out(b: Int) =
        s"""v$b AS (
           |  SELECT flag, s FROM v WHERE b <= $b
           |    AND flag IN (SELECT DISTINCT flag FROM v WHERE b = $b)),
           |bk$b AS (
           |  SELECT flag, s, GREATEST(length(bin(s)) - 8, 0) AS w FROM v$b),
           |h$b AS (
           |  SELECT flag, (s >> w) << w AS blo, count(*) AS cnt
           |  FROM bk$b GROUP BY 1, 2),
           |c$b AS (
           |  SELECT flag, blo, cnt,
           |    sum(cnt) OVER (PARTITION BY flag ORDER BY blo) AS cum,
           |    sum(cnt) OVER (PARTITION BY flag) AS n
           |  FROM h$b),
           |out$b AS (
           |  SELECT $b AS batch, flag, CAST(max(n) AS BIGINT) AS n,
           |    CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN blo END)
           |      AS DOUBLE) / CAST(100 AS DOUBLE) AS p50,
           |    CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN blo END)
           |      AS DOUBLE) / CAST(100 AS DOUBLE) AS p90
           |  FROM c$b GROUP BY flag)"""
      s"""WITH v AS (
         |  SELECT l_returnflag AS flag, l_orderkey % 3 AS b,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
         |  FROM lineitem),
         |${(0 to 2).map(out).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM out0 UNION ALL
         |  SELECT * FROM out1 UNION ALL
         |  SELECT * FROM out2)
         |ORDER BY batch, flag""".stripMargin
    }) { (s, dir) =>
      val l = Tables(s, dir).lineitem.select(
        col("l_returnflag").as("flag"),
        (col("l_orderkey") % 3).as("b"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val stateDir = Scratch.dir("stream_quantile", dir)
      val sq = new graft.streaming.StreamingQuantile(s, stateDir,
        "flag", "price", Seq(("p50", 1, 2), ("p90", 9, 10)))
      sq.seed(l.filter(lit(false)))
      val outs = sq.replay((0 until 3).map(b => l.filter(col("b") === b).drop("b")))
      outs.select(col("batch"), col("flag"), col("n"),
          col("p50"), col("p90"))
        .orderBy(col("batch"), col("flag"))
    },

    // --- standing streaming uniqHLL, replayed under oracle: the
    //     persisted state IS the register sketch and the admission fold
    //     IS the HLL merge (register-wise max), so each batch's emitted
    //     estimate must equal the BATCH uniqHll over the full history —
    //     the -State/-Merge combinator contract, checked exactly -------
    Query("stream_uniq_hll_replay", streamingUniqHllOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val batches = eventBatches(e)
      val stateDir = Scratch.dir("stream_uniqhll", dir)
      val su = new graft.streaming.StreamingUniqHll(s, stateDir,
        "event_type", "user_id")
      su.seed(e.filter(lit(false)))
      val outs = su.replay(batches)
      outs.select(col("batch"), col("event_type"), col("est"), col("n_regs"))
        .orderBy(col("batch"), col("event_type"))
    },

    // --- standing streaming KMV distinct, replayed under oracle: the
    //     persisted state is the per-key min-k distinct hash set and the
    //     admission fold is the KMV merge (idempotent min-k), so each
    //     batch's emitted estimate must equal the BATCH uniqKmv over the
    //     key's full history -------------------------------------------
    Query("stream_kmv_replay", streamingKmvOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val batches = eventBatches(e)
      val stateDir = Scratch.dir("stream_kmv", dir)
      val su = new graft.streaming.StreamingUniqKmv(s, stateDir,
        "event_type", "event_id", k = 256)
      su.seed(e.filter(lit(false)))
      val outs = su.replay(batches)
      outs.select(col("batch"), col("event_type"), col("est"), col("n_kept"))
        .orderBy(col("batch"), col("event_type"))
    },

    // --- streaming ANALYTICS capstone: funnel + retention standing
    //     state driven through the SAME 3-batch event timeline under ONE
    //     replay, with a COLD RESTART between batches 0 and 1 — both
    //     operator instances are discarded and rebuilt from their disk
    //     state (the SinkerApp restart contract: params re-validated,
    //     batch-id monotonicity enforced, state read back from
    //     snapshot+delta dirs). Per batch the two tiers' touched-user
    //     outputs full-outer join on user — proving the r10 analytics
    //     tiers compose under one timeline and survive process death ----
    Query("stream_analytics_replay", analyticsReplayOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val batches = eventBatches(e)
      val w1 = lit("2024-01-08 00:00:00").cast("timestamp_ntz")
      val w2 = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val funnelDir = Scratch.dir("stream_cap_funnel", dir)
      val retDir = Scratch.dir("stream_cap_ret", dir)
      def mkFunnel() = new graft.streaming.StreamingWindowFunnel(s, funnelDir,
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"), windowSec = 14400)
      def mkRetention() = new graft.streaming.StreamingRetention(s, retDir,
        "user_id", Seq(
          "anchor" -> (col("event_type") === "signup" && col("ts") < w1),
          "week2" -> (col("ts") >= w1 && col("ts") < w2),
          "week3" -> (col("ts") >= w2)))
      val f0 = mkFunnel(); val r0 = mkRetention()
      f0.seed(e.filter(lit(false))); r0.seed(e.filter(lit(false)))
      def runBatch(f: graft.streaming.StreamingWindowFunnel,
          r: graft.streaming.StreamingRetention, b: Int) = {
        val fl = f.described("admit", b)(f.admit(batches(b), b.toLong))
        val rt = r.described("admit", b)(r.admit(batches(b), b.toLong))
        fl.join(rt, Seq("user_id"), "full_outer")
          .withColumn("batch", lit(b))
      }
      val out0 = runBatch(f0, r0, 0)
      // force the admits before discarding the instances: the restart
      // must read batch 0's state from DISK, not from these objects
      out0.cache().count()
      f0.described("compact", 0)(f0.compact(upTo = 0L))
      val f1 = mkFunnel(); val r1 = mkRetention() // <- the restart
      val outs = out0 +: (1 until 3).map(b => runBatch(f1, r1, b))
      outs.reduce(_ unionByName _)
        .select(col("batch"), col("user_id"), col("level"),
          col("r0"), col("r1"), col("r2"))
        .orderBy(col("batch"), col("user_id"))
    },

    // --- FIVE standing tiers under ONE state root (funnel, retention,
    //     uniqHLL, quantile sketch, SummingMerge), fed the same event
    //     batches, with a COLD RESTART after batch 0 (all five instances
    //     discarded and rebuilt from disk) and a compaction — proves the
    //     per-tier BatchedState dirs coexist under one root, batch-id
    //     monotonicity holds across instances, and every tier's emitted
    //     view equals its full-history replay. Output is one tall frame
    //     (batch, tier, k, v1, v2) so five shapes share one oracle ----
    Query("stream_multitier_replay", multitierReplayOracle) { (s, dir) =>
      val e = Tables(s, dir).events
      val batches = eventBatches(e)
      val w1 = lit("2024-01-08 00:00:00").cast("timestamp_ntz")
      val w2 = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val root = Scratch.dir("stream_multitier", dir)
      def quantIn(df: DataFrame) = df.select(col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
      def sumIn(df: DataFrame) = df.select(
        (col("user_id") % 10).cast("string").as("k"),
        col("value").cast("decimal(18,2)").as("v"))
      def mkTiers() = (
        // nBuckets=8: the capstone's keyspaces are tiny (<=150 users /
        // 5 event types / 10 sum keys), so the default 64 state buckets
        // only multiply file churn across 5 tiers x 3 batches; bucket
        // count is a pruning knob, never a semantics one
        new graft.streaming.StreamingWindowFunnel(s, s"$root/funnel",
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 14400,
          nBuckets = 8),
        new graft.streaming.StreamingRetention(s, s"$root/ret", "user_id",
          Seq("anchor" -> (col("event_type") === "signup" && col("ts") < w1),
            "week2" -> (col("ts") >= w1 && col("ts") < w2),
            "week3" -> (col("ts") >= w2)), nBuckets = 8),
        new graft.streaming.StreamingUniqHll(s, s"$root/hll",
          "event_type", "user_id", nBuckets = 8),
        new graft.streaming.StreamingQuantile(s, s"$root/quant",
          "event_type", "v", Seq(("p50", 1, 2), ("p90", 9, 10)),
          nBuckets = 8),
        new graft.streaming.StreamingSummingMerge(s, s"$root/sum",
          "k", Seq("v"), nBuckets = 8))
      val t0 = mkTiers()
      val empty = e.filter(lit(false))
      t0._1.seed(empty); t0._2.seed(empty); t0._3.seed(empty)
      t0._4.seed(quantIn(empty)); t0._5.seed(sumIn(empty))
      val dNull = lit(null).cast("double")
      def runBatch(t: (graft.streaming.StreamingWindowFunnel,
          graft.streaming.StreamingRetention,
          graft.streaming.StreamingUniqHll,
          graft.streaming.StreamingQuantile,
          graft.streaming.StreamingSummingMerge), b: Int) = {
        // the shared batch frame stays a lazy filter-over-parquet:
        // recomputing a scan five times is cheaper than holding 3
        // batches in block storage and losing lineage recovery
        val bd = batches(b)
        def admit(op: graft.streaming.StandingOperator, df: DataFrame) =
          op.described("admit", b)(op.admit(df, b.toLong))
        Seq(
          admit(t._1, bd)
            .select(lit("funnel").as("tier"),
            col("user_id").cast("string").as("k"),
            col("level").cast("double").as("v1"), dNull.as("v2")),
          admit(t._2, bd)
            .select(lit("retention").as("tier"),
            col("user_id").cast("string").as("k"),
            (col("r0") * 4 + col("r1") * 2 + col("r2"))
              .cast("double").as("v1"), dNull.as("v2")),
          admit(t._3, bd)
            .select(lit("uniq").as("tier"),
            col("event_type").as("k"), col("est").cast("double").as("v1"),
            col("n_regs").cast("double").as("v2")),
          admit(t._4, quantIn(bd))
            .select(lit("quantile").as("tier"),
            col("event_type").as("k"), col("p50").as("v1"),
            col("p90").as("v2")),
          admit(t._5, sumIn(bd))
            .select(lit("summing").as("tier"),
            col("k"), round(col("v").cast("double"), 6).as("v1"),
            dNull.as("v2"))
        ).reduce(_ unionByName _).withColumn("batch", lit(b))
      }
      val out0 = runBatch(t0, 0)
      out0.cache().count() // force before instance discard
      Seq[graft.streaming.KeyedFold](t0._1, t0._3, t0._4, t0._5).foreach(
        op => op.described("compact", 0)(op.compact(upTo = 0L)))
      val t1 = mkTiers() // <- the cold restart: state re-read from disk
      val outs = out0 +: (1 until 3).map(b => runBatch(t1, b))
      outs.reduce(_ unionByName _)
        .select(col("batch"), col("tier"), col("k"), col("v1"), col("v2"))
        .orderBy(col("batch"), col("tier"), col("k"))
    },

    // --- standing CDC view, replayed under oracle: seed a keyed
    //     current-state view from orders, then 3 update batches — batch 2
    //     is entirely STALE (versions below the standing ones), so its
    //     rows must report changed=false with the prior state intact ----
    Query("stream_replacing_replay", cdcReplayOracle) { (s, dir) =>
      val o = Tables(s, dir).orders
      val seedRows = o.select((col("o_orderkey") % 300).as("k"),
        col("o_orderkey").as("ver"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("tp"))
      val keys = seedRows.select(col("k")).distinct()
      def batchDf(b: Int) = {
        val m = Seq(3, 4, 5)(b)
        val verBase = Seq(1000000L, 2000000L, 1000L)(b)
        keys.filter(col("k") % m === 0)
          .select(col("k"), (col("k") + lit(verBase)).as("ver"),
            lit(s"U$b").as("status"),
            (col("k").cast("double") * (b + 1.5)).as("tp"))
      }
      val stateDir = Scratch.dir("stream_cdc", dir)
      val srm = new graft.streaming.StreamingReplacingMerge(s, stateDir,
        "k", "ver", Seq("status", "tp"))
      srm.seed(seedRows)
      val outs = srm.replay((0 until 3).map(batchDf))
      outs.select(col("batch"), col("k"), col("ver"), col("status"),
          round(col("tp"), 6).as("totalprice"), col("prev_ver"),
          col("changed"))
        .orderBy(col("batch"), col("k"))
    }
  )

  /** The three event-time batches the event replays admit: before
    * 2024-01-11, up to 2024-01-21, and the rest.
    */
  private def eventBatches(e: DataFrame): Seq[DataFrame] = {
    def ntz(x: String) = lit(x).cast("timestamp_ntz")
    val (t1, t2) = (ntz("2024-01-11 00:00:00"), ntz("2024-01-21 00:00:00"))
    Seq(e.filter(col("ts") < t1),
      e.filter(col("ts") >= t1 && col("ts") < t2),
      e.filter(col("ts") >= t2))
  }

  /** The streaming-replay oracle: ONE signature computation over seed +
    * all three batches (seed at base ids, batch k at +(k+1)e6), then per
    * batch a candidate join restricted to (everything admitted before
    * it) x (the batch) — ids below the batch's offset ARE the prior
    * state, so the three bounds replay [[graft.streaming.StreamingDedup]]
    * exactly — exact-Jaccard verify, UNION ALL with the batch id.
    */
  private def streamReplayOracle: String = {
    val sigCols = (0 until 32).map(i => s"MIN(${wrappedPerm(i)}) AS m$i")
      .mkString(",\n    ")
    val bandEq = (0 until 8).map { b =>
      (0 until 4).map(r => s"x.m${b * 4 + r} = y.m${b * 4 + r}")
        .mkString("(", " AND ", ")")
    }.mkString("\n      OR ")
    val perturbed =
      "CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' zzre zzplay zzmark' END"
    val batchArms = (1 to 3).map(k =>
      s"  UNION ALL SELECT doc_id + ${k}000000 AS doc_id, $perturbed AS text FROM base")
      .mkString("\n")
    val perBatch = (0 until 3).map { k =>
      val lo = (k + 1) * 1000000L
      val hi = (k + 2) * 1000000L
      s"""  SELECT $k AS batch, c.ref_id, c.new_id, $jaccardExpr AS j
         |  FROM (SELECT x.doc_id AS ref_id, y.doc_id AS new_id
         |    FROM sig x JOIN sig y ON x.doc_id < $lo
         |      AND y.doc_id >= $lo AND y.doc_id < $hi
         |      AND ($bandEq)) c
         |  JOIN sh sa ON c.ref_id = sa.doc_id
         |  JOIN sh sb ON c.new_id = sb.doc_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |allc AS (
       |  SELECT doc_id, text FROM base
       |$batchArms),
       |${shinglesCtes("allc")},
       |hs AS (SELECT doc_id, unnest(s) AS sg FROM sh),
       |hv AS (SELECT doc_id,
       |    md5_number_lower(sg)::HUGEINT AS h1,
       |    md5_number_upper(sg)::HUGEINT AS h2 FROM hs),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM hv GROUP BY doc_id),
       |pairs AS (
       |$perBatch)
       |SELECT batch, ref_id, new_id, round(j, 6) AS jaccard FROM pairs
       |WHERE j >= 0.5 ORDER BY batch, ref_id, new_id""".stripMargin
  }

  /** The embedding replay oracle: one RHP band-key computation (the
    * exact plane literals the Spark plan embeds) over seed + batches,
    * then per batch a candidate join bounded to (everything admitted
    * before it) x (the batch), exact cosine verify, UNION ALL with the
    * batch id — the SQL twin of
    * [[graft.streaming.StreamingEmbeddingDedup]]'s admit sequence.
    */
  private def streamEmbReplayOracle: String = {
    def plane(b: Int): String =
      (0 until 64).map(d => Similarity.planeComponent(b, d).toString)
        .mkString("[", ", ", "]")
    val bitCols = (0 until 384).map(b =>
      s"(CASE WHEN list_dot_product(v, ${plane(b)}) >= 0 THEN 1 ELSE 0 END) AS b$b")
      .mkString(",\n    ")
    val keyCols = (0 until 24).map { band =>
      val expr = (0 until 16).map(r => s"b${band * 16 + r}")
        .reduce((acc, b) => s"($acc * 2 + $b)")
      s"$expr AS k$band"
    }.mkString(",\n    ")
    val bandEq = (0 until 24).map(b => s"l.k$b = r.k$b").mkString(" OR ")
    val perturbed =
      "CASE WHEN vec_id % 2 = 0 THEN v ELSE list_transform(v, x -> x + 0.05) END"
    val batchArms = (1 to 3).map(k =>
      s"  UNION ALL SELECT vec_id + ${k}000000 AS vec_id, $perturbed AS v FROM base")
      .mkString("\n")
    val perBatch = (0 until 3).map { k =>
      val lo = (k + 1) * 1000000L
      val hi = (k + 2) * 1000000L
      s"""  SELECT $k AS batch, sc.ref_id, sc.new_id, $cosExpr AS cos0 FROM (
         |    SELECT cd.ref_id, cd.new_id, va.v AS qv, vb.v AS cv FROM (
         |      SELECT DISTINCT l.vec_id AS ref_id, r.vec_id AS new_id
         |      FROM bd l JOIN bd r ON l.vec_id < $lo
         |        AND r.vec_id >= $lo AND r.vec_id < $hi
         |        AND ($bandEq)) cd
         |    JOIN e va ON cd.ref_id = va.vec_id
         |    JOIN e vb ON cd.new_id = vb.vec_id) sc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id % 5 = 0),
       |e AS (
       |  SELECT vec_id, v FROM base
       |$batchArms),
       |sg AS (SELECT vec_id, v,
       |    $bitCols
       |  FROM e),
       |bd AS (SELECT vec_id,
       |    $keyCols
       |  FROM sg),
       |pairs AS (
       |$perBatch)
       |SELECT batch, ref_id, new_id, round(cos0, 6) AS cos FROM pairs
       |WHERE cos0 >= 0.75 ORDER BY batch, ref_id, new_id""".stripMargin
  }

  /** The semantic (SemDeDup) replay oracle: the deterministic centroid
    * training ([[ivfOracle]] recipe) runs over the SEED corpus only —
    * exactly what [[graft.streaming.StreamingSemanticDedup.seed]]
    * persists — then every vector (seed + batches) assigns a cell with
    * those centroids and each batch pairs within shared cells against
    * the ids admitted before it.
    */
  private def streamSemReplayOracle: String = {
    val meanCols = (0 until 64).map(d => s"round(avg(v[${d + 1}]), 3) AS m$d")
      .mkString(",\n    ")
    val centList = (0 until 64).map(d => s"coalesce(m.m$d, round(s.v[${d + 1}], 3))")
      .mkString("[", ", ", "]")
    val hSigned = "(md5_number_lower(CAST(vec_id AS VARCHAR))::HUGEINT - " +
      "CASE WHEN md5_number_lower(CAST(vec_id AS VARCHAR)) >= 9223372036854775808 " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
    val perturbed =
      "CASE WHEN vec_id % 2 = 0 THEN v ELSE list_transform(v, x -> x + 0.05) END"
    val batchArms = (1 to 3).map(k =>
      s"  UNION ALL SELECT vec_id + ${k}000000 AS vec_id, $perturbed AS v FROM base")
      .mkString("\n")
    val perBatch = (0 until 3).map { k =>
      val lo = (k + 1) * 1000000L
      val hi = (k + 2) * 1000000L
      s"""  SELECT $k AS batch, sc.ref_id, sc.new_id, sc.cell, $cosExpr AS cos0 FROM (
         |    SELECT l.vec_id AS ref_id, r.vec_id AS new_id, l.cell,
         |      l.v AS qv, r.v AS cv
         |    FROM cellof l JOIN cellof r ON l.cell = r.cell
         |      AND l.vec_id < $lo
         |      AND r.vec_id >= $lo AND r.vec_id < $hi) sc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id % 5 = 0),
       |e AS (
       |  SELECT vec_id, v FROM base
       |$batchArms),
       |seeds AS (
       |  SELECT row_number() OVER (
       |      ORDER BY $hSigned, vec_id) - 1 AS cell, v
       |  FROM base
       |  ORDER BY $hSigned, vec_id LIMIT 16),
       |a0 AS (
       |  SELECT b.vec_id, b.v, s.cell,
       |    list_dot_product(b.v, s.v) / sqrt(list_dot_product(s.v, s.v)) AS score
       |  FROM base b CROSS JOIN seeds s),
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
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) = 1),
       |pairs AS (
       |$perBatch)
       |SELECT batch, ref_id, new_id, CAST(cell AS INT) AS cell,
       |  round(cos0, 6) AS cos FROM pairs
       |WHERE cos0 >= 0.75 ORDER BY batch, ref_id, new_id""".stripMargin
  }

  /** The streaming phash replay oracle: regenerate every variant's dHash
    * from the pixel arithmetic ([[mmPixelCtesFor]]), collapse each arm
    * (seed, batch 0..2) by fingerprint (rep = min id, clique = count —
    * the admit path's collapse-first default), then per batch the
    * band-probed representative pairs (the [[mmPhashOracle]] wide-recall
    * gate) bounded to (every version admitted before it) x (the batch),
    * folding state versions per fingerprint: ref_id = the all-time
    * minimum id, clique_ref = the summed multiplicity — the SQL twin of
    * [[graft.streaming.StreamingPhashDedup]]'s admit sequence.
    */
  private def streamPhashReplayOracle: String = {
    val bandEq = (0 until 4).map(b =>
      s"bit_count(xor((l.dh >> ${b * 16}) & 65535, (r.dh >> ${b * 16}) & 65535)) <= 1")
      .mkString("\n      OR ")
    val batchArms = (1 to 3).map(k =>
      s"  UNION ALL SELECT pid % 100, pid + ${k}000000, 8, " +
        s"CASE WHEN pid % 2 = 0 THEN 0 ELSE 1 END FROM ids")
      .mkString("\n")
    val perBatch = (0 until 3).map { k =>
      s"""  SELECT $k AS batch, min(l.id) AS ref_id, r.id AS new_id,
         |    CAST(bit_count(xor(l.dh, r.dh)) AS INT) AS hamming,
         |    CAST(sum(l.clique) AS BIGINT) AS clique_ref,
         |    r.clique AS clique_new
         |  FROM reps l JOIN reps r ON l.b < $k AND r.b = $k
         |    AND l.id <> r.id AND ($bandEq)
         |  WHERE bit_count(xor(l.dh, r.dh)) <= 7
         |  GROUP BY l.dh, r.dh, r.id, r.clique""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${mmPixelCtesFor(
        s"""SELECT pid, pid AS asset_id, 8 AS size, 0 AS noisy FROM ids
           |$batchArms""".stripMargin)},
       |reps AS (
       |  SELECT CASE WHEN asset_id < 1000000 THEN -1
       |              ELSE asset_id // 1000000 - 1 END AS b,
       |    dh, min(asset_id) AS id, count(*) AS clique
       |  FROM hs GROUP BY 1, 2),
       |pairs AS (
       |$perBatch)
       |SELECT batch, ref_id, new_id, hamming, clique_ref, clique_new
       |FROM pairs
       |ORDER BY batch, ref_id, new_id""".stripMargin
  }

  /** The streaming capstone's oracle: replays the decontamination state
    * timeline in plain SQL (batches < 2 gate against the SEED gram set
    * alone; batch 2 sees the release folded in at id 1), then runs the
    * batch-stage SQL of the `corpus_pipeline` oracle per batch.
    */
  private def corpusPipelineStreamOracle: String = {
    val words8 =
      "string_split(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'), ' ')"
    def sh8(w: String) = s"""CASE WHEN len($w) < 8 THEN [array_to_string($w, ' ')]
      |    ELSE list_transform(range(1, len($w) - 6),
      |           i -> array_to_string($w[i:i+7], ' ')) END""".stripMargin
    val stopHits = TextAnalysis.enStopwords.map { w =>
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) // ${w.length + 2} AS BIGINT)"
    }.mkString(" + ")
    val email = TextAnalysis.piiEmailRe
    val ipv4 = TextAnalysis.piiIpv4Re
    val num = TextAnalysis.piiLongNumRe
    s"""WITH d AS (SELECT doc_id, text, source FROM documents),
       |w0 AS (SELECT doc_id, $words8 AS words FROM d),
       |b0g AS (SELECT DISTINCT unnest(list_distinct(${sh8("words")})) AS sg
       |  FROM w0 WHERE doc_id < 20),
       |b1g AS (SELECT DISTINCT unnest(list_distinct(${sh8("words")})) AS sg
       |  FROM w0 WHERE doc_id >= 20 AND doc_id < 40),
       |spans0 AS (SELECT doc_id % 20 AS bid,
       |    array_to_string(words[1:8], ' ') AS span
       |  FROM w0 WHERE doc_id < 20),
       |spans1 AS (SELECT doc_id % 20 AS bid,
       |    array_to_string(words[1:8], ' ') AS span
       |  FROM w0 WHERE doc_id >= 20 AND doc_id < 40),
       |base AS (SELECT doc_id, text, source FROM d WHERE doc_id % 5 = 0),
       |raw AS (
       |  SELECT doc_id, text, source FROM base
       |    WHERE doc_id % 4 != 1 AND doc_id % 4 != 3
       |  UNION ALL SELECT doc_id + 500000, text, source FROM base
       |    WHERE doc_id % 4 = 2
       |  UNION ALL SELECT b.doc_id, b.text || ' ' || s.span, b.source
       |    FROM base b JOIN spans0 s ON b.doc_id % 20 = s.bid
       |    WHERE b.doc_id % 4 = 1
       |  UNION ALL SELECT b.doc_id, b.text || ' ' || s.span, b.source
       |    FROM base b JOIN spans1 s ON b.doc_id % 20 = s.bid
       |    WHERE b.doc_id % 4 = 3),
       |batches AS (
       |  SELECT 0 AS batch, doc_id + 1000000 AS doc_id, text, source FROM raw
       |  UNION ALL SELECT 1, doc_id + 2000000, text, source FROM raw
       |  UNION ALL SELECT 2, doc_id + 3000000, text, source FROM raw),
       |bw AS (SELECT batch, doc_id, $words8 AS words FROM batches),
       |g AS (SELECT batch, doc_id,
       |    unnest(list_distinct(${sh8("words")})) AS sg FROM bw),
       |contam AS (
       |  SELECT DISTINCT batch, doc_id FROM g
       |  WHERE sg IN (SELECT sg FROM b0g)
       |     OR (batch >= 2 AND sg IN (SELECT sg FROM b1g))),
       |clean AS (
       |  SELECT b.batch, b.doc_id, b.text, b.source FROM batches b
       |  WHERE NOT EXISTS (SELECT 1 FROM contam c
       |    WHERE c.batch = b.batch AND c.doc_id = b.doc_id)),
       |dedup AS (
       |  SELECT batch, doc_id, text, source FROM (
       |    SELECT batch, doc_id, text, source, row_number() OVER (
       |      PARTITION BY batch, md5(regexp_replace(replace(replace(lower(trim(text)), 'ς', 'σ'), 'i' || chr(775), 'i'), '\\s+', ' ', 'g'))
       |      ORDER BY doc_id) AS rn
       |    FROM clean)
       |  WHERE rn = 1),
       |gm AS (
       |  SELECT batch, doc_id, text, source,
       |    CASE WHEN trim(text) = '' THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
       |    $stopHits AS stop_hits,
       |    $words8 AS w
       |  FROM dedup),
       |gk AS (
       |  SELECT batch, doc_id, text, source FROM gm
       |  WHERE n_words >= 20 AND n_words <= 100000
       |    AND (CASE WHEN n_words = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_words END) >= 3.0
       |    AND (CASE WHEN n_words = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_words END) <= 10.0
       |    AND (CASE WHEN trim(text) = '' THEN 0.0
       |      ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w) END) >= 0.8
       |    AND stop_hits >= 2),
       |scr AS (
       |  SELECT batch, doc_id, source,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$ipv4', '<IP>', 'g'),
       |      '$num', '<NUM>', 'g') AS text
       |  FROM gk),
       |b AS (
       |  SELECT batch, doc_id, source, text, $bucketExpr AS bucket,
       |    row_number() OVER (PARTITION BY batch, source
       |      ORDER BY $bucketExpr, doc_id) AS rn
       |  FROM scr),
       |capped AS (SELECT batch, doc_id, source, text, bucket FROM b WHERE rn <= 20),
       |sp AS (
       |  SELECT batch, source, text,
       |    CASE WHEN bucket < 9000 THEN 'train' ELSE 'val' END AS split
       |  FROM capped)
       |SELECT batch, split, source, count(*) AS n,
       |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
       |    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens
       |FROM sp GROUP BY batch, split, source
       |ORDER BY batch, split, source""".stripMargin
  }

  /** Streaming-retention replay oracle: per batch b, every user with an
    * event in b's range gets the anchor-gated flags recomputed over ALL
    * events up to b's upper bound.
    */
  private def retentionReplayOracle: String = {
    val anchor = "event_type = 'signup' AND ts < TIMESTAMP '2024-01-08 00:00:00'"
    val c1 = "ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'"
    val c2 = "ts >= TIMESTAMP '2024-01-15 00:00:00'"
    val bounds = Seq(
      ("0", "ts < TIMESTAMP '2024-01-11 00:00:00'",
        "ts < TIMESTAMP '2024-01-11 00:00:00'"),
      ("1", "ts >= TIMESTAMP '2024-01-11 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'",
        "ts < TIMESTAMP '2024-01-21 00:00:00'"),
      ("2", "ts >= TIMESTAMP '2024-01-21 00:00:00'", "TRUE"))
    val blocks = bounds.map { case (b, inBatch, upTo) =>
      s"""out$b AS (
         |  SELECT $b AS batch, user_id,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END) AS INT) AS r0,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END)
         |      * max(CASE WHEN $c1 THEN 1 ELSE 0 END) AS INT) AS r1,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END)
         |      * max(CASE WHEN $c2 THEN 1 ELSE 0 END) AS INT) AS r2
         |  FROM events
         |  WHERE ($upTo) AND user_id IN (
         |    SELECT DISTINCT user_id FROM events WHERE $inBatch)
         |  GROUP BY user_id)"""
    }
    s"""WITH
       |${blocks.mkString(",\n")}
       |SELECT * FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, user_id""".stripMargin
  }

  /** Streaming-funnel replay oracle: per batch b, the users with step
    * events in b's event-time range get the BATCH funnel level over the
    * full history up to b's upper bound — the equivalence the standing
    * state maintains.
    */
  private def funnelReplayOracle: String = {
    val bounds = Seq(
      ("0", "ts < TIMESTAMP '2024-01-11 00:00:00'",
        "ts < TIMESTAMP '2024-01-11 00:00:00'"),
      ("1", "ts >= TIMESTAMP '2024-01-11 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'",
        "ts < TIMESTAMP '2024-01-21 00:00:00'"),
      ("2", "ts >= TIMESTAMP '2024-01-21 00:00:00'", "TRUE"))
    val blocks = bounds.map { case (b, inBatch, upTo) =>
      s"""e$b AS (SELECT * FROM ev WHERE $upTo),
         |u$b AS (SELECT DISTINCT user_id FROM ev WHERE $inBatch),
         |l1_$b AS (SELECT DISTINCT user_id FROM e$b WHERE event_type = 'view'),
         |l2_$b AS (
         |  SELECT DISTINCT a.user_id
         |  FROM e$b a JOIN e$b b ON a.user_id = b.user_id
         |  WHERE a.event_type = 'view' AND b.event_type = 'click'
         |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND),
         |l3_$b AS (
         |  SELECT DISTINCT a.user_id
         |  FROM e$b a JOIN e$b b ON a.user_id = b.user_id
         |    JOIN e$b c ON a.user_id = c.user_id
         |  WHERE a.event_type = 'view' AND b.event_type = 'click'
         |    AND c.event_type = 'purchase'
         |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND
         |    AND c.ts >= b.ts AND c.ts <= a.ts + INTERVAL 14400 SECOND),
         |out$b AS (
         |  SELECT $b AS batch, u.user_id,
         |    CASE WHEN l3.user_id IS NOT NULL THEN 3
         |         WHEN l2.user_id IS NOT NULL THEN 2
         |         WHEN l1.user_id IS NOT NULL THEN 1
         |         ELSE 0 END AS level
         |  FROM u$b u LEFT JOIN l1_$b l1 ON u.user_id = l1.user_id
         |    LEFT JOIN l2_$b l2 ON u.user_id = l2.user_id
         |    LEFT JOIN l3_$b l3 ON u.user_id = l3.user_id)"""
    }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_type FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')),
       |${blocks.mkString(",\n")}
       |SELECT * FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, user_id""".stripMargin
  }

  /** Streaming-uniqHLL replay oracle: per batch b, the full uniqHLL
    * pipeline (the q_uniq_hll recipe) over events visible up to b's
    * bound, restricted to the event types touched in b — the estimate
    * the standing register state must reproduce exactly.
    */
  private def streamingUniqHllOracle: String = {
    val bounds = Seq(
      ("0", "ts < TIMESTAMP '2024-01-11 00:00:00'",
        "ts < TIMESTAMP '2024-01-11 00:00:00'"),
      ("1", "ts >= TIMESTAMP '2024-01-11 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'",
        "ts < TIMESTAMP '2024-01-21 00:00:00'"),
      ("2", "ts >= TIMESTAMP '2024-01-21 00:00:00'", "TRUE"))
    val blocks = bounds.map { case (b, inBatch, upTo) =>
      s"""h$b AS (
         |  SELECT event_type,
         |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) >> 4 AS BIGINT) AS h
         |  FROM events WHERE ($upTo) AND event_type IN (
         |    SELECT DISTINCT event_type FROM events WHERE $inBatch)),
         |r$b AS (
         |  SELECT event_type, h % 512 AS reg,
         |    LEAST(CASE WHEN h // 512 = 0 THEN 52
         |          ELSE 52 - length(bin(h // 512)) END, 30) AS rho
         |  FROM h$b),
         |m$b AS (SELECT event_type, reg, max(rho) AS m FROM r$b GROUP BY 1, 2),
         |s$b AS (
         |  SELECT event_type,
         |    sum(CAST(1 AS BIGINT) << (30 - m)) AS s_present,
         |    count(*) AS n_regs
         |  FROM m$b GROUP BY 1),
         |x$b AS (
         |  SELECT event_type, n_regs, 512 - n_regs AS v0,
         |    202600935058957.5 / CAST(
         |      s_present + (512 - n_regs) * (CAST(1 AS BIGINT) << 30)
         |      AS DOUBLE) AS raw
         |  FROM s$b),
         |out$b AS (
         |  SELECT $b AS batch, event_type,
         |    CAST(CASE WHEN v0 > 0 AND raw <= 1280.0
         |      THEN floor(512.0 * ln(512.0 / v0) + 0.5)
         |      ELSE floor(raw) END AS BIGINT) AS est,
         |    n_regs
         |  FROM x$b)"""
    }
    s"""WITH
       |${blocks.mkString(",\n")}
       |SELECT * FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, event_type""".stripMargin
  }

  /** Streaming-KMV replay oracle: per batch b, the q_kmv_distinct
    * recipe over events visible up to b's bound, restricted to the
    * event types touched in b — the estimate the standing min-k state
    * must reproduce exactly (the fold is idempotent min-k, so the
    * oracle needs no newest-row discipline).
    */
  private def streamingKmvOracle: String = {
    val bounds = Seq(
      ("0", "ts < TIMESTAMP '2024-01-11 00:00:00'",
        "ts < TIMESTAMP '2024-01-11 00:00:00'"),
      ("1", "ts >= TIMESTAMP '2024-01-11 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'",
        "ts < TIMESTAMP '2024-01-21 00:00:00'"),
      ("2", "ts >= TIMESTAMP '2024-01-21 00:00:00'", "TRUE"))
    val blocks = bounds.map { case (b, inBatch, upTo) =>
      s"""h$b AS (
         |  SELECT DISTINCT event_type,
         |    md5_number_lower(CAST(event_id AS VARCHAR))::HUGEINT AS h
         |  FROM events WHERE ($upTo) AND event_type IN (
         |    SELECT DISTINCT event_type FROM events WHERE $inBatch)),
         |r$b AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_d
         |  FROM h$b),
         |out$b AS (
         |  SELECT $b AS batch, event_type,
         |    CAST(CASE WHEN n_d < 256 THEN n_d
         |      ELSE floor(4703919738795935662080.0 / CAST(h AS DOUBLE))
         |      END AS BIGINT) AS est,
         |    CAST(least(n_d, 256) AS INT) AS n_kept
         |  FROM r$b WHERE rn = least(n_d, 256))"""
    }
    s"""WITH
       |${blocks.mkString(",\n")}
       |SELECT * FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, event_type""".stripMargin
  }

  /** Analytics-capstone replay oracle: the funnel and retention replay
    * recipes composed — per batch, the funnel block's touched users
    * FULL OUTER JOIN the retention block's on user_id. The restart
    * between batches 0 and 1 is invisible to the oracle by design: a
    * correct recovery produces exactly the same per-batch views.
    */
  private def analyticsReplayOracle: String = {
    val anchor = "event_type = 'signup' AND ts < TIMESTAMP '2024-01-08 00:00:00'"
    val c1 = "ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'"
    val c2 = "ts >= TIMESTAMP '2024-01-15 00:00:00'"
    val bounds = Seq(
      ("0", "ts < TIMESTAMP '2024-01-11 00:00:00'",
        "ts < TIMESTAMP '2024-01-11 00:00:00'"),
      ("1", "ts >= TIMESTAMP '2024-01-11 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'",
        "ts < TIMESTAMP '2024-01-21 00:00:00'"),
      ("2", "ts >= TIMESTAMP '2024-01-21 00:00:00'", "TRUE"))
    val blocks = bounds.map { case (b, inBatch, upTo) =>
      s"""e$b AS (SELECT * FROM ev WHERE $upTo),
         |u$b AS (SELECT DISTINCT user_id FROM ev WHERE $inBatch),
         |l1_$b AS (SELECT DISTINCT user_id FROM e$b WHERE event_type = 'view'),
         |l2_$b AS (
         |  SELECT DISTINCT a.user_id
         |  FROM e$b a JOIN e$b b ON a.user_id = b.user_id
         |  WHERE a.event_type = 'view' AND b.event_type = 'click'
         |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND),
         |l3_$b AS (
         |  SELECT DISTINCT a.user_id
         |  FROM e$b a JOIN e$b b ON a.user_id = b.user_id
         |    JOIN e$b c ON a.user_id = c.user_id
         |  WHERE a.event_type = 'view' AND b.event_type = 'click'
         |    AND c.event_type = 'purchase'
         |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND
         |    AND c.ts >= b.ts AND c.ts <= a.ts + INTERVAL 14400 SECOND),
         |fout$b AS (
         |  SELECT u.user_id,
         |    CASE WHEN l3.user_id IS NOT NULL THEN 3
         |         WHEN l2.user_id IS NOT NULL THEN 2
         |         WHEN l1.user_id IS NOT NULL THEN 1
         |         ELSE 0 END AS level
         |  FROM u$b u LEFT JOIN l1_$b l1 ON u.user_id = l1.user_id
         |    LEFT JOIN l2_$b l2 ON u.user_id = l2.user_id
         |    LEFT JOIN l3_$b l3 ON u.user_id = l3.user_id),
         |rout$b AS (
         |  SELECT user_id,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END) AS INT) AS r0,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END)
         |      * max(CASE WHEN $c1 THEN 1 ELSE 0 END) AS INT) AS r1,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END)
         |      * max(CASE WHEN $c2 THEN 1 ELSE 0 END) AS INT) AS r2
         |  FROM events
         |  WHERE ($upTo) AND user_id IN (
         |    SELECT DISTINCT user_id FROM events WHERE $inBatch)
         |  GROUP BY user_id),
         |out$b AS (
         |  SELECT $b AS batch, coalesce(f.user_id, r.user_id) AS user_id,
         |    f.level, r.r0, r.r1, r.r2
         |  FROM fout$b f FULL OUTER JOIN rout$b r ON f.user_id = r.user_id)"""
    }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_type FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')),
       |${blocks.mkString(",\n")}
       |SELECT * FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, user_id""".stripMargin
  }

  /** Multi-tier capstone replay oracle: the funnel, retention, uniqHLL,
    * quantile-sketch, and summing replay recipes composed into one tall
    * (batch, tier, k, v1, v2) frame — per batch, each tier's
    * full-history view for the keys that batch touched. The cold
    * restart and compaction between batches 0 and 1 are invisible to
    * the oracle by design: correct recovery reproduces the same views.
    */
  private def multitierReplayOracle: String = {
    val anchor = "event_type = 'signup' AND ts < TIMESTAMP '2024-01-08 00:00:00'"
    val c1 = "ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'"
    val c2 = "ts >= TIMESTAMP '2024-01-15 00:00:00'"
    val bounds = Seq(
      ("0", "ts < TIMESTAMP '2024-01-11 00:00:00'",
        "ts < TIMESTAMP '2024-01-11 00:00:00'"),
      ("1", "ts >= TIMESTAMP '2024-01-11 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'",
        "ts < TIMESTAMP '2024-01-21 00:00:00'"),
      ("2", "ts >= TIMESTAMP '2024-01-21 00:00:00'", "TRUE"))
    val blocks = bounds.map { case (b, inBatch, upTo) =>
      s"""fe$b AS (SELECT * FROM fev WHERE $upTo),
         |fu$b AS (SELECT DISTINCT user_id FROM fev WHERE $inBatch),
         |fl1_$b AS (SELECT DISTINCT user_id FROM fe$b WHERE event_type = 'view'),
         |fl2_$b AS (
         |  SELECT DISTINCT a.user_id
         |  FROM fe$b a JOIN fe$b b ON a.user_id = b.user_id
         |  WHERE a.event_type = 'view' AND b.event_type = 'click'
         |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND),
         |fl3_$b AS (
         |  SELECT DISTINCT a.user_id
         |  FROM fe$b a JOIN fe$b b ON a.user_id = b.user_id
         |    JOIN fe$b c ON a.user_id = c.user_id
         |  WHERE a.event_type = 'view' AND b.event_type = 'click'
         |    AND c.event_type = 'purchase'
         |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 14400 SECOND
         |    AND c.ts >= b.ts AND c.ts <= a.ts + INTERVAL 14400 SECOND),
         |fout$b AS (
         |  SELECT 'funnel' AS tier, CAST(u.user_id AS VARCHAR) AS k,
         |    CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
         |         WHEN l2.user_id IS NOT NULL THEN 2
         |         WHEN l1.user_id IS NOT NULL THEN 1
         |         ELSE 0 END AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
         |  FROM fu$b u LEFT JOIN fl1_$b l1 ON u.user_id = l1.user_id
         |    LEFT JOIN fl2_$b l2 ON u.user_id = l2.user_id
         |    LEFT JOIN fl3_$b l3 ON u.user_id = l3.user_id),
         |rout$b AS (
         |  SELECT 'retention' AS tier, CAST(user_id AS VARCHAR) AS k,
         |    CAST(max(CASE WHEN $anchor THEN 1 ELSE 0 END) * 4
         |      + max(CASE WHEN $anchor THEN 1 ELSE 0 END)
         |        * max(CASE WHEN $c1 THEN 1 ELSE 0 END) * 2
         |      + max(CASE WHEN $anchor THEN 1 ELSE 0 END)
         |        * max(CASE WHEN $c2 THEN 1 ELSE 0 END) AS DOUBLE) AS v1,
         |    CAST(NULL AS DOUBLE) AS v2
         |  FROM events
         |  WHERE ($upTo) AND user_id IN (
         |    SELECT DISTINCT user_id FROM events WHERE $inBatch)
         |  GROUP BY user_id),
         |hh$b AS (
         |  SELECT event_type,
         |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) >> 4 AS BIGINT) AS h
         |  FROM events WHERE ($upTo) AND event_type IN (
         |    SELECT DISTINCT event_type FROM events WHERE $inBatch)),
         |hr$b AS (
         |  SELECT event_type, h % 512 AS reg,
         |    LEAST(CASE WHEN h // 512 = 0 THEN 52
         |          ELSE 52 - length(bin(h // 512)) END, 30) AS rho
         |  FROM hh$b),
         |hm$b AS (SELECT event_type, reg, max(rho) AS m FROM hr$b GROUP BY 1, 2),
         |hs$b AS (
         |  SELECT event_type,
         |    sum(CAST(1 AS BIGINT) << (30 - m)) AS s_present,
         |    count(*) AS n_regs
         |  FROM hm$b GROUP BY 1),
         |hout$b AS (
         |  SELECT 'uniq' AS tier, event_type AS k,
         |    CAST(CAST(CASE WHEN 512 - n_regs > 0 AND raw <= 1280.0
         |      THEN floor(512.0 * ln(512.0 / (512 - n_regs)) + 0.5)
         |      ELSE floor(raw) END AS BIGINT) AS DOUBLE) AS v1,
         |    CAST(n_regs AS DOUBLE) AS v2
         |  FROM (SELECT event_type, n_regs,
         |    202600935058957.5 / CAST(
         |      s_present + (512 - n_regs) * (CAST(1 AS BIGINT) << 30)
         |      AS DOUBLE) AS raw FROM hs$b)),
         |qv$b AS (
         |  SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
         |  FROM events WHERE ($upTo) AND event_type IN (
         |    SELECT DISTINCT event_type FROM events WHERE $inBatch)),
         |qh$b AS (
         |  SELECT event_type, (s >> w) << w AS blo, count(*) AS cnt
         |  FROM (SELECT event_type, s,
         |    GREATEST(length(bin(s)) - 8, 0) AS w FROM qv$b) GROUP BY 1, 2),
         |qc$b AS (
         |  SELECT event_type, blo, cnt,
         |    sum(cnt) OVER (PARTITION BY event_type ORDER BY blo) AS cum,
         |    sum(cnt) OVER (PARTITION BY event_type) AS n
         |  FROM qh$b),
         |qout$b AS (
         |  SELECT 'quantile' AS tier, event_type AS k,
         |    CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN blo END)
         |      AS DOUBLE) / CAST(100 AS DOUBLE) AS v1,
         |    CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN blo END)
         |      AS DOUBLE) / CAST(100 AS DOUBLE) AS v2
         |  FROM qc$b GROUP BY event_type),
         |sout$b AS (
         |  SELECT 'summing' AS tier, CAST(user_id % 10 AS VARCHAR) AS k,
         |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS v1,
         |    CAST(NULL AS DOUBLE) AS v2
         |  FROM events
         |  WHERE ($upTo) AND user_id % 10 IN (
         |    SELECT DISTINCT user_id % 10 FROM events WHERE $inBatch)
         |  GROUP BY user_id % 10),
         |out$b AS (
         |  SELECT $b AS batch, * FROM (
         |    SELECT * FROM fout$b UNION ALL SELECT * FROM rout$b
         |    UNION ALL SELECT * FROM hout$b UNION ALL SELECT * FROM qout$b
         |    UNION ALL SELECT * FROM sout$b))"""
    }
    s"""WITH fev AS (
       |  SELECT user_id, ts, event_type FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')),
       |${blocks.mkString(",\n")}
       |SELECT batch, tier, k, v1, v2 FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, tier, k""".stripMargin
  }

  /** Standing-CDC replay oracle: all updates stamped with their batch id
    * (seed = -1), then per batch b the current/previous state for b's
    * key set recomputed with batch-bounded visibility — `cur` folds
    * `b' <= b`, `prev` folds `b' < b`, exactly the view
    * [[graft.streaming.StreamingReplacingMerge.admit]] maintains.
    */
  private def cdcReplayOracle: String = {
    def out(b: Int): String =
      s"""cur$b AS (
         |  SELECT k, ver, status, tp FROM (
         |    SELECT k, ver, status, tp,
         |      row_number() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
         |    FROM upd WHERE b <= $b
         |      AND k IN (SELECT k FROM upd WHERE b = $b)) WHERE rn = 1),
         |prev$b AS (
         |  SELECT k, ver FROM (
         |    SELECT k, ver,
         |      row_number() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
         |    FROM upd WHERE b < $b
         |      AND k IN (SELECT k FROM upd WHERE b = $b)) WHERE rn = 1),
         |out$b AS (
         |  SELECT $b AS batch, c.k, c.ver, c.status,
         |    round(c.tp, 6) AS totalprice, p.ver AS prev_ver,
         |    (p.ver IS NULL OR c.ver != p.ver) AS changed
         |  FROM cur$b c LEFT JOIN prev$b p ON c.k = p.k)"""
    s"""WITH ks AS (SELECT DISTINCT o_orderkey % 300 AS k FROM orders),
       |upd AS (
       |  SELECT o_orderkey % 300 AS k, o_orderkey AS ver,
       |    o_orderstatus AS status, o_totalprice AS tp, -1 AS b FROM orders
       |  UNION ALL
       |  SELECT k, k + 1000000, 'U0', CAST(k AS DOUBLE) * 1.5, 0
       |  FROM ks WHERE k % 3 = 0
       |  UNION ALL
       |  SELECT k, k + 2000000, 'U1', CAST(k AS DOUBLE) * 2.5, 1
       |  FROM ks WHERE k % 4 = 0
       |  UNION ALL
       |  SELECT k, k + 1000, 'U2', CAST(k AS DOUBLE) * 3.5, 2
       |  FROM ks WHERE k % 5 = 0),
       |${(0 to 2).map(out).mkString(",\n")}
       |SELECT * FROM (
       |  SELECT * FROM out0 UNION ALL
       |  SELECT * FROM out1 UNION ALL
       |  SELECT * FROM out2)
       |ORDER BY batch, k""".stripMargin
  }
}
