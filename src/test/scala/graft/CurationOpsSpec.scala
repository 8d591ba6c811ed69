package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Joins, Sampling, TextAnalysis}

/** Behavior tests for the round-4 curation operators: dedup clustering
  * (connected components), deterministic sampling/splits, vocabulary
  * stats, token-budget chunking and the as-of join.
  */
class CurationOpsSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  // ---- connected components -------------------------------------------

  test("connected components: mixed topologies resolve to min-id labels") {
    // component 1: path 1-2-3-4 (propagation needed, not a direct edge)
    // component 2: star 10<-{11,12,13}
    // component 3: cycle 20-21-22-20
    // component 4: two merged stars 30<-{31,32}, 33<-{34,35}, bridge 32-34
    val pairs = Seq(
      (2L, 1L), (3L, 2L), (4L, 3L),
      (11L, 10L), (12L, 10L), (13L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (31L, 30L), (32L, 30L), (34L, 33L), (35L, 33L), (32L, 34L)
    ).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L, 35L -> 30L)
    assert(got === want)
  }

  test("connected components: long path converges within the round cap") {
    // a 300-node path is the worst case for label propagation (diameter
    // 299); star alternation must close it in O(log n) rounds
    val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
    assert(comp.count() === 300)
    assert(comp.filter(col("component") =!= 1L).count() === 0)
  }

  test("cluster: singletons survive, exactly one keeper per component") {
    val corpus = (1L to 10L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (3L, 2L), (5L, 4L)).toDF("a", "b")
    val c = Dedup.cluster(corpus, pairs)
    assert(c.count() === 10)
    assert(c.filter(col("keep")).count() === 7) // {1..3},{4,5},6,7,8,9,10
    val kept = c.filter(col("keep")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 6L, 7L, 8L, 9L, 10L))
    // every row's component is a kept id
    assert(c.join(c.filter(col("keep")).select(col("id").as("component")),
      Seq("component"), "left_anti").count() === 0)
  }

  // ---- sampling / splits ----------------------------------------------

  test("hash split: total partition, deterministic, ~weights") {
    val df = (1L to 10000L).toDF("id")
    val split = Sampling.assignSplit(df, col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 10000L)
    assert(counts("train") > 7700 && counts("train") < 8300)
    assert(counts("val") > 800 && counts("val") < 1200)
    // deterministic: a re-run assigns identically
    val again = Sampling.assignSplit(df, col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.exceptAll(again).count() === 0)
  }

  test("stratified sample honors per-stratum fractions") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val s = Sampling.stratifiedSample(df, col("id"), col("lang"),
      Map("en" -> 0.5, "de" -> 0.05), defaultFraction = 0.0)
    val counts = s.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("en") > 850 && counts("en") < 1150)
    assert(counts("de") > 50 && counts("de") < 150)
    // sampling is a subset of the source, not a transformation
    assert(s.exceptAll(df).count() === 0)
  }

  test("mixToWeights: over-represented strata downsample, absent weights drop") {
    val df = (1L to 300L).map(i =>
      (i, if (i <= 200) "en" else if (i <= 260) "de" else "es"))
      .toDF("id", "lang")
    val out = Sampling.mixToWeights(df, col("id"), col("lang"),
      Map("en" -> 0.3, "de" -> 0.5))
    val counts = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en: keep min(1, .3*300/200)=0.45 -> ~90; de: min(1, .5*300/60)=1 ->
    // all 60; es has no weight -> dropped
    assert(!counts.contains("es"))
    assert(counts("de") === 60L)
    assert(counts("en") > 60 && counts("en") < 120)
    assert(out.exceptAll(df).count() === 0)
  }

  test("mixToTemperature: T flattens toward uniform, T=1 is natural shares") {
    val df = (1L to 1000L).map(i =>
      (i, if (i <= 800) "en" else if (i <= 960) "de" else "es"))
      .toDF("id", "lang") // 800 / 160 / 40
    // T=1: w = n/total -> keep fraction 1 everywhere (identity mix)
    assert(Sampling.mixToTemperature(df, col("id"), col("lang"), 1.0)
      .count() === 1000L)
    // T=2: w ∝ sqrt(n): en sqrt=28.28, de 12.65, es 6.32 (z=47.25)
    // keep = min(1, w*1000/n): en .748, de 1, es 1
    val t2 = Sampling.mixToTemperature(df, col("id"), col("lang"), 2.0)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t2("de") === 160L && t2("es") === 40L)
    assert(t2("en") > 600 && t2("en") < 900) // ~748 expected, md5 variance
    // the flattened mix has a LESS extreme max share than the natural one
    val natural = 800.0 / 1000.0
    val flat = t2("en").toDouble / t2.values.sum
    assert(flat < natural)
  }

  // ---- vocabulary stats -----------------------------------------------

  test("lmScore: exact quantized log-frequency sums on a known corpus") {
    val df = Seq(
      (1L, "a b a"), // a appears 3x in corpus, b 1x
      (2L, "a c c")) // c 2x
      .toDF("doc_id", "text")
    val lm = TextAnalysis.unigramLmCounts(df, "text", nBuckets = 65536)
    // guard the hand-computation: a/b/c must land in distinct buckets
    assert(lm.count() === 3)
    val rows = TextAnalysis.lmScore(df, "doc_id", "text", lm, nBuckets = 65536)
      .collect().sortBy(_.getLong(0))
    // qlog: floor(log2(3))=1, floor(log2(1))=0, floor(log2(2))=1
    // doc1 = [a,b,a] -> 1+0+1 = 2 over 3 tokens
    // doc2 = [a,c,c] -> 1+1+1 = 3 over 3 tokens
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 3L, 2L), (2L, 3L, 3L)))
    assert(rows(0).getDouble(3) === 0.666667)
    assert(rows(1).getDouble(3) === 1.0)
  }

  test("chunkByTokensSliding: overlap, short tails, degenerate cases") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than window
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokensSliding(df, "doc_id", "text",
        window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(p => (p._1, p._2))
    // doc1: starts 0,3,6 -> [t1..t4][t4..t7][t7..t10]; last start 9 not
    // needed (ceil((10-4)/3)=2)
    assert(got.filter(_._1 == 1L).toSeq === Seq(
      (1L, 0, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1, 3L, 4L, "t4 t5 t6 t7"),
      (1L, 2, 6L, 4L, "t7 t8 t9 t10")))
    // consecutive windows share window-stride=1 token (the overlap)
    assert(got.filter(_._1 == 2L).toSeq === Seq((2L, 0, 0L, 2L, "a b")))
    assert(got.filter(_._1 == 3L).toSeq === Seq((3L, 0, 0L, 1L, "")))
  }

  test("bpeTrain: argmax merges with greedy non-overlapping apply") {
    val df = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    // vocab: aaab x2, ab x1
    // r1: (a,a)=4 (overlapping adjacents in aaab, weighted), (a,b)=3 -> merge aa
    // r2: aaab=[aa,a,b]: (aa,a)=2,(a,b)=2; ab: (a,b)=1 -> (a,b)=3 -> merge ab
    // r3: aaab=[aa,ab]: (aa,ab)=2 -> merge aaab
    val got = TextAnalysis.bpeTrain(df, "text", nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
  }

  test("dup/top n-gram char fractions: exact hand-computed values") {
    val df = Seq(
      (1L, "a b a b c"),   // 2-grams: "a b"x2, "b a", "b c"
      (2L, "x y z"),       // all distinct
      (3L, "w w w w"),     // "w w" x3
      (4L, "q"),           // fewer than 2 tokens
      (5L, "")).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionNgramStats(df, "doc_id", "text",
        topN = 2, dupN = 2)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // doc1: grams [a b, b a, a b, b c] -> top "a b": 2*3/12=0.5; dup: 6/12=0.5
    assert(m(1L) === ((0.5, 0.5)))
    // doc2: [x y, y z] all unique -> top 3/6=0.5, dup 0
    assert(m(2L) === ((0.5, 0.0)))
    // doc3: [w w]x3 -> top 9/9=1, dup 1
    assert(m(3L) === ((1.0, 1.0)))
    assert(m(4L) === ((0.0, 0.0)))
    assert(m(5L) === ((0.0, 0.0)))
  }

  test("stripBoilerplateLines: frequent lines drop, order survives, empty docs return") {
    val bp = "accept cookies"
    val df = Seq(
      (1L, s"alpha one\n$bp\nbeta one"),
      (2L, s"$bp\ngamma two"),
      (3L, s"delta three\n$bp"),
      (4L, bp), // every line boilerplate -> comes back as ''
      (5L, "only unique content here"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.stripBoilerplateLines(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "alpha one\nbeta one",
      2L -> "gamma two",
      3L -> "delta three",
      4L -> "",
      5L -> "only unique content here"))
    // below the threshold nothing drops
    val loose = TextAnalysis.stripBoilerplateLines(df, "doc_id", "text", minDocs = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(4L) === bp)
  }

  test("bpeApply: merges applied in order, piece counts exact") {
    val df = Seq((1L, "aaab aaab"), (2L, "ab"), (3L, "")).toDF("doc_id", "text")
    // merges from the bpeTrain test: aa, ab, aa+ab
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val got = TextAnalysis.bpeApply(df, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // doc1: aaab -> [aa,a,b] -> [aa,ab] -> [aaab] = 1 piece/token, 2 tokens
    // doc2: ab -> [ab] = 1 piece
    // doc3: empty canonical -> 1 empty token, 0 pieces
    assert(got.toSeq === Seq((1L, 2L, 2L), (2L, 1L, 1L), (3L, 1L, 0L)))
    // merge ORDER matters: without the aa merge first, aaab stays 3 pieces
    val reordered = TextAnalysis.bpeApply(df, "doc_id", "text",
      Seq(("aa", "ab"), ("a", "a"), ("a", "b")))
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(reordered.head === ((1L, 4L))) // aaab never forms -> [aa,ab] x2 tokens -> 4
  }

  test("bpeTrain: stops early when no pairs remain") {
    val df = Seq((1L, "x y z")).toDF("doc_id", "text")
    // all tokens single-char: zero pairs -> empty merge table, no crash
    assert(TextAnalysis.bpeTrain(df, "text", nMerges = 5).count() === 0)
  }

  test("bpeTrain batched: disjoint picks share a recount, overlaps defer") {
    def merges(df: org.apache.spark.sql.DataFrame, n: Int, b: Int) =
      TextAnalysis.bpeTrain(df, "text", nMerges = n, batch = b)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

    // (a,b)=2 and (c,d)=1 are symbol-disjoint: ONE round (one recount)
    // merges both, counts both taken from the SAME recount
    val dj = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    assert(merges(dj, 2, 2) === Seq((1, "a", "b", 2L), (2, "c", "d", 1L)))

    // overlapping candidates: (a,b) shares 'a' with round-1 winner (a,a),
    // so it must WAIT for round 2's recount (where merging aa has changed
    // its count from 3 to... still 3 here) — and the round's unused cap
    // is structural slack, not extra schedule: 2 rounds x cap 2 yield
    // exactly the sequential trainer's 2-merge prefix
    val ov = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    val batched = merges(ov, 4, 2)
    assert(batched === Seq((1, "a", "a", 4L), (2, "a", "b", 3L)))
    assert(batched === merges(ov, 2, 1)) // == classic sequential prefix
  }

  test("bpePairStats: adjacent in-token pairs, single-char tokens skipped") {
    val df = Seq((1L, "abc ab x"), (2L, "bc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairStats(df, "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // abc -> ab, bc; ab -> ab; bc -> bc; x contributes nothing
    assert(got === Set(("ab", 2L), ("bc", 2L)))
  }

  test("URL extraction and per-domain rollup") {
    val df = Seq(
      (1L, "x https://a.example.org/p/1 y http://b.example.net z"),
      (2L, "see https://a.example.org today"),
      (3L, "no links here")).toDF("doc_id", "text")
    val urls = df.select(explode(TextAnalysis.extractUrls(col("text"))).as("u"))
      .collect().map(_.getString(0)).toSet
    assert(urls === Set("https://a.example.org/p/1", "http://b.example.net",
      "https://a.example.org"))
    val got = TextAnalysis.domainStats(df, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("a.example.org", 2L, 2L), ("b.example.net", 1L, 1L)))
  }

  test("vocabStats: exact tf/df on a known corpus") {
    val df = Seq(
      (1L, "a b a"),
      (2L, "a c"),
      (3L, "c c c")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabStats(df, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("a", 3L, 2L), ("b", 1L, 1L), ("c", 4L, 2L)))
  }

  // ---- chunking -------------------------------------------------------

  test("chunkByTokens: boundaries, counts, remainder and short docs") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"), // 7 tokens / 3 -> 3+3+1
      (2L, "only two"),
      (3L, "one")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokens(df, "doc_id", "text", maxTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got === Set(
      (1L, 0, 3L, "t1 t2 t3"), (1L, 1, 3L, "t4 t5 t6"), (1L, 2, 1L, "t7"),
      (2L, 0, 2L, "only two"),
      (3L, 0, 1L, "one")))
    // reassembling the chunks reproduces every document's token stream
    val glued = TextAnalysis.chunkByTokens(df, "doc_id", "text", 3)
      .groupBy("id").agg(array_join(collect_list("chunk"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(glued(1L) === "t1 t2 t3 t4 t5 t6 t7")
  }

  // ---- global sequence packing ----------------------------------------

  test("packSequences: exact offsets and boundary spans on a known corpus") {
    val df = Seq(
      (1L, "a b c d e f g"), // chunks of 3: 3+3+1
      (2L, "h i j"),
      (3L, "k l m n o")      // 3+2
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkByTokens(df, "doc_id", "text", maxTokens = 3)
    val got = TextAnalysis.packSequences(chunks, tokensPerSeq = 4)
      .orderBy("id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(got.toSeq === Seq(
      (1L, 0, 3L, 0L, 0L, 0L, false),
      (1L, 1, 3L, 3L, 0L, 3L, true),
      (1L, 2, 1L, 6L, 1L, 2L, false),
      (2L, 0, 3L, 7L, 1L, 3L, true),
      (3L, 0, 3L, 10L, 2L, 2L, true),
      (3L, 1, 2L, 13L, 3L, 1L, false)))
  }

  test("packSequences: offsets are invariant to the partition count") {
    val d = Tables(spark, "/root/testdata/sf0.001").documents
    val chunks = TextAnalysis.chunkByTokens(d, "doc_id", "text", maxTokens = 16)
    val ref = TextAnalysis.packSequences(chunks, 512, numPartitions = 1)
    for (p <- Seq(3, 8)) {
      val got = TextAnalysis.packSequences(chunks, 512, numPartitions = p)
      assert(got.exceptAll(ref).count() === 0, s"p=$p diverged")
      assert(ref.exceptAll(got).count() === 0, s"p=$p diverged")
    }
    // the packed corpus is contiguous: offsets cover [0, total) exactly
    val total = chunks.agg(sum("n_tokens")).head().getLong(0)
    val last = ref.orderBy(col("tok_offset").desc).limit(1).head()
    assert(last.getLong(3) + last.getLong(2) === total)
  }

  // ---- int8 quantization ----------------------------------------------

  test("quantizeInt8: known values, zero vectors, dequant error bound") {
    import graft.operators.Similarity
    val df = Seq(
      (1L, Seq(1.0, -0.5, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(df).orderBy("id").collect()
    assert(rows(0).getDouble(1) === 1.0 / 127.0)
    assert(rows(0).getSeq[Int](2) === Seq(127, -63, 0))
    assert(rows(1).getDouble(1) === 0.0)
    assert(rows(1).getSeq[Int](2) === Seq(0, 0, 0))
    // dequantization error is bounded by scale/2 on real vectors
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings.limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qd = Similarity.quantizeInt8(e, "vec_id", "v")
    val bad = e.join(qd, e("vec_id") === qd("id"))
      .select(col("scale"),
        array_max(zip_with(col("v"), col("q"),
          (x, qi) => abs(x - qi.cast("double") * col("scale")))).as("err"))
      .filter(col("err") > col("scale") / 2 + 1e-12)
    assert(bad.count() === 0)
  }

  // ---- chunk-level exact-substring dedup ------------------------------

  test("dropDupChunks: first occurrence survives, fully-duplicated docs drop") {
    val df = Seq(
      (1L, "a b c d e f"),      // both chunks novel
      (2L, "a b c x y z"),      // first chunk duplicates doc 1's
      (3L, "a b c d e f")       // exact twin: every chunk duplicated
    ).toDF("doc_id", "text")
    val got = Dedup.dropDupChunks(df, "doc_id", "text", maxTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got === Map(
      1L -> ((2L, "a b c d e f")),
      2L -> ((1L, "x y z"))))
  }

  test("dropDupChunks: intra-document repeats dedup too, order preserved") {
    val df = Seq((7L, "p q r p q r s t u")).toDF("doc_id", "text")
    val got = Dedup.dropDupChunks(df, "doc_id", "text", maxTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq === Seq((7L, 2L, "p q r s t u")))
  }

  // ---- per-group cap --------------------------------------------------

  test("capPerGroup: caps bind, survivors are the hash-order minima") {
    val df = (1L to 50L).map(i => (i, if (i <= 40) "big" else "small"))
      .toDF("id", "src")
    val kept = Sampling.capPerGroup(df, col("id"), col("src"), maxN = 10)
    val counts = kept.groupBy("group").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("big" -> 10L, "small" -> 10L))
    // survivors of the capped group are exactly the 10 smallest by
    // (bucket, id) — the deterministic hash order
    val expected = df.filter(col("src") === "big")
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .orderBy(col("b"), col("id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val gotBig = kept.filter(col("group") === "big")
      .collect().map(_.getLong(1)).toSet
    assert(gotBig === expected)
    // idempotent re-run (no rand() anywhere)
    val again = Sampling.capPerGroup(df, col("id"), col("src"), 10)
    assert(kept.exceptAll(again).count() === 0)
  }

  test("clusterBalancedSample: caps bind per semantic cell; clusters " +
      "stay coherent; re-runs identical") {
    import graft.operators.Similarity
    // two well-separated clusters along orthogonal axes, 6 vectors each
    def vec(axis: Int, i: Long): Seq[Double] =
      (0 until 4).map(d => if (d == axis) 10.0 + i * 0.01 else 0.0)
    val rows = (0L until 6L).map(i => (i, vec(0, i))) ++
      (10L until 16L).map(i => (i, vec(1, i)))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, nCells = 2)
    val kept = Sampling.clusterBalancedSample(df, col("vec_id"), cents,
      maxPerCell = 3)
    val byCell = kept.collect()
      .groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.map(_.getLong(1)).toSet }
    // both cells filled to the cap, and no cell mixes the two clusters
    assert(byCell.values.map(_.size).toSeq.sorted === Seq(3, 3))
    byCell.values.foreach { ids =>
      assert(ids.forall(_ < 6L) || ids.forall(_ >= 10L), s"mixed cell: $ids")
    }
    assert(byCell.values.flatten.toSet.size === 6)
    // deterministic: a re-run with retrained centroids picks the same rows
    val again = Sampling.clusterBalancedSample(df, col("vec_id"),
      Similarity.trainCentroids(df, nCells = 2), maxPerCell = 3)
    assert(kept.exceptAll(again).count() === 0)
  }

  test("capPerGroupTokens: maximal hash-order prefix within the budget, " +
      "offsets exact, budget binds per group independently") {
    val df = (1L to 40L).map(i =>
      (i, if (i <= 30) "big" else "small", 10L + i % 3))
      .toDF("id", "src", "toks")
    val kept = Sampling.capPerGroupTokens(df, col("id"), col("src"),
      col("toks"), budget = 120L)
    val rows = kept.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // replay: per group, hash-order cumulative prefix <= budget
    val expected = df
      .select(col("src"), col("id"), col("toks"),
        Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        var run = 0L
        rs.sortBy(r => (r._4, r._2)).toSeq.flatMap { r =>
          val off = run; run += r._3
          if (off + r._3 <= 120L) Some((g, r._2, r._3, off)) else None
        }
      }.toSet
    assert(rows.toSet === expected)
    // each group's kept total fits; adding any dropped doc would not
    val totals = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(totals.values.forall(_ <= 120L))
    assert(totals.keySet === Set("big", "small"))
  }

  test("bigramLmScore: seen pairs score the conditional qlog, unseen " +
      "pairs back off with the fixed penalty; <2-token docs drop out") {
    import graft.operators.TextAnalysis
    val train = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val uni = TextAnalysis.unigramLmCounts(train, "text", nBuckets = 4096)
    val bi = TextAnalysis.bigramLmCounts(train, "text", nBuckets = 4096)
    val score = Seq((1L, "a b"), (2L, "z q"), (3L, "a"), (4L, "a c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(score, "doc_id", "text", uni, bi,
        nBuckets = 4096)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // train: uni a=3 b=2 c=1; bigrams "a b"=2 "b a"=2 "a c"=1
    // doc 1 "a b": seen -> qlog(2) - qlog(3) = 1 - 1 = 0
    assert(got(1L) === ((1L, 0L)), s"got ${got(1L)}")
    // doc 2 "z q": unseen -> qlog(uni q = 0) - 4 = 0 - 4 = -4
    assert(got(2L) === ((1L, -4L)), s"got ${got(2L)}")
    // doc 4 "a c": seen -> qlog(1) - qlog(3) = 0 - 1 = -1
    assert(got(4L) === ((1L, -1L)), s"got ${got(4L)}")
    // doc 3: single token, no bigram positions
    assert(!got.contains(3L))
  }

  // ---- BM25 -----------------------------------------------------------

  test("bm25TopK: exact scores on a known corpus, zero-score docs omitted") {
    val df = Seq((1L, "x y x"), (2L, "x z"), (3L, "w q")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("x"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def bm25(tf: Double, dl: Double, n: Double, dfq: Double, avgdl: Double) = {
      val idf = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
      idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    }
    val avgdl = 7.0 / 3.0
    assert(got.keySet === Set(1L, 2L))
    assert(math.abs(got(1L) - bm25(2, 3, 3, 2, avgdl)) < 1e-12)
    assert(math.abs(got(2L) - bm25(1, 2, 3, 2, avgdl)) < 1e-12)
  }

  // ---- Gopher rule battery --------------------------------------------

  test("gopherKeep: each rule independently vetoes") {
    val good = ("word " * 10 + "the of and is " +
      "alpha beta gamma delta epsilon zeta").trim // 20 words, stopwords, alpha
    val df = Seq(
      (1L, good),
      (2L, "the of and is"),                       // too few words
      (3L, good.replace("alpha", "1234567")),      // still >=80% alpha words
      (4L, ("11111 22222 33333 44444 55555 66666 77777 88888 99999 10101 " * 2
        + "the of and is").trim),                  // alpha-word ratio 4/24 only
      (5L, good.replace("the of and is", "th of nd si")) // 1 stopword hit < 2
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.operators.TextAnalysis.gopherKeep(col("text")).as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> false))
    val awr = df.filter(col("doc_id") === 4L)
      .select(graft.operators.TextAnalysis.alphaWordRatio(col("text")))
      .head().getDouble(0)
    assert(awr < 0.8 && awr > 0.0)
  }

  // ---- SemDeDup -------------------------------------------------------

  test("semanticDedup: components are cell-local cosine cliques-closures; " +
      "planted twins mostly collapse") {
    import graft.operators.Similarity
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // +0.01 twins: unambiguous semantic duplicates (cos > 0.99) that
    // still perturb every coordinate — the SemDeDup recall trade is cell
    // co-assignment, and a small perturbation keeps the argmax stable
    val corpus = e.union(
      e.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.01)).as("embedding")))
    val out = Similarity.semanticDedup(corpus, nCells = 16, threshold = 0.75)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length === 1000)
    // keep <=> id is its component's label; labels are component minima
    assert(rows.forall { case (id, comp, keep) => keep === (id == comp) })
    val byComp = rows.groupBy(_._2)
    assert(byComp.forall { case (comp, members) => members.map(_._1).min == comp })
    // twin recall: near-identical twins share a cell and collapse
    val collapsed = rows.filter { case (id, comp, _) => id >= 1000000 && comp < 1000000 }
    assert(collapsed.length >= 425, s"only ${collapsed.length} twins collapsed")
  }

  // ---- as-of join -----------------------------------------------------

  test("asOf: latest prior right row per key, ties and no-match nulls") {
    val left = Seq(
      (1L, 100L, 10L), // user 1 at t=10: latest right <= 10 is t=10
      (2L, 101L, 5L),  // user 1 at t=5: right at t=3
      (3L, 102L, 2L),  // user 1 at t=2: no prior right -> null
      (4L, 103L, 50L)  // user 2 at t=50: right at t=20
    ).map { case (id, eid, ts) =>
      (eid, if (id <= 3) 1L else 2L, new java.sql.Timestamp(ts))
    }.toDF("event_id", "user_id", "ts")
    val right = Seq(
      (900L, 1L, 3L, 3.0),
      (901L, 1L, 10L, 10.0),
      (902L, 1L, 10L, 99.0), // same (key, ts): max event_id 902 wins
      (903L, 2L, 20L, 20.0),
      (904L, 2L, 60L, 60.0)  // after left ts -> never matched
    ).map { case (eid, u, ts, v) =>
      (eid, u, new java.sql.Timestamp(ts), v)
    }.toDF("b_event_id", "user_id", "ts", "b_value")

    val got = Joins.asOf(left, right, Seq("user_id"), "ts",
        rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
    assert(got.toSeq === Seq(
      (100L, 902L, 99.0),
      (101L, 900L, 3.0),
      (102L, -1L, -1.0),
      (103L, 903L, 20.0)))

    // tolerance 20 ms: user-2's 30 ms-stale match nullifies, exact-ts and
    // 2 ms-stale matches survive
    val tol = Joins.asOf(left, right, Seq("user_id"), "ts",
        rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
        toleranceSec = Some(0.02))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(tol.toSeq === Seq(
      (100L, 902L), (101L, 900L), (102L, -1L), (103L, -1L)))
  }

  test("asOf directions: forward picks next-at-or-after, nearest ties to backward") {
    val left = Seq(
      (100L, 1L, 10L), // fwd: right AT t=10 (inclusive); nearest: tie -> same
      (101L, 1L, 12L), // back t=10 (d=2) vs fwd t=20 (d=8) -> backward
      (102L, 1L, 25L), // fwd: none; nearest falls back to backward t=20
      (103L, 2L, 50L), // back t=20 (d=30) vs fwd t=60 (d=10) -> forward
      (104L, 2L, 40L)  // back t=20 and fwd t=60 both d=20: TIE -> backward
    ).map { case (eid, u, ts) => (eid, u, new java.sql.Timestamp(ts)) }
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (900L, 1L, 3L, 3.0),
      (901L, 1L, 10L, 10.0),
      (902L, 1L, 10L, 99.0), // same (key, ts): max ordCol wins in BOTH directions
      (903L, 1L, 20L, 20.0),
      (904L, 2L, 20L, 20.0),
      (905L, 2L, 60L, 60.0))
      .map { case (eid, u, ts, v) => (eid, u, new java.sql.Timestamp(ts), v) }
      .toDF("b_event_id", "user_id", "ts", "b_value")
    def run(dir: String, tol: Option[Double] = None) =
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          toleranceSec = tol, direction = dir)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(run("forward").toSeq === Seq(
      (100L, 902L), (101L, 903L), (102L, -1L), (103L, 905L), (104L, 905L)))
    assert(run("nearest").toSeq === Seq(
      (100L, 902L), (101L, 902L), (102L, 903L), (103L, 905L), (104L, 904L)))
    // forward tolerance: matches farther AHEAD than 5 ms nullify
    assert(run("forward", tol = Some(0.005)).toSeq === Seq(
      (100L, 902L), (101L, -1L), (102L, -1L), (103L, -1L), (104L, -1L)))
    // nearest tolerance: each side is bounded BEFORE the choice — at
    // t=50 the d=30 backward candidate is out of a 15 ms bound, so the
    // d=10 forward one wins even where plain nearest would also pick it;
    // at t=40 BOTH d=20 candidates are out -> null
    assert(run("nearest", tol = Some(0.015)).toSeq === Seq(
      (100L, 902L), (101L, 902L), (102L, 903L), (103L, 905L), (104L, -1L)))

    // strict mode (allowExactMatches=false): the exact-ts rows at t=10
    // no longer match — backward falls back to the strictly-earlier row,
    // forward skips PAST the equal-ts rows, nearest still ties backward
    def strict(dir: String) =
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          direction = dir, allowExactMatches = false)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(strict("backward").toSeq === Seq(
      (100L, 900L), (101L, 902L), (102L, 903L), (103L, 904L), (104L, 904L)))
    assert(strict("forward").toSeq === Seq(
      (100L, 903L), (101L, 903L), (102L, -1L), (103L, 905L), (104L, 905L)))
    assert(strict("nearest").toSeq === Seq(
      (100L, 900L), (101L, 902L), (102L, 903L), (103L, 905L), (104L, 904L)))
  }

  test("asOf tolerance on TIMESTAMP_NTZ columns, every direction") {
    // the driver's events.parquet stores timezone-less timestamp[us],
    // which Spark 4 reads as TIMESTAMP_NTZ — a type that forbids the
    // double cast a seconds-delta would naively use, so the tolerance
    // bound must stay in native interval arithmetic
    import java.time.LocalDateTime
    def t(s: Int) = LocalDateTime.of(2026, 1, 1, 0, 0, s)
    val left = Seq((100L, 1L, t(10)), (101L, 1L, t(40)), (102L, 2L, t(5)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((900L, 1L, t(8), 8.0), (901L, 2L, t(5), 5.0))
      .toDF("b_event_id", "user_id", "ts", "b_value")
    assert(left.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    def run(dir: String) =
      Joins.asOf(left, right, Seq("user_id"), "ts",
          rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id",
          toleranceSec = Some(10.0), direction = dir)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
    // backward: t=10 finds t=8 (2 s stale, in bound); t=40's only
    // candidate is 32 s stale -> null; exact-ts t=5 survives the bound
    assert(run("backward").toSeq === Seq((100L, 900L), (101L, -1L), (102L, 901L)))
    assert(run("forward").toSeq === Seq((100L, -1L), (101L, -1L), (102L, 901L)))
    assert(run("nearest").toSeq === Seq((100L, 900L), (101L, -1L), (102L, 901L)))
  }

  test("c4Signals: each rule fires on its planted line, verdicts exact") {
    val docs = Seq(
      // 3 good lines -> keep
      (1L, "the first full sentence has enough words here.\n" +
        "a second proper sentence with several words too!\n" +
        "does a third sentence with a question mark count?"),
      // short line, no-punct line, javascript line all drop -> 1 kept -> drop
      (2L, "one good closing sentence with enough words inside.\n" +
        "too short.\nno terminal punctuation on this very long line here\n" +
        "please enable JavaScript to continue reading this."),
      // lorem-ipsum page drops even with enough clean lines
      (3L, "the first full sentence has enough words here.\n" +
        "a second proper sentence with several words too!\n" +
        "a third proper sentence keeps the line count high.\n" +
        "lorem ipsum dolor sit amet consectetur adipiscing elit."),
      // curly brace page drops
      (4L, "the first full sentence has enough words here.\n" +
        "a second proper sentence with several words too!\n" +
        "function f() { return 1; } is a code tell."))
      .toDF("doc_id", "text")
    val got = TextAnalysis.c4Signals(docs, "doc_id", "text")
      .orderBy("id").collect()
    assert(got.map(_.getBoolean(6)).toSeq === Seq(true, false, false, false))
    assert(got(0).getLong(2) === 3L) // all three lines survive
    // doc 2: only the first line survives the line rules
    assert(got(1).getLong(2) === 1L)
    assert(got(1).getString(5) ===
      "one good closing sentence with enough words inside.")
    assert(got(2).getBoolean(3), "lorem not flagged")
    assert(got(3).getBoolean(4), "curly not flagged")
  }

  test("stripHtml: blocks, tags, entity decode order, graceful degradation") {
    val cases = Seq(
      // script content (with tag-like text) vanishes; entities decode
      "<p>A &amp; B</p><script>if (1 < 2) alert(\"x\");</script>done" ->
        "A & B done",
      // decode AFTER tag strip: &lt;b&gt; stays literal text, never markup
      "x &lt;b&gt; y" -> "x <b> y",
      // &amp;lt; decodes exactly one level (amp last)
      "&amp;lt;" -> "&lt;",
      "<style>p{a:1}</style><!-- c --><div>kept&nbsp;text</div>" ->
        "kept text",
      // malformed markup degrades to text, never throws
      "<p unclosed attr  oops & text" -> "<p unclosed attr oops & text",
      // numeric references: decimal, hex (either x case), leading zeros,
      // supplementary plane via chr-equivalent surrogate pair
      "caf&#233; h&#xE9;llo &#X41;&#0233; gr&#128512;" ->
        "café héllo Aé gr😀",
      // decoded &#60;tag&#62; is literal text (numeric runs after tag strip)
      "x &#60;b&#62; y" -> "x <b> y",
      // amp-escape keeps a numeric reference literal; &#38;lt; decodes to
      // the literal entity exactly once (numeric after named, amp last)
      "amp&amp;#65; esc&#38;lt;" -> "amp&#65; esc&lt;",
      // invalid refs stay byte-for-byte: overflow length, surrogate,
      // empty payload, missing semicolon, bare trailing &#
      "a&#12345678; b&#55296; c&#x; d&#233 e&&#65; f&#" ->
        "a&#12345678; b&#55296; c&#x; d&#233 e&A f&#")
    val got = cases.map(_._1).toDF("h")
      .select(TextAnalysis.stripHtml(col("h"))).as[String].collect().toSeq
    assert(got === cases.map(_._2), s"got $got")
  }

  test("HtmlEntities.decodeNumeric: boundary values and scan restarts") {
    import graft.functions.HtmlEntities.decodeNumeric
    assert(decodeNumeric("&#1;") === "\u0001")          // min valid scalar
    assert(decodeNumeric("&#0;") === "&#0;")            // NUL stays literal
    assert(decodeNumeric("&#1114111;") === new String(Character.toChars(0x10FFFF)))
    assert(decodeNumeric("&#1114112;") === "&#1114112;") // > max scalar
    assert(decodeNumeric("&#xD7FF;&#xE000;") === "\ud7ff\ue000") // surrogate fence
    assert(decodeNumeric("&#xD800;&#xDFFF;") === "&#xD800;&#xDFFF;")
    assert(decodeNumeric("&#xFFFFFF;") === "&#xFFFFFF;") // 6 hex digits, > max
    assert(decodeNumeric("&#x10FFFF;") === new String(Character.toChars(0x10FFFF)))
    // a failed match never swallows a later '&'
    assert(decodeNumeric("&&#65;") === "&A")
    assert(decodeNumeric("&#&#65;") === "&#A")
  }

  test("scriptRatioCols: exact composition on a known mixed-script string") {
    // 4 latin + 2 cjk + 3 cyrillic + 2 greek + 2 arabic + 2 digits(other)
    // = 15 non-space codepoints
    val df = Seq(
      (1L, "abcd 一二 мир αβ مر 42"),
      (2L, " \t"), (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id") +:
        TextAnalysis.scriptRatioCols(col("text")).map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id").collect()
    val r1 = got(0)
    assert((1 to 6).map(r1.getDouble).toSeq ===
      Seq(4.0 / 15, 2.0 / 15, 3.0 / 15, 2.0 / 15, 2.0 / 15, 2.0 / 15))
    // whitespace-only and empty docs score 0 everywhere, never NaN
    for (r <- Seq(got(1), got(2)); i <- 1 to 6) assert(r.getDouble(i) === 0.0)
  }

  test("scriptRatioCols: Vietnamese scores as latin (Latin Extended Additional)") {
    // Heavy Latin Extended Additional usage (ặ=U+1EB7, ọ=U+1ECD, ờ=U+1EDD…);
    // a mostly-latin gate at 0.8 must keep this page.
    val vi = "Tiếng Việt là ngôn ngữ chính thức tại Việt Nam và " +
      "được sử dụng bởi hơn chín mươi triệu người trên thế giới"
    val df = Seq((1L, vi)).toDF("doc_id", "text")
    val r = df.select(
        TextAnalysis.scriptRatioCols(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(r.getDouble(0) > 0.9, s"latin ratio ${r.getDouble(0)} should exceed 0.9")
    // the multiplication/division signs are math punctuation, not latin letters
    val sym = Seq((1L, "a×b÷c")).toDF("doc_id", "text")
      .select(TextAnalysis.scriptRatioCols(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(sym.getDouble(0) === 3.0 / 5)
  }

  test("dropDupParagraphs: corpus-wide first occurrence, original text + order") {
    val docs = Seq(
      // intra-doc near-copy (case differs) dups on the CANONICAL fp; the
      // first occurrence keeps its ORIGINAL casing
      (1L, "Shared Block\nunique one\nshared block"),
      (2L, "shared block\nunique two"),
      (3L, "SHARED BLOCK")) // every paragraph duplicates -> doc drops
      .toDF("doc_id", "text")
    val got = Dedup.dropDupParagraphs(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq === Seq(
      (1L, 2L, "Shared Block\nunique one"),
      (2L, 1L, "unique two")))
  }

  test("contaminationStats: exact distinct-8-gram fractions per doc") {
    // bench doc = 8 words -> exactly one 8-gram
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // verbatim benchmark copy: 1 of 1 grams contaminated
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // 10 words = 3 distinct 8-grams, the FIRST is the benchmark span
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // clean doc, same length: 0 of 3
      (3L, "one two three four five six seven eight nine ten"),
      // short doc (< 8 words): single whole-text shingle, no hit
      (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.contaminationStats(docs, "doc_id", "text",
        bench, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 1L, 1L, 1.0),
      (2L, 3L, 1L, 1.0 / 3),
      (3L, 3L, 0L, 0.0),
      (4L, 1L, 0L, 0.0)))
  }

  test("minhash composeNfc: decomposed twin dedups only with NFC opted in") {
    // identical text, one encoded precomposed and one decomposed: byte
    // shingles differ, NFC shingles agree
    val docs = Seq(
      (1L, "the caf\u00e9 review praised the \uac00 menu and service"),
      (2L, "the cafe\u0301 review praised the \u1100\u1161 menu and service"))
      .toDF("doc_id", "text")
    def pairs(nfc: Boolean) =
      Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
          n = 3, bands = 8, rows = 4, threshold = 0.9, composeNfc = nfc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs(nfc = false).isEmpty,
      "default must stay byte-stable (no NFC folding)")
    assert(pairs(nfc = true) === Seq((1L, 2L, 1.0)),
      s"NFC opt-in must collapse the encodings: ${pairs(nfc = true)}")
    // the fingerprint twin collapses the same pair
    val fps = docs.select(TextAnalysis.fingerprintNfc(col("text")).as("fp"))
      .collect().map(_.getString(0)).toSet
    assert(fps.size === 1, "fingerprintNfc did not collapse the encodings")
    assert(docs.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0)).toSet.size === 2)
  }

  test("normalizeUrl: canonical form across the noise axes") {
    import graft.operators.TextAnalysis.normalizeUrl
    val cases = Seq(
      // default port + host case + utm + fragment
      "HTTPS://Example.ORG:443/a/b?utm_source=x&z=1&a=2#frag" ->
        "https://example.org/a/b?a=2&z=1",
      // www + trailing slash + gclid; surviving params sorted
      "https://www.example.org/a/b/?b=2&a=1&gclid=xyz" ->
        "https://example.org/a/b?a=1&b=2",
      // non-default port survives; http default port dropped
      "http://example.org:8080/x" -> "http://example.org:8080/x",
      "http://example.org:80/x" -> "http://example.org/x",
      // bare host, root slash trimmed, empty query dropped
      "https://example.org/" -> "https://example.org",
      // no scheme -> untouched
      "not a url" -> "not a url")
    val got = cases.map(_._1).toDF("u")
      .select(normalizeUrl(col("u"))).as[String].collect().toSeq
    assert(got === cases.map(_._2), s"got $got")
  }

  test("urlDedupGroups collapses all variants onto one key, min-id keeper") {
    val docs = Seq(
      (10L, "https://example.org/p/1?a=1"),
      (11L, "HTTPS://EXAMPLE.ORG:443/p/1?a=1&utm_source=x#f"),
      (12L, "https://www.example.org/p/1/?a=1"),
      (13L, "https://example.org/p/2"))
      .toDF("doc_id", "url")
    val got = TextAnalysis.urlDedupGroups(docs, "doc_id", "url")
      .orderBy("url_norm").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      ("https://example.org/p/1?a=1", 10L, 3L),
      ("https://example.org/p/2", 13L, 1L)))
  }

  test("asOf: whole-row match — null payload in the matched row stays null") {
    val left = Seq((100L, 1L, new java.sql.Timestamp(10L)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (900L, 1L, new java.sql.Timestamp(1L), Some(5.0)),
      (901L, 1L, new java.sql.Timestamp(9L), None)) // newest match, null payload
      .toDF("b_event_id", "user_id", "ts", "b_value")
    val got = Joins.asOf(left, right, Seq("user_id"), "ts",
        rightCols = Seq("b_event_id", "b_value"), ordCol = "b_event_id")
      .collect()(0)
    // the ts=9 row matches as a WHOLE: its null b_value must NOT be
    // stitched with the ts=1 row's 5.0
    assert(got.getLong(3) === 901L)
    assert(got.isNullAt(4), s"stitched payload from an older row: $got")
  }

  // ---- temporal (SCD-2) join ------------------------------------------

  test("temporal: version pick, boundary inclusion, expiry and pre-history nulls") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 00:00:00")), // before first version -> nulls
      (2L, 7L, ts("2024-01-05 00:00:00")), // inside v0
      (3L, 7L, ts("2024-01-10 00:00:00")), // exactly v1.valid_from -> v1
      (4L, 7L, ts("2024-01-25 00:00:00")), // after closed v1 -> nulls
      (5L, 8L, ts("2024-01-05 00:00:00"))  // other key, no versions -> nulls
    ).toDF("event_id", "k", "ts")
    val dim = Seq(
      (7L, 0, ts("2024-01-03 00:00:00"), ts("2024-01-10 00:00:00"), "a"),
      (7L, 1, ts("2024-01-10 00:00:00"), ts("2024-01-20 00:00:00"), "b")
    ).toDF("k", "version", "valid_from", "valid_to", "payload")
    val got = Joins.temporal(left, dim, Seq("k"), "ts",
        "valid_from", "valid_to",
        rightCols = Seq("version", "valid_to", "payload"), ordCol = "version")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        Option(r.getString(5)))).toSeq
    assert(got === Seq(
      (1L, None, None), (2L, Some(0), Some("a")), (3L, Some(1), Some("b")),
      (4L, None, None), (5L, None, None)))
  }

  test("temporal: null valid_to is the open current version") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 7L, ts("2030-06-01 00:00:00")))
      .toDF("event_id", "k", "ts")
    val dim = Seq(
      (7L, 0, ts("2024-01-01 00:00:00"), Some(ts("2024-02-01 00:00:00")), "old"),
      (7L, 1, ts("2024-02-01 00:00:00"), None: Option[java.sql.Timestamp], "current")
    ).toDF("k", "version", "valid_from", "valid_to", "payload")
    val got = Joins.temporal(left, dim, Seq("k"), "ts",
        "valid_from", "valid_to",
        rightCols = Seq("version", "valid_to", "payload"), ordCol = "version")
      .collect()(0)
    assert(got.getString(5) === "current")
  }

  // ---- banded range join ----------------------------------------------

  test("range: containment boundaries, overlap multi-match, degenerate bands") {
    val left = Seq((1L, 10.0), (2L, 20.0), (3L, 25.0), (4L, 30.0), (5L, 99.0))
      .toDF("event_id", "value")
    val bands = Seq(
      (100L, 10.0, 30.0),  // [10,30): ids 1,2,3
      (200L, 20.0, 40.0),  // [20,40): ids 2,3,4 — overlaps band 100
      (300L, 50.0, 50.0),  // degenerate -> matches nothing
      (400L, 60.0, 50.0)   // inverted -> matches nothing
    ).toDF("band_id", "lo", "hi")
    val got = Joins.range(left, bands, "value", "lo", "hi", bucketWidth = 7.0)
      .select("event_id", "band_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 100L), (2L, 100L), (3L, 100L),
      (2L, 200L), (3L, 200L), (4L, 200L)))
  }

  test("range: each true pair emits exactly once even when the interval " +
      "spans many buckets") {
    val left = Seq((1L, 55.5)).toDF("event_id", "value")
    val bands = Seq((9L, 0.0, 1000.0)).toDF("band_id", "lo", "hi")
    // interval covers ~334 width-3 buckets; the point lives in ONE
    val rows = Joins.range(left, bands, "value", "lo", "hi", bucketWidth = 3.0)
      .collect()
    assert(rows.length === 1)
  }

  test("range: keyCols restrict matches within the same band space") {
    val left = Seq((1L, "a", 5.0), (2L, "b", 5.0)).toDF("id", "grp", "v")
    val bands = Seq(("a", 7L, 0.0, 10.0)).toDF("grp", "band_id", "lo", "hi")
    val got = Joins.range(left, bands, "v", "lo", "hi", 4.0,
        keyCols = Seq("grp"))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L))
  }

  // ---- model-based quality classifier ---------------------------------

  test("quality classifier: separates the classes it was trained on") {
    // positives share a vocabulary, negatives another; repeated tokens
    // push the count ratios apart
    val pos = "the quick brown fox jumps over the lazy dog again and again"
    val neg = "zzz qqq xxx vvv kkk jjj www yyy uuu ooo ppp lll"
    val docs = ((1L to 20L).map(i => (i, pos, true)) ++
      (21L to 40L).map(i => (i, neg, false))).toDF("doc_id", "text", "label")
    val model = TextAnalysis.trainQualityClassifier(
      docs, "text", col("label"), nBuckets = 256)
    val scored = TextAnalysis.scoreQualityClassifier(
      docs, "doc_id", "text", model, nBuckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val posMean = (1L to 20L).map(scored).sum / 20
    val negMean = (21L to 40L).map(scored).sum / 20
    assert(posMean > 0, s"positive class must score positive, got $posMean")
    assert(negMean < 0, s"negative class must score negative, got $negMean")
  }

  test("quality classifier: out-of-model tokens score zero (foreign model)") {
    val train = Seq((1L, "alpha beta", true), (2L, "gamma delta", false))
      .toDF("doc_id", "text", "label")
    val model = TextAnalysis.trainQualityClassifier(
      train, "text", col("label"), nBuckets = 4096)
    // no hash collision at 4096 buckets for these 2 tokens is not
    // guaranteed in general, but the zero-floor weights (counts of 1
    // quantize to qlog 0) make every bucket weight 0 here anyway; a
    // doc of UNSEEN tokens must also sum to exactly 0 via the left join
    val foreign = Seq((9L, "zeta eta theta")).toDF("doc_id", "text")
    val got = TextAnalysis.scoreQualityClassifier(
      foreign, "doc_id", "text", model, nBuckets = 4096).collect()(0)
    assert(got.getLong(2) === 0L)
  }

  test("QualityModel: saved + reloaded model scores identically") {
    val docs = ((1L to 8L).map(i => (i, s"common words here plus tok$i", i <= 4))
      ).toDF("doc_id", "text", "label")
    val model = TextAnalysis.trainQualityClassifier(
      docs, "text", col("label"), nBuckets = 128)
    val dir = s"target/qclf_spec_${ProcessHandle.current().pid()}"
    try {
      TextAnalysis.QualityModel.save(model, dir)
      val loaded = TextAnalysis.QualityModel.load(spark, dir)
      val a = TextAnalysis.scoreQualityClassifier(
        docs, "doc_id", "text", model, nBuckets = 128)
        .orderBy("id").collect().toSeq
      val b = TextAnalysis.scoreQualityClassifier(
        docs, "doc_id", "text", loaded, nBuckets = 128)
        .orderBy("id").collect().toSeq
      assert(a === b)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("sampleByWeight: weight 1 keeps all, 0 keeps none, and keeps are " +
      "monotone in the weight (nested samples)") {
    import graft.operators.Sampling
    val docs = (1L to 500L).toDF("doc_id")
    assert(Sampling.sampleByWeight(docs, col("doc_id"), lit(1.0)).count() === 500)
    assert(Sampling.sampleByWeight(docs, col("doc_id"), lit(0.0)).count() === 0)
    def kept(w: Double) = Sampling.sampleByWeight(docs, col("doc_id"), lit(w))
      .collect().map(_.getLong(0)).toSet
    val k3 = kept(0.3); val k7 = kept(0.7)
    assert(k3.subsetOf(k7), "a higher weight must keep a superset")
    assert(k3.nonEmpty && k7.size < 500)
  }

  test("range: negative points and intervals band correctly (floor, not " +
      "truncate-toward-zero)") {
    val left = Seq((1L, -25.0), (2L, -0.5), (3L, 5.0)).toDF("event_id", "value")
    val bands = Seq((9L, -30.0, -20.0), (8L, -1.0, 1.0)).toDF("band_id", "lo", "hi")
    val got = Joins.range(left, bands, "value", "lo", "hi", bucketWidth = 7.0)
      .select("event_id", "band_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 9L), (2L, 8L)), s"got $got")
  }

  // ---- containment + readability --------------------------------------

  test("containmentPairs: excerpt-in-doc scores 1.0 where Jaccard dilutes") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, long), (2L, excerpt), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((2L, 1L, 1.0)),
      s"only excerpt->doc direction qualifies: $got")
    // the symmetric Jaccard would have been tiny
    val jac = Dedup.nearDupPairsExact(docs, "doc_id", "text", n = 3,
      threshold = 0.6)
    assert(jac.count() === 0)
  }

  test("luhnValid: known card vectors; cardCandidates finds digit runs") {
    val df = Seq(
      (1L, "4539578763621486"),  // valid 16-digit
      (2L, "4111111111111111"),  // valid classic Visa
      (3L, "79927398713"),       // valid 11-digit (reference vector)
      (4L, "1234567890123"),     // invalid
      (5L, "4539578763621487")   // single-digit corruption -> invalid
    ).toDF("id", "d")
    val got = df.select(col("id"), TextAnalysis.luhnValid(col("d")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> false))
    val cands = Seq((1L, "pay 4111111111111111 or 123 maybe 1234567890123x"))
      .toDF("id", "t")
      .select(explode(TextAnalysis.cardCandidates(col("t"))))
      .collect().map(_.getString(0)).toSeq
    assert(cands === Seq("4111111111111111", "1234567890123"))
  }

  test("ariScore: hand-computed value; empty doc is null") {
    // "the cat sat." -> 10 non-space chars, 3 words, 1 sentence
    val df = Seq((1L, "the cat sat."), (2L, "   ")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.ariScore(col("text")).as("ari")).orderBy("doc_id")
      .collect()
    val want = 4.71 * (10.0 / 3.0) + 0.5 * (3.0 / 1.0) - 21.43
    assert(math.abs(got(0).getDouble(1) - want) < 1e-9)
    assert(got(1).isNullAt(1))
  }

  // ---- hard negatives + leakage-safe split ----------------------------

  test("hardNegativesTopK: the band excludes both duplicates and noise") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),   // query
      (1L, Array(0.999, 0.01, 0.0)),// near-dup (cos ~1) -> excluded
      (2L, Array(0.7, 0.7, 0.0)),   // cos ~0.707 -> hard negative
      (3L, Array(0.0, 1.0, 0.0)),   // orthogonal -> excluded
      (4L, Array(0.5, 0.5, 0.7))    // in band
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegativesTopK(vecs,
        vecs.filter(col("vec_id") === 0L), k = 5, loCos = 0.3, hiCos = 0.95)
      .select("nn_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 4L), s"got $got")
  }

  test("leakageSafeSplit: duplicate families never straddle splits") {
    import graft.operators.Sampling
    val docs = (1L to 400L).toDF("doc_id")
    // families: (1,2,3) chained, (10,11), rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val split = Sampling.leakageSafeSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.8, "test" -> 0.2))
    val byDoc = split.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(Set(byDoc(1L), byDoc(2L), byDoc(3L)).size === 1,
      "family 1-2-3 must share component AND split")
    assert(byDoc(10L) === byDoc(11L))
    // both splits actually populated over the 400 singletons
    val splits = byDoc.values.map(_._2).toSet
    assert(splits === Set("train", "test"))
  }

  // ---- time-series resample / fill / LOCF -----------------------------

  test("timeSeries: gaps fill, LOCF carries across them, head stays null") {
    import graft.operators.TimeSeries
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // key 1: points in buckets 0 and 3 (buckets 1-2 are gaps);
    // bucket 0 has TWO points (max wins, n = 2)
    val df = Seq((1L, ts(5), "7.00"), (1L, ts(8), "9.00"), (1L, ts(35), "4.00"))
      .toDF("k", "ts", "raw")
    val rs = TimeSeries.resample(df, Seq("k"), "ts", stepSec = 10,
      valueCol = col("raw").cast("decimal(18,2)"))
    val filled = TimeSeries.locf(rs, Seq("k"), "b", "v0")
    val withD = TimeSeries.runningDelta(filled, Seq("k"), "b", "v0")
    val got = TimeSeries.movingAvg(withD, Seq("k"), "b", "v0", nBuckets = 2)
      .orderBy("b").collect()
      .map(r => (r.getLong(1), r.getDecimal(2).toPlainString, r.getLong(3),
        r.getBoolean(4),
        if (r.isNullAt(5)) "null" else r.getDecimal(5).toPlainString,
        r.getDouble(6)))
      .toSeq
    assert(got === Seq(
      (0L, "9.00", 2L, false, "null", 9.0),   // max of the two points
      (1L, "9.00", 0L, true, "0.00", 9.0),    // gap: carried, delta 0
      (2L, "9.00", 0L, true, "0.00", 9.0),
      (3L, "4.00", 1L, false, "-5.00", 6.5))) // real point, avg(9,4)
  }

  test("timeSeries interpolate: gap buckets take the linear blend of " +
      "their surrounding observations; observed rows pass through") {
    import graft.operators.TimeSeries
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // key 1: observations in buckets 0 (v=10) and 4 (v=30); gaps 1-3
    // interpolate to 15, 20, 25. key 2: single point — no gaps at all.
    val df = Seq((1L, ts(5), "10.00"), (1L, ts(45), "30.00"),
      (2L, ts(12), "7.00")).toDF("k", "ts", "raw")
    val rs = TimeSeries.resample(df, Seq("k"), "ts", stepSec = 10,
      valueCol = col("raw").cast("decimal(18,2)"))
    val got = TimeSeries.interpolate(rs, Seq("k"), "b", "v0")
      .orderBy("k", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
      .toSeq
    assert(got === Seq(
      (1L, 0L, 10.0), (1L, 1L, 15.0), (1L, 2L, 20.0), (1L, 3L, 25.0),
      (1L, 4L, 30.0), (2L, 1L, 7.0)))
  }

  test("timeSeries: bucket boundary is exact integer division (no " +
      "double rounding drift)") {
    import graft.operators.TimeSeries
    // a point exactly at a bucket boundary must land in the HIGHER bucket
    val df = Seq((1L, new java.sql.Timestamp(10000L), "1.00"),
      (1L, new java.sql.Timestamp(9999L), "2.00")).toDF("k", "ts", "raw")
    val got = TimeSeries.resample(df, Seq("k"), "ts", stepSec = 10,
        valueCol = col("raw").cast("decimal(18,2)"))
      .orderBy("b").collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(got === Seq((0L, 1L), (1L, 1L)))
  }

  test("snapshotDiff: added/removed/changed/unchanged classify by byte " +
      "fingerprint; whitespace-only edits still report changed") {
    import graft.operators.Dedup
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "same"))
      .toDF("doc_id", "text")
    val neu = Seq((2L, "beta EDITED"), (3L, "gamma "), (4L, "same"),
      (5L, "brand new")).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "changed",
      3L -> "changed", // trailing space IS a byte change, by contract
      4L -> "unchanged", 5L -> "added"))
  }

  // ---- MergeTree FINAL semantics --------------------------------------

  test("replacingMerge: greatest version wins; version ties keep ONE " +
      "whole row (no cross-row stitching)") {
    import graft.operators.MergeSemantics
    val rows = Seq(
      (1L, 1L, "a", 10.0), (1L, 3L, "c", 30.0), (1L, 2L, "b", 20.0),
      (2L, 5L, "x", 1.0), (2L, 5L, "w", 99.0) // tie on ver
    ).toDF("k", "ver", "status", "price")
    val got = MergeSemantics.replacingMerge(rows, Seq("k"), "ver")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // key 2 tie: struct max -> status "x" row as a WHOLE (x > w), price 1.0
    assert(got === Array((1L, 3L, "c", 30.0), (2L, 5L, "x", 1.0)))
  }

  test("collapsingMerge: cancelled-out keys disappear; survivors keep " +
      "the newest +1 state") {
    import graft.operators.MergeSemantics
    val rows = Seq(
      (1L, 1, 10L, "s1"), (1L, -1, 11L, "s1c"),          // net 0 -> gone
      (2L, 1, 20L, "old"), (2L, -1, 21L, "oldc"), (2L, 1, 22L, "new"),
      (3L, -1, 30L, "only-cancel")                        // net -1 -> gone
    ).toDF("k", "sign", "ver", "state")
    val got = MergeSemantics.collapsingMerge(rows, Seq("k"), "sign", "ver")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got === Array((2L, 22L, "new")))
  }

  test("versionedCollapsingMerge: cancels pair only on (key, version); " +
      "stray cancels survive with sign -1") {
    import graft.operators.MergeSemantics
    val rows = Seq(
      // k=1: v1 state + matching cancel -> pair vanishes; v2 state stays
      (1L, 1, 1L, "a"), (1L, -1, 1L, "a"), (1L, 1, 2L, "b"),
      // k=2: cancel for OLD v1 while state is v2 — plain Collapsing
      // would net them; versioned keeps BOTH (no same-version pair)
      (2L, -1, 1L, "old"), (2L, 1, 2L, "cur"),
      // k=3: duplicate states, one cancel -> net +1 survives
      (3L, 1, 7L, "x"), (3L, 1, 7L, "x"), (3L, -1, 7L, "x")
    ).toDF("k", "sign", "ver", "state")
    val got = MergeSemantics
      .versionedCollapsingMerge(rows, Seq("k"), "sign", "ver")
      .orderBy("k", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    assert(got === Array(
      (1L, 2L, 1, "b"),
      (2L, 1L, -1, "old"), (2L, 2L, 1, "cur"),
      (3L, 7L, 1, "x")))
  }

  test("summingMerge: exact decimal sums; non-sum payload collapses " +
      "deterministically") {
    import graft.operators.MergeSemantics
    val rows = Seq((1L, BigDecimal("1.10"), "a"), (1L, BigDecimal("2.20"), "b"))
      .toDF("k", "amt", "tag")
    val got = MergeSemantics.summingMerge(rows, Seq("k"), Seq("amt"))
      .collect()(0)
    assert(got.getDecimal(1).compareTo(new java.math.BigDecimal("3.30")) === 0)
    assert(got.getString(2) === "b") // struct max over the leftover payload
  }

  test("sumMap: element-wise map sums across rows; disjoint keys union") {
    import graft.operators.MergeSemantics
    val rows = Seq(
      (1L, Map("a" -> 1L, "b" -> 2L)),
      (1L, Map("b" -> 3L, "c" -> 4L)),
      (2L, Map("z" -> 7L))).toDF("k", "m")
    val got = MergeSemantics.sumMap(rows, Seq("k"), "m")
      .collect().map(r => r.getLong(0) -> r.getMap[String, Long](1).toMap).toMap
    assert(got === Map(
      1L -> Map("a" -> 1L, "b" -> 5L, "c" -> 4L),
      2L -> Map("z" -> 7L)), s"got $got")
  }

  test("sumMap: keys with only NULL/empty maps survive with an empty map " +
      "(SummingMergeTree keeps the key row)") {
    import graft.operators.MergeSemantics
    val rows = Seq(
      (1L, Map("a" -> 1L)),
      (2L, Map.empty[String, Long]), // empty on every row
      (4L, Map("b" -> 2L))).toDF("k", "m")
      .union(Seq(3L).toDF("k") // NULL map on every row
        .select(col("k"), lit(null).cast("map<string,bigint>").as("m")))
    val got = MergeSemantics.sumMap(rows, Seq("k"), "m")
      .collect().map(r => r.getLong(0) -> r.getMap[String, Long](1).toMap).toMap
    assert(got === Map(
      1L -> Map("a" -> 1L), 2L -> Map.empty, 3L -> Map.empty,
      4L -> Map("b" -> 2L)), s"got $got")
  }

  test("minMap/maxMap/avgMap: per-map-key folds share sumMap's shape; " +
      "avgMap widens values to DOUBLE") {
    import graft.operators.MergeSemantics
    val rows = Seq(
      (1L, Map("a" -> 4L, "b" -> 2L)),
      (1L, Map("a" -> 1L, "c" -> 9L)),
      (2L, Map("z" -> 7L))).toDF("k", "m")
    def asMap[V](df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getMap[String, V](1).toMap).toMap
    assert(asMap[Long](MergeSemantics.minMap(rows, Seq("k"), "m")) === Map(
      1L -> Map("a" -> 1L, "b" -> 2L, "c" -> 9L), 2L -> Map("z" -> 7L)))
    assert(asMap[Long](MergeSemantics.maxMap(rows, Seq("k"), "m")) === Map(
      1L -> Map("a" -> 4L, "b" -> 2L, "c" -> 9L), 2L -> Map("z" -> 7L)))
    assert(asMap[Double](MergeSemantics.avgMap(rows, Seq("k"), "m")) === Map(
      1L -> Map("a" -> 2.5, "b" -> 2.0, "c" -> 9.0), 2L -> Map("z" -> 7.0)))
  }

  // ---- event-sequence analytics (windowFunnel / retention) ------------

  test("windowFunnel: exists-chain semantics — a later start can complete " +
      "when the earliest start cannot") {
    import graft.operators.EventAnalytics
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: view@0 (click at 5 is outside its 3s window) but view@4 ->
    // click@5 -> buy@6 completes: level 3 via the SECOND start
    // user 2: order violated (buy before click) -> level 2
    // user 3: only clicks (no chain start) -> level 0
    val events = Seq(
      (1L, ts(0), "view"), (1L, ts(4), "view"), (1L, ts(5), "click"),
      (1L, ts(6), "buy"),
      (2L, ts(0), "view"), (2L, ts(1), "buy"), (2L, ts(2), "click"),
      (3L, ts(1), "click"), (3L, ts(2), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.windowFunnel(events, "user_id", "ts",
        "event_type", Seq("view", "click", "buy"), windowSec = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 2, 3L -> 0), s"got $got")
  }

  test("windowFunnel: window boundary inclusive; equal timestamps chain") {
    import graft.operators.EventAnalytics
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      (1L, ts(0), "a"), (1L, ts(10), "b"),  // exactly at start+window
      (2L, ts(5), "a"), (2L, ts(5), "b")    // same-instant chain
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.windowFunnel(events, "user_id", "ts",
        "event_type", Seq("a", "b"), windowSec = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 2, 2L -> 2), s"got $got")
  }

  test("windowFunnel: 3+ equal-timestamp steps chain regardless of " +
      "insertion order (ties sort by step index)") {
    import graft.operators.EventAnalytics
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // adversarial input order: highest step first — a ts-only sort could
    // leave (5,c) ahead of (5,b) and the forward walk would stop at 2
    val events = Seq(
      (1L, ts(5), "c"), (1L, ts(5), "b"), (1L, ts(5), "a"),
      (2L, ts(0), "a"), (2L, ts(3), "c"), (2L, ts(3), "b")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.windowFunnel(events, "user_id", "ts",
        "event_type", Seq("a", "b", "c"), windowSec = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 3), s"got $got")
  }

  test("windowFunnel strict modes: increase rejects equal ts; dedup cuts " +
      "on repeated matched steps; order cuts on intervening steps") {
    import graft.operators.EventAnalytics.funnelWalk
    val win = 100L
    // same-instant a,b: default chains, strict_increase does not
    val sameTs = Array((5L, 0), (5L, 1))
    assert(funnelWalk(sameTs, 2, win) === 2)
    assert(funnelWalk(sameTs, 2, win, "strict_increase") === 1)
    // a b a c: the repeated 'a' interrupts dedup (level 2) but the
    // default mode reaches 3
    val repeat = Array((0L, 0), (1L, 1), (2L, 0), (3L, 2))
    assert(funnelWalk(repeat, 3, win) === 3)
    assert(funnelWalk(repeat, 3, win, "strict_dedup") === 2)
    // a b d c (d = step 3 of a 4-step funnel): strict_order stops at the
    // out-of-order 'd'; default skips it and completes a->b->c
    val inter = Array((0L, 0), (1L, 1), (2L, 3), (3L, 2))
    assert(funnelWalk(inter, 4, win) === 3)
    assert(funnelWalk(inter, 4, win, "strict_order") === 2)
    // a later clean start still wins under the interrupt modes
    val restart = Array((0L, 0), (1L, 0), (2L, 1), (3L, 2))
    assert(funnelWalk(restart, 3, win, "strict_dedup") === 3)
    assert(funnelWalk(restart, 3, win, "strict_order") === 3)
  }

  test("funnelWalk greedy == brute-force exists-chain on 2000 random " +
      "event lists (default and strict_increase)") {
    import graft.operators.EventAnalytics.funnelWalk
    val rnd = new scala.util.Random(4242)
    val k = 3
    // independent reference: enumerate ALL (e1, e2, e3) tuples
    def brute(evs: Array[(Long, Int)], win: Long, strict: Boolean): Int = {
      def ok(a: Long, b: Long) = if (strict) b > a else b >= a
      var best = 0
      for ((t1, s1) <- evs if s1 == 0) {
        best = math.max(best, 1)
        for ((t2, s2) <- evs if s2 == 1 && ok(t1, t2) && t2 <= t1 + win) {
          best = math.max(best, 2)
          for ((t3, s3) <- evs
               if s3 == 2 && ok(t2, t3) && t3 <= t1 + win)
            best = math.max(best, 3)
        }
      }
      best
    }
    for (_ <- 1 to 2000) {
      val n = rnd.nextInt(13)
      val win = 1 + rnd.nextInt(8).toLong
      val evs = Array.fill(n)(
        (rnd.nextInt(20).toLong, rnd.nextInt(k))).sorted
      val d = funnelWalk(evs, k, win)
      val bd = brute(evs, win, strict = false)
      assert(d === bd,
        s"default: walk=$d brute=$bd win=$win evs=${evs.mkString(",")}")
      val si = funnelWalk(evs, k, win, "strict_increase")
      val bs = brute(evs, win, strict = true)
      assert(si === bs,
        s"strict: walk=$si brute=$bs win=$win evs=${evs.mkString(",")}")
    }
  }

  test("sequenceCount: greedy non-overlapping automaton — a completed " +
      "chain resets; mid-chain extras pass through") {
    import graft.operators.EventAnalytics
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // a a b b -> 1 (greedy: first a + first b complete; the rest is
      // b-only, no new chain) — NOT the max-disjoint 2
      (1L, ts(0), "a"), (1L, ts(1), "a"), (1L, ts(2), "b"), (1L, ts(3), "b"),
      // a b a b -> 2
      (2L, ts(0), "a"), (2L, ts(1), "b"), (2L, ts(2), "a"), (2L, ts(3), "b"),
      // b a -> 0
      (3L, ts(0), "b"), (3L, ts(1), "a")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.sequenceCount(events, "user_id", "ts",
        "event_type", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 1, 2L -> 2, 3L -> 0), s"got $got")
  }

  test("retention: follow-up flags gate on the anchor") {
    import graft.operators.EventAnalytics
    val events = Seq(
      (1L, "signup"), (1L, "click"),   // anchor + follow-up -> 1,1
      (2L, "click"),                   // follow-up without anchor -> 0,0
      (3L, "signup")                   // anchor only -> 1,0
    ).toDF("user_id", "event_type")
    val got = EventAnalytics.retention(events, "user_id", Seq(
        col("event_type") === "signup", col("event_type") === "click"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got === Map(1L -> (1, 1), 2L -> (0, 0), 3L -> (1, 0)), s"got $got")
  }

  // ---- integer PageRank -----------------------------------------------

  test("pageRank: hub of a star outranks leaves; symmetric cycle ties exactly") {
    import graft.operators.Graph
    // star: 1,2,3 -> 0 ; separate 2-cycle: 10 <-> 11
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (10L, 11L), (11L, 10L))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(1L), s"star hub must outrank a leaf: $r")
    assert(r(1L) === r(2L) && r(2L) === r(3L), s"leaves tie exactly: $r")
    assert(r(10L) === r(11L), s"symmetric cycle ties exactly: $r")
  }

  test("pageRank: duplicate edges collapse; repeated runs are bit-identical") {
    import graft.operators.Graph
    val once = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = Graph.pageRank(once, iterations = 3).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Graph.pageRank(dup, iterations = 3).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a === b, "duplicate edges must not change ranks")
    val c = Graph.pageRank(dup.repartition(7), iterations = 3).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(b === c, "partitioning must not change integer ranks")
  }

  test("pageRank: dangling mass drops — total rank strictly below scale") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // 3 dangles
    val total = Graph.pageRank(edges, iterations = 4)
      .agg(sum("rank")).collect()(0).getLong(0)
    assert(total > 0 && total < 1000000000000L,
      s"dangling drop means sum < scale, got $total")
  }

  // ---- hybrid retrieval (RRF) -----------------------------------------

  test("hybridTopK: both-channel doc outranks single-channel docs; " +
      "channel-missing ranks fuse as zero contribution") {
    import graft.operators.Retrieval
    // doc 1: lexical hit AND nearest neighbor of the query vector
    // doc 2: lexical only (vector orthogonal); doc 3: dense only
    val docs = Seq(
      (1L, "spark join spark join spark"),
      (2L, "spark join window query engine"),
      (3L, "unrelated words entirely here"),
      (4L, "noise noise noise noise")).toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), // query
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.95f, 0.0f, 0.1f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Retrieval.hybridTopK(docs, "doc_id", "text",
        terms = Seq("spark", "join"), embeddings = vecs, queryVecId = 0L,
        k = 4, poolK = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(4))).toSeq
    assert(got.head._1 === 1L,
      s"doc 1 is strong in both channels and must rank first: $got")
    val ids = got.map(_._1).toSet
    assert(Set(2L, 3L).subsetOf(ids),
      s"single-channel docs must still surface via fusion: $got")
  }

  // ---- DSIR importance resampling -------------------------------------

  test("dsirSelect: picks the target-domain docs out of a mixed corpus") {
    val sci = "quantum electron proton neutron lattice spin orbital field"
    val web = "click here buy now free offer deal sale shop cart"
    val raw = ((1L to 10L).map(i => (i, s"$sci sample $i")) ++
      (11L to 30L).map(i => (i, s"$web page $i"))).toDF("doc_id", "text")
    val target = (100L to 120L).map(i => (i, s"$sci study $i"))
      .toDF("doc_id", "text")
    val picked = TextAnalysis.dsirSelect(raw, "doc_id", "text", target,
        n = 10, nBuckets = 512)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(picked === (1L to 10L).toSet,
      s"DSIR must pick the science docs, got $picked")
  }

  test("dsirWeightsWithin: fused counting pass matches the generic " +
      "composition bit-for-bit") {
    val raw = Seq((1L, "alpha beta gamma", "en"), (2L, "delta epsilon", "de"),
      (3L, "alpha beta", "en"), (4L, "zeta eta theta iota", "fr"))
      .toDF("doc_id", "text", "lang")
    val generic = TextAnalysis.dsirWeights(raw, "doc_id", "text",
        TextAnalysis.dsirCounts(raw.filter(col("lang") === "en"), "text", 256),
        TextAnalysis.dsirCounts(raw, "text", 256), 256)
      .orderBy("id").collect().toSeq
    val fused = TextAnalysis.dsirWeightsWithin(raw, "doc_id", "text",
        col("lang") === "en", 256)
      .orderBy("id").collect().toSeq
    assert(fused === generic)
  }

  test("dsirWeights: bigram features count — token order matters") {
    // same unigrams, different order: only the bigram channel separates
    // them, so the doc matching the target's ORDER must win
    val raw = Seq((1L, "alpha beta alpha beta alpha beta"),
      (2L, "beta alpha beta alpha beta alpha")).toDF("doc_id", "text")
    val target = Seq((9L, "alpha beta alpha beta alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(raw, "doc_id", "text",
        TextAnalysis.dsirCounts(target, "text", 1024),
        TextAnalysis.dsirCounts(raw, "text", 1024), 1024)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(1L) > w(2L),
      s"doc 1 matches the target bigram order and must outscore doc 2: $w")
  }
}
