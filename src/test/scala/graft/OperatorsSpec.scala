package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SetJaccard, WordShingles}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Behavior tests for the training-data operators: planted duplicates are
  * found, approximate methods recall what the exact methods find, stubs
  * are deterministic.
  */
class OperatorsSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables(spark, sf).documents
  private def embs = Tables(spark, sf).embeddings

  test("exact dedup finds planted duplicates and keeps min id") {
    val corpus = docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 10000).as("doc_id"),
        // same content modulo whitespace/case -> same fingerprint
        upper(concat(col("text"), lit("  ")))))
    val groups = Dedup.exactGroups(corpus, col("text"), col("doc_id"))
    assert(groups.filter(col("n") =!= 2).count() === 0)
    assert(groups.agg(max(col("keeper"))).head().getLong(0) < 10000)
  }

  test("streaming exact dedup drops duplicates across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = Dedup.dropExactStreaming(
      input.toDS().toDF("doc_id", "text"), col("text"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    input.addData((1L, "alpha beta"), (2L, "gamma delta"), (3L, "Alpha  Beta "))
    q.processAllAvailable()
    // 3 canonicalizes to 1's fingerprint within the same batch
    assert(spark.table("dedup_stream").count() === 2)
    input.addData((4L, "alpha beta"), (5L, "epsilon"))
    q.processAllAvailable()
    q.stop()
    // cross-batch duplicate 4 dropped via the state store; 5 new
    val ids = spark.table("dedup_stream").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.length === 3 && ids.last === 5L)

    // the bounded-state path: a fingerprint's state lives until the
    // watermark passes its first event time + the 10 s delay
    val timed = MemoryStream[(Long, String, java.sql.Timestamp)]
    // event times well after the epoch: the initial watermark is 0, and a
    // row at or below the watermark is dropped as late
    def at(sec: Long) = new java.sql.Timestamp((1700000000L + sec) * 1000L)
    val bounded = Dedup.dropExactStreamingWithinWatermark(
      timed.toDS().toDF("doc_id", "text", "ts").withWatermark("ts", "10 seconds"),
      col("text"))
    val wq = bounded.writeStream.format("memory")
      .queryName("dedup_stream_wm").outputMode("append").start()
    timed.addData((1L, "alpha beta", at(0)), (2L, "gamma delta", at(0)))
    wq.processAllAvailable()
    timed.addData((3L, "Alpha  Beta ", at(5))) // twin inside the delay
    wq.processAllAvailable()
    timed.addData((4L, "epsilon", at(60))) // moves the watermark to 50 s
    wq.processAllAvailable()
    timed.addData((5L, "alpha beta", at(61))) // twin after its state expired
    wq.processAllAvailable()
    wq.stop()
    val wmIds = spark.table("dedup_stream_wm").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(wmIds === Seq(1L, 2L, 4L, 5L))
  }

  test("curation ops compose in a streaming pipeline (filter -> scrub -> dedup)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // the curation stages are stateless projections, so they lift into
    // Structured Streaming unchanged; only the dedup tail holds state
    val out = Dedup.dropExactStreaming(
      input.toDS().toDF("doc_id", "text")
        .filter(TextAnalysis.wordRepetitionRatio(col("text")) < 0.8)
        .withColumn("text", TextAnalysis.scrubPii(col("text"))),
      col("text"))
    val q = out.writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    input.addData(
      (1L, "reach me at bob@example.com for the data"),
      (2L, "spam spam spam spam spam"), // dup-word ratio 0.8 -> dropped
      (3L, "reach me at alice@sample.org for the data")) // scrubs to doc 1's text
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("curate_stream")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._1).toSeq === Seq(1L))
    assert(rows.head._2 === "reach me at <EMAIL> for the data")
  }

  test("minhash LSH recalls planted near-duplicates") {
    // perturb one word out of each doc: jaccard stays >= ~0.9
    val perturbed = docs.select((col("doc_id") + 10000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+", "zzzz").as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).union(perturbed)
    val pairs = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
      n = 3, bands = 8, rows = 4, threshold = 0.5)
      .filter(col("b") === col("a") + 10000)
    val found = pairs.count()
    val total = docs.count()
    assert(found >= (total * 0.8).toLong, s"LSH recall too low: $found/$total")
  }

  test("incremental minhash dedup pairs fresh docs only against the reference") {
    val ref = docs.select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zzzz").as("text"))
      .union(Seq((99999L,
        "entirely novel content nothing shared qq ww ee rr tt yy uu ii"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.nearDupsAgainstMinhash(ref, fresh, "doc_id", "text",
      threshold = 0.5)
    // the novel doc shares no shingles -> no pair
    assert(pairs.filter(col("new_id") === 99999L).count() === 0)
    // perturbed twins are recalled against their own source doc
    assert(pairs.filter(col("new_id") === col("ref_id") + 10000).count() >= 80)
    // strictly cross-corpus: ref ids on the left, fresh ids on the right
    assert(pairs.filter(col("ref_id") >= 10000).count() === 0)
    assert(pairs.filter(col("new_id") < 10000).count() === 0)
  }

  test("minhash pin gate: small corpora run the lazy single plan, forced " +
      "pinning returns identical pairs (decide-who-pays-overhead only)") {
    val corpus = docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // sub-MB corpus + default threshold -> the lazy tree (joins visible,
    // no pin/checkpoint jobs paid)
    val lazyDf = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
      n = 3, bands = 8, rows = 4, threshold = 0.9)
    val lazyPlan = lazyDf.queryExecution.executedPlan.toString
    assert(lazyPlan.contains("Join") && !lazyPlan.contains("ExistingRDD"),
      s"small corpus paid the pin protocol:\n${lazyPlan.take(800)}")
    // pinMinBytes = 0 forces the pinned+materialized path (the 100x
    // shape): the result comes back as an eagerly-filled persisted
    // frame (InMemoryTableScan in its plan)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pinnedDf = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
      n = 3, bands = 8, rows = 4, threshold = 0.9, pinMinBytes = 0L)
    assert(pinnedDf.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"), "forced pinning did not materialize")
    // the pins must be RELEASED before return: the only new resident
    // block set is the persisted result itself
    val delta = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(delta.size <= 1, s"pinned path leaked persisted RDDs: $delta")
    assert(pairsOf(lazyDf) === pairsOf(pinnedDf),
      "the gate changed the answer — it may only decide who pays overhead")
    // and the result handle is caller-releasable (the r18 localCheckpoint
    // shape was not): unpersist must drop residency back to the baseline
    pinnedDf.unpersist(blocking = true)
    val residue = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(residue.isEmpty,
      s"unpersist() did not release the pinned result: $residue")
  }

  test("minhash verify prune: broadcast-id and SMJ semi-join modes return " +
      "identical pairs, and the broadcast mode never exchanges fingerprints") {
    val corpus = docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // pinMinBytes = 0 forces the pinned path; the pair-count gate picks
    // the semi-join strategy: cap 0 -> SMJ prune, huge cap -> broadcast
    val smj = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
      n = 3, bands = 8, rows = 4, threshold = 0.9, pinMinBytes = 0L,
      broadcastIdsMaxPairs = 0L)
    val bcast = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text",
      n = 3, bands = 8, rows = 4, threshold = 0.9, pinMinBytes = 0L,
      broadcastIdsMaxPairs = Long.MaxValue)
    try {
      assert(pairsOf(smj) === pairsOf(bcast),
        "the semi-join strategy gate changed the answer")
      assert(pairsOf(smj).nonEmpty, "degenerate corpus: nothing verified")
      // plan shape on the broadcast path (read through the verify
      // builder — the public entry collapses to an InMemoryTableScan):
      // fingerprint prune is a broadcast semi-join with NO Exchange
      // below it, and the fingerprint kernel sits ABOVE the join (only
      // survivors pay the xxhash64 transform)
      val (shingled, cand) = Dedup.minhashCandidates(corpus,
        "doc_id", "text", 3, 8, 4, false)
      val (_, Some(sh)) =
        Dedup.minhashVerify(shingled, cand, 0.9, bcastIds = true, pin = true)
      val shPlan = sh.queryExecution.executedPlan.toString
      sh.unpersist()
      assert(shPlan.contains("BroadcastHashJoin") &&
        shPlan.contains("LeftSemi"),
        s"broadcast mode did not plan a broadcast semi-join:\n" +
          shPlan.take(1500))
      // the printed tree lists the STREAM (shingle) side between the
      // join node and its BroadcastExchange build side — that leg must
      // hold no shuffle (the candIds build side legitimately has one:
      // its own distinct)
      val streamLeg = shPlan.substring(shPlan.indexOf("BroadcastHashJoin"),
        shPlan.indexOf("BroadcastExchange"))
      assert(!streamLeg.contains("Exchange hashpartitioning"),
        s"broadcast mode still exchanged the fingerprint table:\n" +
          streamLeg.take(1500))
    } finally { smj.unpersist(); bcast.unpersist() }
  }

  test("minhash survives a boilerplate cluster: AQE splits the hot bucket") {
    // one boilerplate cluster (1000 identical docs) -> ALL its rows land
    // in the same (band, key) buckets; at 100 TB that is the classic
    // dedup straggler. AQE skew-join must split the hot bucket. The
    // thresholds are lowered so the tiny test corpus actually qualifies
    // as skewed; production keeps the defaults.
    val skewConfs = Map(
      // at 100 TB no side of the banding self-join broadcasts — force the
      // shuffle join the production plan would have
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      // AQE adjudicates skew on COMPRESSED map-output sizes, and the
      // boilerplate bucket (identical text) compresses ~3x harder under
      // the r20 zstd shuffle default than under lz4 — 16KB fell below
      // the hot bucket's lz4 size but above its zstd size, so the knob
      // must sit well under any codec's rendering of the bucket
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")
    val saved = skewConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val boiler = spark.range(1000).select(
        (col("id") + 50000).as("doc_id"),
        lit("exactly the same boilerplate legal disclaimer text repeated on every page").as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).union(boiler)
      // the public entry returns a checkpointed result (plan collapsed
      // to an RDD scan) — drive the lazy builder the same way it does,
      // so the executed plan stays readable. AQE (incl. skew splits)
      // runs INSIDE InMemoryRelation cached plans (probed: Spark 4.1
      // wraps the cached plan in its own AdaptiveSparkPlan even with
      // canChangeCachedPlanOutputPartitioning=false), so pinning the
      // candidate table does not cost the hot-bucket split
      val (pairs, pins) = Dedup.nearDupPairsMinhashPlan(corpus,
        "doc_id", "text", 3, 8, 4, 0.9, false)
      val rows = try {
        pins.foreach(_.count())
        pairs.collect()
      } finally pins.foreach(_.unpersist())
      val clusterPairs = rows.count(r => r.getLong(0) >= 50000 && r.getLong(1) >= 50000)
      assert(clusterPairs === 1000 * 999 / 2,
        s"boilerplate cluster pairs missing: $clusterPairs")
      // read the final adaptive plan: the hot bucket was split (the
      // band self-join lives in the candidate pin's cached plan, whose
      // final adaptive form prints under the InMemoryRelation)
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed bucket:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("simhash: identical docs at distance 0, perturbed docs nearby") {
    val sigs = docs.limit(50)
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("s1"),
        Dedup.simhash64(regexp_replace(col("text"), "^\\S+", "zzzz")).as("s2"))
      .select(Dedup.hamming64(col("s1"), col("s2")).as("d"))
      .agg(avg(col("d"))).head().getDouble(0)
    assert(sigs < 16.0, s"perturbed simhash too far: $sigs")

    val self = docs.limit(10)
      .select(Dedup.hamming64(
        Dedup.simhash64(col("text")), Dedup.simhash64(col("text"))).as("d"))
      .agg(max(col("d"))).head().getInt(0)
    assert(self === 0)
  }

  test("simhash wide recall: probe ball extends pairs to hamming 4..6 exactly") {
    val corpus = docs.limit(80).select(col("doc_id"), col("text"))
      .union(docs.limit(80)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val tight = pairSet(Dedup.nearDupPairsSimhash(corpus, "doc_id", "text"))
    val wide = pairSet(Dedup.nearDupPairsSimhash(corpus, "doc_id", "text",
      maxHamming = 6, wideRecall = true))
    // wide is a superset; the extras sit exactly in the 4..6 shell the
    // tight banding cannot reach
    assert(tight.keySet.subsetOf(wide.keySet),
      s"wide recall lost tight pairs: ${tight.keySet -- wide.keySet}")
    assert((wide -- tight.keySet).values.forall(h => h >= 4 && h <= 6),
      "extras outside the 4..6 shell")
    assert(tight.values.forall(_ <= 3))
    // thresholds needing the probe ball must be requested explicitly
    intercept[IllegalArgumentException] {
      Dedup.nearDupPairsSimhash(corpus, "doc_id", "text", maxHamming = 6)
    }
  }

  test("simhash hot-bucket guard: a planted pathological bucket drops " +
      "bounded instead of exploding; normal pairs survive") {
    // 60 byte-identical clones: every band bucket they form holds 60
    // members — over a cap of 20, the guard excludes those buckets
    val clone = "the exact same boilerplate text repeated verbatim everywhere"
    val hot = (1 to 60).map(i => (i.toLong, clone))
    // plus one honest near-dup pair, far from the clone in simhash space
    val pair = Seq(
      (900L, "completely different subject matter about spark partitions"),
      (901L, "completely different subject matter about spark partitions"))
    val corpus = (hot ++ pair).toDF("doc_id", "text")
    val guarded = Dedup.nearDupPairsSimhash(corpus, "doc_id", "text",
        maxHamming = 6, wideRecall = true, maxBucketSize = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((900L, 901L)),
      s"guard must keep only the honest pair: $guarded")
    // with the guard off the clone blob pairs quadratically (60*59/2)
    val unguarded = Dedup.nearDupPairsSimhash(corpus, "doc_id", "text",
        maxHamming = 6, wideRecall = true)
      .count()
    assert(unguarded === 60L * 59 / 2 + 1, s"got $unguarded")
  }

  test("fused SetJaccard equals the array_intersect/array_union composition") {
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("b", "b", "a")),   // duplicate elements
      (Seq.empty[String], Seq.empty[String]),      // empty union -> 0.0
      (Seq("x"), Seq.empty[String]),
      (Seq("a b", "c"), Seq("a", "b c"))).toDF("a", "b")
    val composed = {
      val inter = size(array_intersect(col("a"), col("b"))).cast("double")
      val uni = size(array_union(col("a"), col("b"))).cast("double")
      when(uni === 0, lit(0.0)).otherwise(inter / uni)
    }
    val got = pairs.select(SetJaccard.of(col("a"), col("b")).as("f"),
      composed.as("c")).collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1), r.toString))
  }

  test("fused MinHashSig equals the explode-aggregate signature form") {
    val shingled = docs.limit(100).select(col("doc_id"),
      WordShingles.of(col("text"), 3).as("sh"))
    val fused = Dedup.minhashSignatureDF(shingled, "doc_id", "sh", 32)
    val comp = Dedup.minhashSignatureExplodeDF(shingled, "doc_id", "sh", 32)
    assert(fused.except(comp).isEmpty && comp.except(fused).isEmpty)
  }

  test("fused SimHash64 equals the compositional signature form") {
    val texts = docs.limit(50).select(col("text"))
      .union(Seq("", "  ", "\tTab  separated\twords\t", "ONE word",
        "ümlauts ÉTÉ straße").toDF("text"))
    val got = texts.select(
      graft.functions.SimHash64.of(col("text")).as("f"),
      Dedup.simhash64(col("text")).as("c")).collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("fused RhpBandKeys equals the compositional signature/banding form") {
    val e = embs.limit(100).select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val fused = e.select(col("vec_id"),
      graft.functions.RhpBandKeys.of(col("v"), 64, 32, 8).as("k"))
    val comp = e.select(col("vec_id"),
      Similarity.bandKeys(Similarity.rhpSignature(col("v"), 64, 32), 32, 8).as("k"))
    assert(fused.except(comp).isEmpty && comp.except(fused).isEmpty)
  }

  test("banded embedding near-dup recalls the exact pairs, no false positives") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    // plant a +0.05-perturbed twin per vector (cosine vs the original
    // stays near 1) so true near-dup pairs exist
    val corpus = e.union(e.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.05)).as("embedding")))
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.embeddingNearDups(corpus, corpus, 0.9))
    val lsh = pairSet(Similarity.nearDupPairsEmbedding(corpus, 0.9, dims = 64))
    assert(exact.nonEmpty, "ground truth is empty — the test corpus is broken")
    // the verify stage is exact cosine, so every reported pair is true
    assert((lsh -- exact).isEmpty, s"false positives: ${(lsh -- exact).take(5)}")
    val recall = (exact & lsh).size.toDouble / exact.size
    // deterministic planes -> a fixed number; guards regressions
    // (measured 0.95 with the default 24x16-bit banding)
    assert(recall >= 0.9, s"banded embedding dedup recall $recall")
    info(f"embedding near-dup recall $recall%.2f (${exact.size} true pairs)")
  }

  test("lsh and ivf topk recall against brute force") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, q, 5))
    val lsh   = pairs(Similarity.lshTopK(e, q, 5, dims = 64))
    val ivf   = pairs(Similarity.ivfTopK(e, q, 5, nCells = 8, nprobe = 4))
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    // deterministic planes/centroids -> these are fixed numbers; the
    // assertion guards regressions, not statistics (measured: lsh 0.94
    // with 1-bit multi-probe — up from 0.36 single-probe — and ivf 0.84
    // with Lloyd-refined centroids)
    assert(lshRecall >= 0.85, s"lsh recall $lshRecall")
    assert(ivfRecall >= 0.7, s"ivf recall $ivfRecall")
    info(f"lsh recall $lshRecall%.2f, ivf recall $ivfRecall%.2f")
  }

  test("language id picks the marker language") {
    val df = Seq(
      ("en", "the cat and the dog is in the house of the king"),
      ("de", "der hund und die katze ist das beste der welt und der rest"),
      ("fr", "le chien et la fille est les amis et le chat est la"),
      ("und", "xyzzy plugh qwerty")).toDF("expected", "text")
    val got = df.select(col("expected"), TextAnalysis.langId(col("text")).as("got"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.foreach { case (exp, act) => assert(act === exp, s"langid $exp -> $act") }
  }

  test("PII scrub redacts emails, IPv4s and long digit runs, leaves prose") {
    val r = Seq("mail a.b+c@x-y.co.uk, host 192.168.0.1, acct 123456789, " +
      "short 12345 and v1.2 stay").toDF("text")
      .select(TextAnalysis.scrubPii(col("text")).as("s"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.piiEmailRe).as("e"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.piiIpv4Re).as("i"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.piiLongNumRe).as("n"))
      .head()
    assert(r.getString(0) ===
      "mail <EMAIL>, host <IP>, acct <NUM>, short 12345 and v1.2 stay")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((1L, 1L, 1L)))
  }

  test("token counts and quality are sane") {
    val r = Seq("The quick brown fox, and the lazy dog!").toDF("text")
      .select(
        TextAnalysis.wsTokenCount(col("text")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bp"),
        TextAnalysis.stopwordHits(lower(col("text"))).as("sh"),
        TextAnalysis.qualityScore(col("text")).as("q")).head()
    assert(r.getLong(0) === 8L)
    assert(r.getLong(1) === 10L) // 8 words + comma + bang
    assert(r.getLong(2) === 3L)  // lowered: "the" twice + "and"
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
  }

  test("StreamingDedup: two-batch E2E, cross-batch pairs via persisted state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("sd_state").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("sd_pairs").toString
    val ckDir    = java.nio.file.Files.createTempDirectory("sd_ck").toString
    val sd = new StreamingDedup(spark, stateDir, "doc_id", "text")
    sd.seed(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different reference text about spark streaming state"))
      .toDF("doc_id", "text"))
    val mem = MemoryStream[(Long, String)]
    val q = sd.attach(mem.toDF().toDF("doc_id", "text"), pairsDir, ckDir).start()
    // batch 1: a dup of seeded doc 1 + a novel doc
    mem.addData(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "novel batch one document about minhash banding and buckets"))
    q.processAllAvailable()
    // batch 2: a dup of BATCH-1's novel doc (cross-batch, only findable
    // because admitted batches fold into the state) + another novel doc
    mem.addData(
      (201L, "novel batch one document about minhash banding and buckets"),
      (202L, "another unrelated fresh document mentioning nothing shared here"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 101L), (102L, 201L)))
    assert(pairs.forall(_._3 === 1.0)) // exact copies -> jaccard 1
    // state now holds seed + both batches — one row per doc with NO
    // read-time dedup (batch=<id> dirs are overwrite-idempotent)
    assert(spark.read.parquet(s"$stateDir/shingles").count() === 6)
  }

  test("PQ: planted twin surfaces at rank 1; decent recall vs brute force") {
    val corpus = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // plant an exact copy of vector 3 under a fresh id: ADC must keep it
    // in the candidate set and the exact re-rank must put it at rank 1
    val twin = corpus.filter(col("vec_id") === 3L)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val c2 = corpus.union(twin)
    val queries = c2.filter(col("vec_id") === 3L)
    val pq = Similarity.pqTopK(c2, queries, k = 5).collect()
      .sortBy(_.getInt(3))
    assert(pq.head.getLong(1) === 900003L, s"twin not rank 1: ${pq.toSeq}")
    assert(pq.head.getDouble(2) > 0.9999)
    // recall@5 vs exact brute force over 20 queries
    val q20 = corpus.filter(col("vec_id") < 20)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteForceTopK(corpus, q20, k = 5))
    val approx = sets(Similarity.pqTopK(corpus, q20, k = 5))
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & approx(q)).size.toDouble / 5).sum / exact.size
    assert(recall >= 0.5, s"pq recall@5 too low: $recall")
    // trained books reused via the WithBooks path answer identically
    val books = Similarity.trainPq(corpus, m = 8, k = 16)
    val again = Similarity.pqTopKWithBooks(corpus, q20, 5, books).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === Similarity.pqTopK(corpus, q20, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the chunked multi-generate path (large query batches) is a
    // physical knob only: lutChunk=4 forces 5 chunks over the pinned
    // code table and must answer bit-identically to the single chunk
    val chunked = Similarity.pqTopKWithBooks(corpus, q20, 5, books,
        lutChunk = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = Similarity.pqTopKWithBooks(corpus, q20, 5, books).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(chunked === single)
  }

  test("PqIndex: saved + reloaded codebooks answer identically") {
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    val corpus = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val trained = Similarity.trainPq(corpus, m = 8, k = 16)
    Similarity.PqIndex.save(trained, spark, dir)
    val loaded = Similarity.PqIndex.load(spark, dir)
    assert(loaded.subDims === trained.subDims && loaded.m === trained.m)
    assert(loaded.books.map(_.cells.map(c => (c._1, c._2.toSeq))) ===
      trained.books.map(_.cells.map(c => (c._1, c._2.toSeq))))
    val q = corpus.filter(col("vec_id") < 5)
    def res(b: Similarity.PqCodebooks) =
      Similarity.pqTopKWithBooks(corpus, q, 5, b).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = res(loaded)
    assert(r === res(trained) && r.nonEmpty)
  }

  test("pqTopKWithBooks accepts a non-long id column (cast before LUT collect)") {
    // an int id column must not ClassCastException on the driver-side
    // getLong when the per-query LUTs are built
    val corpus = embs.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val books = Similarity.trainPq(corpus, m = 8, k = 16)
    val out = Similarity.pqTopKWithBooks(corpus,
      corpus.filter(col("vec_id") < 3), 5, books).collect()
    assert(out.nonEmpty && out.forall(_.getLong(0) < 3))
  }

  test("IvfIndex: saved + reloaded index answers identically to the trained one") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val trained = Similarity.trainCentroids(embs, nCells = 8)
    Similarity.IvfIndex.save(trained, spark, dir)
    val loaded = Similarity.IvfIndex.load(spark, dir)
    assert(loaded.cells.map(c => (c._1, c._2.toSeq)) ===
      trained.cells.map(c => (c._1, c._2.toSeq)))
    val queries = embs.limit(5)
    def res(c: Similarity.Centroids) =
      Similarity.ivfTopKWithIndex(embs, queries, k = 10, c, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res(loaded) === res(trained))
    assert(res(loaded).nonEmpty)
  }

  test("IvfIndex.saveAssigned: partition-pruned query path answers identically") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_inv").toString
    val trained = Similarity.trainCentroids(embs, nCells = 8)
    Similarity.IvfIndex.saveAssigned(embs, trained, dir)
    val queries = embs.limit(5)
    val live = Similarity.ivfTopKWithIndex(embs, queries, k = 10, trained,
        nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val persisted = Similarity.ivfTopKFromIndex(spark, dir, queries, k = 10,
        nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(persisted === live)
    assert(persisted.nonEmpty)
    // clustered write: exactly one data file per cell partition
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"${d.getName} has $n data files — write not clustered")
    }
  }

  test("IvfIndex.appendAssigned: append == rebuild-on-union; one new file " +
      "per touched cell; existing files untouched") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val trained = Similarity.trainCentroids(evens, nCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    Similarity.IvfIndex.saveAssigned(evens, trained, dir)
    def cellFiles(d: String): Map[String, Set[String]] =
      new java.io.File(s"$d/cells").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(f => f.getName -> f.listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
        .toMap
    val before = cellFiles(dir)
    Similarity.IvfIndex.appendAssigned(odds, dir)
    val after = cellFiles(dir)
    // every pre-existing file survives the append untouched
    before.foreach { case (cell, files) =>
      assert(files.subsetOf(after.getOrElse(cell, Set.empty)),
        s"append rewrote files in $cell")
    }
    // the append lands AT MOST one new file per cell (clustered write),
    // and at least one cell genuinely grew
    val grown = after.map { case (cell, files) =>
      files.size - before.getOrElse(cell, Set.empty).size
    }
    assert(grown.forall(_ <= 1), s"append not clustered: $after")
    assert(grown.exists(_ == 1), "append wrote nothing")
    // identity: the appended index answers exactly like an index REBUILT
    // from scratch on the union under the SAME frozen centroids
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_app2").toString
    Similarity.IvfIndex.saveAssigned(e, trained, dir2)
    val queries = e.filter(col("vec_id") < 10)
    def answers(d: String) =
      Similarity.ivfTopKFromIndex(spark, d, queries, k = 10, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val appended = answers(dir)
    assert(appended === answers(dir2))
    assert(appended.nonEmpty)
  }

  test("ivfPqTopK: IVFADC composition — twin at rank 1, decent recall vs " +
      "brute force, empty batch short-circuits") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.IvfPqIndex.save(e,
      Similarity.trainCentroids(e, nCells = 8),
      Similarity.trainPq(e, m = 8, k = 16), dir)
    val q20 = e.filter(col("vec_id") < 20)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteForceTopK(e, q20, k = 5))
    val approx = sets(
      Similarity.ivfPqTopK(spark, dir, q20, k = 5, nprobe = 4, rerank = 8))
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & approx.getOrElse(q, Set.empty)).size.toDouble / 5)
      .sum / exact.size
    // deterministic centroids/codebooks -> a fixed number; the bound
    // guards regressions (composition loses vs pure PQ only through the
    // probed-cell restriction, which nprobe=4 of 8 mostly covers)
    assert(recall >= 0.5, s"ivfpq recall@5 too low: $recall")
    info(f"ivfpq recall@5 $recall%.2f")
    // a query whose exact twin lives in its own cell must surface at
    // rank 1 through ADC + re-rank (self is excluded, twin is not)
    val twin = e.filter(col("vec_id") === 3L)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq2").toString
    val e2 = e.union(twin)
    Similarity.IvfPqIndex.save(e2,
      Similarity.trainCentroids(e2, nCells = 8),
      Similarity.trainPq(e2, m = 8, k = 16), dir2)
    val top = Similarity.ivfPqTopK(spark, dir2,
        e2.filter(col("vec_id") === 3L), k = 5).collect()
      .sortBy(_.getInt(3))
    assert(top.head.getLong(1) === 900003L, s"twin not rank 1: ${top.toSeq}")
    assert(top.head.getDouble(2) > 0.9999)
    // empty query batch -> empty result, no scan, no failure
    assert(Similarity.ivfPqTopK(spark, dir, q20.limit(0), k = 5).count() === 0L)
    assert(Similarity.ivfTopKFromIndex(spark, dir, q20.limit(0), k = 5)
      .count() === 0L)
  }

  test("IvfPqIndex.append: append == rebuild-on-union under frozen " +
      "centroids AND codebooks; clustered file layout") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val cent = Similarity.trainCentroids(evens, nCells = 8)
    val books = Similarity.trainPq(evens, m = 8, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    Similarity.IvfPqIndex.save(evens, cent, books, dir)
    def cellFiles(d: String): Map[String, Set[String]] =
      new java.io.File(s"$d/cells").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(f => f.getName -> f.listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
        .toMap
    val before = cellFiles(dir)
    Similarity.IvfPqIndex.append(odds, dir)
    val after = cellFiles(dir)
    before.foreach { case (cell, files) =>
      assert(files.subsetOf(after.getOrElse(cell, Set.empty)),
        s"append rewrote files in $cell")
    }
    val grownPq = after.map { case (c, fs) =>
      fs.size - before.getOrElse(c, Set.empty).size
    }
    assert(grownPq.forall(_ <= 1), s"append not clustered: $after")
    assert(grownPq.exists(_ == 1), "append wrote nothing")
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_app2").toString
    Similarity.IvfPqIndex.save(e, cent, books, dir2)
    val queries = e.filter(col("vec_id") < 10)
    def answers(d: String) =
      Similarity.ivfPqTopK(spark, d, queries, k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val appended = answers(dir)
    assert(appended === answers(dir2))
    assert(appended.nonEmpty)
  }

  test("bandBitsFor: band width tracks corpus size and divides nBits") {
    // the r14 measured points: 16-bit bands fine at ~200K vectors,
    // quadratic at 2M where 32-bit ran linear at identical recall
    assert(Similarity.bandBitsFor(1000) === 16)
    assert(Similarity.bandBitsFor(40000) === 24)
    assert(Similarity.bandBitsFor(2000000) === 32)
    assert(Similarity.bandBitsFor(1L << 40) === 32) // capped: keys are longs
    // width divides the signature and never shrinks as n grows
    val widths = (0 to 36).map(p => Similarity.bandBitsFor(1L << p))
    widths.foreach(w => assert(384 % w === 0, s"width $w !| 384"))
    assert(widths === widths.sorted, s"not monotone: $widths")
    // custom signature sizes constrain to their own divisors
    assert(256 % Similarity.bandBitsFor(2000000, nBits = 256) === 0)
  }

  test("SharesEarlierBand: int-narrowed prefixes decide identically to long " +
      "(the r19 band-exchange key narrowing is result-invariant)") {
    // every (lks, rks, band) case that can flip the predicate: match at
    // an earlier index, match exactly AT band (must NOT count), no match,
    // band 0 (empty prefix)
    val cases = Seq(
      (Seq(5L, 9L, 7L), Seq(5L, 1L, 2L), 2, true), // idx 0 match
      (Seq(5L, 9L, 7L), Seq(4L, 9L, 2L), 2, true), // idx 1 match
      (Seq(5L, 9L, 7L), Seq(4L, 1L, 7L), 2, false), // match only AT band
      (Seq(5L, 9L, 7L), Seq(4L, 1L, 2L), 2, false), // no match
      (Seq(5L, 9L, 7L), Seq(5L, 9L, 7L), 0, false)) // empty prefix
    def via(df: org.apache.spark.sql.DataFrame, toInt: Boolean): Boolean = {
      def side(c: org.apache.spark.sql.Column) =
        if (toInt) transform(c, _.cast(IntegerType)) else c
      df.select(graft.functions.SharesEarlierBand.of(
        side(col("l")), side(col("r")), col("b")).as("x"))
        .head().getBoolean(0)
    }
    cases.foreach { case (l, r, b, want) =>
      val df = Seq((l, r, b)).toDF("l", "r", "b")
      assert(via(df, toInt = false) === want, s"long path: ($l, $r, $b)")
      assert(via(df, toInt = true) === want, s"int path: ($l, $r, $b)")
    }
    // WHY the intKeys guard is bandBits <= 32: keys that differ only
    // above bit 32 truncate to a false "earlier match" on the int path —
    // the widths where that can happen must stay on the long path
    val wide = Seq((Seq(0x100000005L, 9L), Seq(5L, 9L), 1))
      .toDF("l", "r", "b")
    assert(via(wide, toInt = false) === false, "long sees the high bits")
    assert(via(wide, toInt = true) === true,
      "truncation aliases >32-bit keys — exactly what the guard forbids")
    // mixed widths refuse at analysis time instead of reading garbage
    val mixed = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(5L), Seq(5L), 1)).toDF("l", "r", "b")
        .select(graft.functions.SharesEarlierBand.of(
          transform(col("l"), _.cast(IntegerType)), col("r"), col("b")))
        .collect()
    }
    assert(mixed.getMessage.toLowerCase.contains("shares_earlier_band"),
      mixed.getMessage)
  }

  test("RhpBandKeys intKeys emits exactly the truncated long keys " +
      "(codegen int kernel == (int) of the long fold)") {
    val vecs = Seq(
      (1L, Seq.fill(64)(0.13)),
      (2L, (0 until 64).map(d => math.sin(d + 1)).toSeq),
      (3L, (0 until 64).map(d => -0.5 + 0.031 * d).toSeq))
      .toDF("vec_id", "embedding")
    Seq(16, 32).foreach { bb =>
      val both = vecs.select(
        graft.functions.RhpBandKeys.of(col("embedding"), 64, 384, bb).as("l"),
        graft.functions.RhpBandKeys.of(col("embedding"), 64, 384, bb,
          intKeys = true).as("i"))
        .collect()
      both.foreach { row =>
        val l = row.getSeq[Long](0)
        val i = row.getSeq[Int](1)
        assert(i === l.map(_.toInt), s"bandBits=$bb")
      }
    }
    // int keys are refused where truncation could alias (bandBits > 32)
    val ex = intercept[IllegalArgumentException](
      graft.functions.RhpBandKeys.of(col("x"), 64, 384, 48, intKeys = true))
    assert(ex.getMessage.contains("bandBits <= 32"), ex.getMessage)
  }

  test("embedding banding refuses measured-quadratic widths when expectedN " +
      "is passed; silent defaults unchanged for explicit callers") {
    val e = Seq((1L, Seq.fill(64)(0.1)), (2L, Seq.fill(64)(0.2)))
      .toDF("vec_id", "embedding")
    // 2M vectors at 16-bit bands = occupancy ~30, the measured-quadratic
    // point — refused loudly, message names the rule that derives a
    // safe width
    val ex = intercept[IllegalArgumentException](
      Similarity.nearDupPairsEmbedding(e, threshold = 0.75, dims = 64,
        bandBits = 16, expectedN = Some(2000000L)))
    assert(ex.getMessage.contains("bandBitsFor"), ex.getMessage)
    assert(ex.getMessage.contains("quadratic"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      Similarity.nearDupsAgainstEmbedding(e, e, threshold = 0.75, dims = 64,
        bandBits = 16, expectedN = Some(2000000L)))
    assert(ex2.getMessage.contains("bandBitsFor"), ex2.getMessage)
    // 200K at 16 bits measured FINE (occupancy ~3): accepted
    Similarity.nearDupPairsEmbedding(e, threshold = 0.75, dims = 64,
      bandBits = 16, expectedN = Some(200000L)).queryExecution.executedPlan
    // no expectedN -> no guard: the r15 contract for explicit callers
    Similarity.nearDupPairsEmbedding(e, threshold = 0.75, dims = 64,
      bandBits = 16).queryExecution.executedPlan
  }

  test("StreamingPhashDedup: cross-batch fingerprint pairs accumulate; " +
      "replay-idempotent; survives compaction; collapse folds cliques") {
    import graft.streaming.StreamingPhashDedup
    val stateDir = java.nio.file.Files.createTempDirectory("spd").toString
    val spd = new StreamingPhashDedup(spark, stateDir, "asset_id", "fp")
    spd.seed(Seq((1L, 0x1234567890abcdefL)).toDF("asset_id", "fp"))
    // batch 0: an exact fingerprint twin + a 2-bit neighbor; both pair
    // with the SEED only (the band join is strictly state x batch, so
    // no intra-batch pair)
    val b0 = Seq((101L, 0x1234567890abcdefL), (102L, 0x1234567890abcdecL))
      .toDF("asset_id", "fp")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        (if (r.length > 3) (r.getLong(3), r.getLong(4)) else (1L, 1L)))
      .sortBy(p => (p._1._1, p._1._2)).toSeq
    val first = snap(spd.admit(b0, 0L))
    assert(first === Seq((1L, 101L, 0) -> (1L, 1L), (1L, 102L, 2) -> (1L, 1L)))
    // crash-after-append replay reproduces the identical pairs and the
    // state holds one exploded row set per asset (3 assets x 4 bands)
    assert(snap(spd.admit(b0, 0L)) === first)
    assert(spark.read.parquet(s"$stateDir/fps").count() === 12L)
    spd.compact(upTo = 0L)
    // batch 1 re-admits the seed fingerprint: its two state versions
    // (seed id 1, batch-0 id 101) FOLD to one pair at the all-time
    // representative (min id) with the multiplicity summed — the
    // collapse-first default's representative contract
    val second = snap(spd.admit(
      Seq((201L, 0x1234567890abcdefL)).toDF("asset_id", "fp"), 1L))
    assert(second === Seq((1L, 201L, 0) -> (2L, 1L),
      (102L, 201L, 2) -> (1L, 1L)))
    // a far fingerprint (no shared band) pairs with nothing
    val third = snap(spd.admit(
      Seq((301L, 0x0fedcba987654321L)).toDF("asset_id", "fp"), 2L))
    assert(third.isEmpty)
    // an in-batch clique (3 copies of the hot fingerprint) enters the
    // band join as ONE representative and emits ONE pair carrying both
    // multiplicities: state side 3 (seed + b0 + b1), batch side 3
    val clique = Seq((401L, 0x1234567890abcdefL),
      (402L, 0x1234567890abcdefL), (403L, 0x1234567890abcdefL))
      .toDF("asset_id", "fp")
    val fourth = snap(spd.admit(clique, 3L))
    assert(fourth === Seq((1L, 401L, 0) -> (3L, 3L),
      (102L, 401L, 2) -> (1L, 3L)))
    // wideRecall geometry is a state param: reopening with different
    // params must refuse loudly
    val other = new StreamingPhashDedup(spark, stateDir, "asset_id", "fp",
      maxHamming = 7, wideRecall = true)
    val e = intercept[IllegalArgumentException](other.admit(b0, 4L))
    assert(e.getMessage.contains("different parameters"), e.getMessage)
    // ... and so is collapseBatch itself (the state layouts differ)
    val rawOnCollapsed = new StreamingPhashDedup(spark, stateDir,
      "asset_id", "fp", collapseBatch = false)
    val e2 = intercept[IllegalArgumentException](rawOnCollapsed.admit(b0, 4L))
    assert(e2.getMessage.contains("different parameters"), e2.getMessage)
  }

  test("StreamingPhashDedup raw mode: the r15 per-asset pair form verbatim") {
    import graft.streaming.StreamingPhashDedup
    val stateDir = java.nio.file.Files.createTempDirectory("spdraw").toString
    val spd = new StreamingPhashDedup(spark, stateDir, "asset_id", "fp",
      collapseBatch = false)
    spd.seed(Seq((1L, 0x1234567890abcdefL)).toDF("asset_id", "fp"))
    val b0 = Seq((101L, 0x1234567890abcdefL), (102L, 0x1234567890abcdecL))
      .toDF("asset_id", "fp")
    def snap(df: org.apache.spark.sql.DataFrame) = {
      assert(df.columns.toSeq === Seq("ref_id", "new_id", "hamming"))
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(identity).toSeq
    }
    assert(snap(spd.admit(b0, 0L)) === Seq((1L, 101L, 0), (1L, 102L, 2)))
    // every state version pairs separately (no fp fold), every clique
    // member pairs separately (no batch collapse) — m state copies x
    // k batch copies = m*k pairs, the documented raw cost
    val clique = Seq((201L, 0x1234567890abcdefL),
      (202L, 0x1234567890abcdefL)).toDF("asset_id", "fp")
    assert(snap(spd.admit(clique, 1L)) === Seq(
      (1L, 201L, 0), (1L, 202L, 0), (101L, 201L, 0), (101L, 202L, 0),
      (102L, 201L, 2), (102L, 202L, 2)))
  }

  test("StreamingDedup: a replayed batch emits exactly the clean run's pairs") {
    import graft.streaming.StreamingDedup
    val stateDir = java.nio.file.Files.createTempDirectory("sd_rp").toString
    val sd = new StreamingDedup(spark, stateDir, "doc_id", "text")
    sd.seed(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"))
    // the batch contains TWO near-identical docs: a clean run emits no
    // (101,103) pair (the band join is strictly state x fresh)
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (103L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val first = sd.admit(batch, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(first.toSeq === Seq((1L, 101L), (1L, 103L)))
    // crash-after-state-append replay: batch 0's delta already landed,
    // but a replay of batch 0 reads state strictly < 0 (the seed) and
    // OVERWRITES its own delta — so it reproduces the clean pairs (no
    // self-pairs, no batch-vs-batch pairs) and the state has no doubled
    // rows afterwards
    val replay = sd.admit(batch, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(replay.toSeq === first.toSeq,
      s"replay diverged: clean=${first.toSeq} replay=${replay.toSeq}")
    assert(spark.read.parquet(s"$stateDir/shingles").count() === 3)
  }

  test("StreamingReplacingMerge: upsert, stale ignore, replay-idempotent") {
    import graft.streaming.StreamingReplacingMerge
    val stateDir = java.nio.file.Files.createTempDirectory("srm").toString
    val srm = new StreamingReplacingMerge(spark, stateDir,
      "k", "ver", Seq("v"))
    srm.seed(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "ver", "v"))
    // batch 0: newer update for key 1, stale update for key 2, new key 3;
    // key 1 also carries an intra-batch stale row the fold must drop
    val b0 = Seq((1L, 11L, "a2"), (1L, 5L, "old"), (2L, 19L, "stale"),
      (3L, 30L, "c")).toDF("k", "ver", "v")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "ver", "v", "prev_ver", "changed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(_._1).toSeq
    val first = snap(srm.admit(b0, 0L))
    assert(first === Seq(
      (1L, 11L, "a2", 10L, true),   // upserted
      (2L, 20L, "b", 20L, false),   // stale — standing row intact
      (3L, 30L, "c", -1L, true)))   // first-seen
    // crash-after-append replay reproduces the identical changelog
    assert(snap(srm.admit(b0, 0L)) === first)
    // batch 1 sees batch 0's state: key 3 upserts again
    val second = snap(srm.admit(Seq((3L, 31L, "c2")).toDF("k", "ver", "v"), 1L))
    assert(second === Seq((3L, 31L, "c2", 30L, true)))
    // file compaction preserves the view for later batches
    srm.compact(upTo = 1L)
    val third = snap(srm.admit(Seq((3L, 29L, "late")).toDF("k", "ver", "v"), 2L))
    assert(third === Seq((3L, 31L, "c2", 31L, false)))
  }

  test("StreamingReplacingMerge: MemoryStream E2E changelog dirs") {
    import graft.streaming.StreamingReplacingMerge
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("srm_e2e").toString
    val srm = new StreamingReplacingMerge(spark, s"$root/state",
      "k", "ver", Seq("v"))
    srm.seed(Seq((1L, 10L, "a")).toDF("k", "ver", "v"))
    val ms = MemoryStream[(Long, Long, String)]
    val q = srm.attach(ms.toDF.toDF("k", "ver", "v"), s"$root/out",
      s"$root/ckpt").start()
    try {
      ms.addData((1L, 12L, "a2")); q.processAllAvailable()
      ms.addData((1L, 11L, "late"), (2L, 20L, "b")); q.processAllAvailable()
    } finally q.stop()
    val out0 = spark.read.parquet(s"$root/out/batch=0")
      .select("k", "ver", "changed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out0 === Seq((1L, 12L, true)))
    val out1 = spark.read.parquet(s"$root/out/batch=1")
      .select("k", "ver", "changed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(out1 === Seq((1L, 12L, false), (2L, 20L, true)))
  }

  test("StreamingRetention: flags accumulate monotonically; anchor in a " +
      "LATER batch re-gates earlier follow-ups; replay-idempotent") {
    import graft.streaming.StreamingRetention
    val stateDir = java.nio.file.Files.createTempDirectory("sret").toString
    val sr = new StreamingRetention(spark, stateDir, "user_id", Seq(
      "anchor" -> (col("event_type") === "signup"),
      "came_back" -> (col("event_type") === "visit")))
    sr.seed(Seq.empty[(Long, String)].toDF("user_id", "event_type"))
    // batch 0: user 1 visits BEFORE signing up (no anchor yet)
    val b0 = Seq((1L, "visit")).toDF("user_id", "event_type")
    val r0 = sr.admit(b0, 0L).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(r0 === Map(1L -> (0, 0)))
    // batch 1: the signup lands — accumulated flags now gate through
    val b1 = Seq((1L, "signup"), (2L, "visit")).toDF("user_id", "event_type")
    val first = sr.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(first === Map(1L -> (1, 1), 2L -> (0, 0)), s"got $first")
    // crash-after-append replay reproduces identical rows
    val replay = sr.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(replay === first)
  }

  test("StreamingWindowFunnel: chains span batch boundaries within the " +
      "window; expired tails cannot; replay-idempotent") {
    import graft.streaming.StreamingWindowFunnel
    val stateDir = java.nio.file.Files.createTempDirectory("swf").toString
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val swf = new StreamingWindowFunnel(spark, stateDir,
      "user_id", "ts", "event_type", Seq("a", "b", "c"), windowSec = 10)
    swf.seed(Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type"))
    // batch 0: user 1 starts a chain at t=100; user 2's start at t=0 will
    // be long expired by batch 1
    val b0 = Seq((1L, ts(100), "a"), (1L, ts(102), "b"),
      (2L, ts(0), "a"), (2L, ts(1), "b")).toDF("user_id", "ts", "event_type")
    val r0 = swf.admit(b0, 0L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r0 === Map(1L -> 2, 2L -> 2))
    // batch 1: user 1 completes within the window ACROSS the boundary;
    // user 2's c lands far outside its old chain's window — level stays 2
    val b1 = Seq((1L, ts(105), "c"), (2L, ts(50), "c"))
      .toDF("user_id", "ts", "event_type")
    val first = swf.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(first === Map(1L -> 3, 2L -> 2), s"got $first")
    // crash-after-append replay of batch 1 reproduces the same levels
    val replay = swf.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(replay === first)
    // file compaction preserves state for later batches: user 2 can
    // still start fresh chains
    swf.compact(upTo = 1L)
    val r2 = swf.admit(Seq((2L, ts(60), "a"), (2L, ts(61), "b"),
        (2L, ts(62), "c")).toDF("user_id", "ts", "event_type"), 2L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r2 === Map(2L -> 3))
  }

  test("StreamingWindowFunnel: a boundary event at exactly maxTs - window " +
      "stays in the tail and can still seed a chain (inclusive window)") {
    import graft.streaming.StreamingWindowFunnel
    import graft.operators.EventAnalytics
    val stateDir = java.nio.file.Files.createTempDirectory("swfb").toString
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val swf = new StreamingWindowFunnel(spark, stateDir,
      "user_id", "ts", "event_type", Seq("a", "b", "c"), windowSec = 10)
    swf.seed(Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type"))
    // batch 0: a@100 sits at exactly maxTs(110) - window(10) after b@110
    // advances the user's max — an exclusive trim would drop it
    val b0 = Seq((1L, ts(100), "a"), (1L, ts(110), "b"))
      .toDF("user_id", "ts", "event_type")
    val r0 = swf.admit(b0, 0L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r0 === Map(1L -> 2), s"got $r0")
    // batch 1: c at exactly a@100's deadline completes the chain — level 3
    // iff the boundary seed survived the trim
    val b1 = Seq((1L, ts(110), "c")).toDF("user_id", "ts", "event_type")
    val r1 = swf.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r1 === Map(1L -> 3), s"got $r1")
    // matches the batch operator over the full history
    val full = EventAnalytics.windowFunnel(b0.union(b1), "user_id", "ts",
        "event_type", Seq("a", "b", "c"), windowSec = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full === r1, s"batch twin disagrees: $full vs $r1")
  }

  test("StreamingWindowFunnel strict_increase mode: cross-batch chains " +
      "obey the strict inequality; equals the batch operator") {
    import graft.streaming.StreamingWindowFunnel
    import graft.operators.EventAnalytics
    val stateDir = java.nio.file.Files.createTempDirectory("swfs").toString
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val swf = new StreamingWindowFunnel(spark, stateDir,
      "user_id", "ts", "event_type", Seq("a", "b", "c"), windowSec = 10,
      mode = "strict_increase")
    swf.seed(Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type"))
    // user 1: a@100 b@101; user 2: a@100 b@100 (equal ts — strict mode
    // rejects the b)
    val b0 = Seq((1L, ts(100), "a"), (1L, ts(101), "b"),
      (2L, ts(100), "a"), (2L, ts(100), "b"))
      .toDF("user_id", "ts", "event_type")
    val r0 = swf.admit(b0, 0L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r0 === Map(1L -> 2, 2L -> 1), s"got $r0")
    // batch 1: c@101 cannot complete user 1's chain (needs ts > 101);
    // c@105 can
    val b1 = Seq((1L, ts(101), "c"), (1L, ts(105), "c"))
      .toDF("user_id", "ts", "event_type")
    val r1 = swf.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r1 === Map(1L -> 3), s"got $r1")
    val full = EventAnalytics.windowFunnel(b0.union(b1), "user_id", "ts",
        "event_type", Seq("a", "b", "c"), windowSec = 10,
        mode = "strict_increase")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full(1L) === r1(1L), s"batch twin disagrees: $full vs $r1")
  }

  test("StreamingSummingMerge: sums accumulate across batches; crash-" +
      "replay never double-counts; accumulator width stays fixed") {
    import graft.streaming.StreamingSummingMerge
    val stateDir = java.nio.file.Files.createTempDirectory("ssm").toString
    val sm = new StreamingSummingMerge(spark, stateDir, "k", Seq("v"))
    sm.seed(Seq.empty[(Long, BigDecimal)].toDF("k", "v"))
    def dec(s: String) = new java.math.BigDecimal(s)
    val b0 = Seq((1L, BigDecimal("1.50")), (1L, BigDecimal("2.50")),
      (2L, BigDecimal("10.00"))).toDF("k", "v")
    val r0 = sm.admit(b0, 0L).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(r0(1L).compareTo(dec("4.00")) === 0)
    sm.compact(upTo = 0L)
    // key 1 touched AGAIN: the new total must be 4 + 5 = 9, not 13 (a
    // fold over both state rows would double-count batch 0)
    val b1 = Seq((1L, BigDecimal("5.00"))).toDF("k", "v")
    val r1 = sm.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(r1(1L).compareTo(dec("9.00")) === 0, s"got ${r1(1L)}")
    // crash-after-append replay reproduces the identical total
    val replay = sm.admit(b1, 1L).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(replay(1L).compareTo(dec("9.00")) === 0, s"got ${replay(1L)}")
    // a third touch reads the newest state row only
    val r2 = sm.admit(Seq((1L, BigDecimal("0.25")), (2L, BigDecimal("1.00")))
        .toDF("k", "v"), 2L).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(r2(1L).compareTo(dec("9.25")) === 0, s"got ${r2(1L)}")
    assert(r2(2L).compareTo(dec("11.00")) === 0, s"got ${r2(2L)}")
  }

  test("StreamingSubstringDedup: cross-batch shared-window pairs, " +
      "verified against real text, replay-idempotent") {
    import graft.streaming.StreamingSubstringDedup
    val stateDir = java.nio.file.Files.createTempDirectory("ssd").toString
    val ssd = new StreamingSubstringDedup(spark, stateDir,
      "doc_id", "text", k = 20)
    val span = "a shared verbatim window of twenty-plus characters"
    def pad(n: Int) = n.toString * 25 // doc-unique filler, no cross-doc runs
    ssd.seed(Seq((1L, s"seed doc ${pad(1)} $span"),
      (2L, s"unrelated ${pad(2)} material with nothing in common here"))
      .toDF("doc_id", "text"))
    // batch 0: one doc quoting the span, one clean
    val p0 = ssd.admit(Seq(
      (101L, s"first batch ${pad(3)} quoting: $span"),
      (102L, s"wholly novel content ${pad(4)} without any quotes at all"))
      .toDF("doc_id", "text"), 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(p0 === Seq((1L, 101L)))
    // batch 1 quotes the span AND batch 0's novel doc — pairs with the
    // seed and with batch 0's state, proving accumulation
    val b1 = Seq(
      (201L, s"second batch ${pad(5)} also quoting: $span"),
      (202L, s"copies wholly novel content ${pad(4)} without any quotes"))
      .toDF("doc_id", "text")
    val p1 = ssd.admit(b1, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(p1 === Seq((1L, 201L), (101L, 201L), (102L, 202L)))
    // crash replay of batch 1: state < 1 only, delta overwritten
    val rp = ssd.admit(b1, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rp === p1)
  }

  test("StreamingEmbeddingDedup: two-batch E2E, cross-batch vector pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingEmbeddingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("sed_state").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("sed_pairs").toString
    val ckDir    = java.nio.file.Files.createTempDirectory("sed_ck").toString
    def unit(axis: Int): Seq[Double] =
      (0 until 8).map(i => if (i == axis) 1.0 else 0.0)
    val sed = new StreamingEmbeddingDedup(spark, stateDir,
      "vec_id", "embedding", dims = 8, nBits = 64, bandBits = 8)
    sed.seed(Seq((1L, unit(0)), (2L, unit(1))).toDF("vec_id", "embedding"))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = sed.attach(mem.toDF().toDF("vec_id", "embedding"), pairsDir, ckDir)
      .start()
    mem.addData((101L, unit(0)), (102L, unit(2))) // dup of seed 1 + novel
    q.processAllAvailable()
    mem.addData((201L, unit(2)), (202L, unit(3))) // dup of batch-1 novel
    q.processAllAvailable()
    q.stop()
    val pairs = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 101L), (102L, 201L)))
    assert(pairs.forall(_._3 >= 0.999)) // identical unit vectors
  }

  test("StreamingSemanticDedup: cell-scoped admission against persisted state") {
    import graft.streaming.StreamingSemanticDedup
    val stateDir = java.nio.file.Files.createTempDirectory("ssd").toString
    val ssd = new StreamingSemanticDedup(spark, stateDir,
      "vec_id", "embedding", nCells = 4, threshold = 0.999)
    // seed on the real embeddings table so centroid training is realistic
    ssd.seed(embs)
    // batch 1: near-copy of corpus vector 0 (same direction, scaled) +
    // a far vector
    val v0 = embs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy("vec_id").limit(1)
      .collect()(0).getSeq[Double](1).toArray
    val batch1 = Seq(
      (900001L, v0.map(_ * 2.0).toSeq),
      (900002L, v0.map(x => -x).toSeq)) // anti-parallel: cos = -1
      .toDF("vec_id", "embedding")
    val p1 = ssd.admit(batch1, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1.contains((0L, 900001L)), s"scaled twin not found: $p1")
    assert(!p1.exists(_._2 == 900002L), "anti-parallel vector matched")
    // batch 2: a copy of batch-1's own vector -> cross-batch pair via the
    // folded state
    val batch2 = Seq((900003L, v0.map(_ * 2.0).toSeq)).toDF("vec_id", "embedding")
    val p2 = ssd.admit(batch2, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2.contains((900001L, 900003L)), s"cross-batch pair missing: $p2")
  }

  test("multimodal decode stub is deterministic with fixed width") {
    val assets = docs.limit(20)
      .select(col("doc_id").as("asset_id"), lit("text").as("modality"),
        lit("text/plain").as("mime"), col("text").cast(BinaryType).as("content"))
    val f1 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    val f2 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    assert(f1.length === 20)
    assert(f1.forall(_.features.length === Multimodal.DecodeStub.featureDim))
    assert(f1.zip(f2).forall { case (a, b) => a.features.sameElements(b.features) })
    assert(f1.forall(f => f.byte_len > 0))
  }

  test("sampleFrames: exact windows and byte sums, frames tile the payload") {
    import spark.implicits._
    // "abcdefghij" = bytes 97..106, len 10, 4 frames:
    //   offsets 0,2,5,7 -> windows [0,2) [2,5) [5,7) [7,10)
    val assets = Seq((1L, "abcdefghij"), (2L, "")).toDF("asset_id", "t")
      .select(col("asset_id"), lit("video").as("modality"),
        lit("b").as("mime"), col("t").cast(BinaryType).as("content"))
    val got = Multimodal.sampleFrames(assets, nFrames = 4).collect()
      .sortBy(f => (f.asset_id, f.frame_id))
    val a = got.filter(_.asset_id == 1L)
    assert(a.map(f => (f.offset, f.frame_len)).toSeq ===
      Seq((0L, 2L), (2L, 3L), (5L, 2L), (7L, 3L)))
    assert(a.map(_.frame_sum).toSeq ===
      Seq(97L + 98, 99L + 100 + 101, 102L + 103, 104L + 105 + 106))
    // frames tile: sums re-add to the whole payload
    assert(a.map(_.frame_sum).sum === (97 to 106).sum.toLong)
    // empty payload: 4 zero-length frames at offset 0
    val b = got.filter(_.asset_id == 2L)
    assert(b.length === 4)
    assert(b.forall(f => f.offset == 0L && f.frame_len == 0L && f.frame_sum == 0L))
  }

  test("syntheticAssets: REAL binary payloads with the documented edge lengths") {
    import spark.implicits._
    // ids chosen to hit every branch: 0 -> empty; 18 (%17=1) -> 2 bytes;
    // 2 (%17=2) -> 5000 bytes (> 64*64 resize budget); 40 -> (40*137)%997
    val assets = Seq(0L, 18L, 2L, 40L).toDF("asset_id")
    val rows = Multimodal.syntheticAssets(assets).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](3)).toMap
    assert(rows(0L).length === 0)
    assert(rows(18L).length === 2)
    assert(rows(2L).length === 5000)
    assert(rows(40L).length === ((40 * 137) % 997))
    // byte_j = (id*31 + j*7) mod 256, exact bytes (never a UTF-8 re-encode)
    assert(rows(18L).map(_ & 0xff).toSeq === Seq((18 * 31) % 256, (18 * 31 + 7) % 256))
    assert((rows(2L)(4999) & 0xff) === ((2 * 31 + 4999 * 7) % 256))
    // the pipeline stages accept the fixture end-to-end at the edges
    val fr = Multimodal.sampleFrames(Multimodal.syntheticAssets(assets), 4)
      .collect()
    assert(fr.length === 16)
    assert(fr.filter(_.asset_id == 0L).forall(_.frame_len == 0L))
    val th = Multimodal.resizeStub(Multimodal.syntheticAssets(assets), 64)
      .collect().map(t => t.asset_id -> t).toMap
    assert(th(2L).stride === 79L && th(2L).thumb_len <= 64L)
  }

  // reference implementation of the BMP fixture, plain Scala: the
  // Catalyst builder must produce these exact bytes
  private def refBmp(pixelId: Long, size: Int, noisy: Boolean): Array[Byte] = {
    val rowBytes = size * 3
    val imgBytes = rowBytes * size
    val bb = java.nio.ByteBuffer.allocate(54 + imgBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + imgBytes).putInt(0)
      .putInt(54).putInt(40).putInt(size).putInt(size)
      .putShort(1).putShort(24).putInt(0).putInt(imgBytes)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    for (rbu <- 0 until size; x <- 0 until size) {
      val y = size - 1 - rbu
      val xx = x * 8 / size
      val yy = y * 8 / size
      val d = if (noisy && xx == 1 && yy == 2) 40
        else if (noisy && xx == 5 && yy == 6) 60 else 0
      val base = pixelId * 31 + yy * 19 + xx * 7 + d
      bb.put((base % 256).toByte).put(((base * 3 + 11) % 256).toByte)
        .put(((base * 7 + 23) % 256).toByte)
    }
    bb.array()
  }

  test("bmpContent builds the exact BMP bytes; ImageIO decodes them exactly") {
    import spark.implicits._
    val got = Seq(0L, 7L).toDF("asset_id")
      .select(col("asset_id"),
        Multimodal.bmpContent(col("asset_id"), 8, lit(false)).as("content"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got(0L).toSeq === refBmp(0L, 8, noisy = false).toSeq)
    assert(got(7L).toSeq === refBmp(7L, 8, noisy = false).toSeq)
    val got16 = Seq(7L).toDF("asset_id")
      .select(Multimodal.bmpContent(col("asset_id"), 16, lit(false)))
      .collect()(0).getAs[Array[Byte]](0)
    val ref16 = refBmp(7L, 16, noisy = false)
    assert(got16.length === ref16.length)
    val diffs = got16.toSeq.zip(ref16.toSeq).zipWithIndex
      .filter(p => p._1._1 != p._1._2).take(6)
    assert(diffs.isEmpty, s"first 16x16 byte diffs (got, ref, idx): $diffs")
    // the real ImageIO path returns the encoded channels verbatim
    val Some((w, h, luma)) = Multimodal.ImageIoDecoder.decode(got(0L))
    assert((w, h) === ((8, 8)))
    // pixel (0,0) of id 0: B=0 G=11 R=23 -> (299*23 + 587*11) / 1000 = 13
    assert(luma(0) === 13)
    // pixel (7,7): base = 7*19 + 7*7 = 182 -> B=182 G=35... check exact
    val base = 7 * 19 + 7 * 7
    val expect = (299 * ((base * 7 + 23) % 256) + 587 * ((base * 3 + 11) % 256) +
      114 * (base % 256)) / 1000
    assert(luma(7 * 8 + 7) === expect)
  }

  test("decodeImages: 2x nearest-upscale twins dHash identically, junk drops") {
    import spark.implicits._
    val ids = Seq(3L, 4L, 5L).toDF("asset_id")
    // shift the id AFTER building content: a same-select shift would
    // lateral-alias into the pixel arithmetic (col("asset_id") resolves
    // to the just-aliased shifted column, not the input)
    def bmp(shift: Long, size: Int, noisy: Boolean) = ids
      .select(col("asset_id"),
        Multimodal.bmpContent(col("asset_id"), size, lit(noisy)).as("content"))
      .select((col("asset_id") + shift).as("asset_id"), col("content"))
    val base = bmp(0L, 8, noisy = false)
    val big = bmp(100L, 16, noisy = false)
    val junk = Seq(900L).toDF("asset_id")
      .select(col("asset_id"), lit("not an image").cast(BinaryType).as("content"))
    val dec = Multimodal.decodeImages(base.unionByName(big).unionByName(junk))
      .collect().map(d => d.asset_id -> d).toMap
    assert(dec.keySet === Set(3L, 4L, 5L, 103L, 104L, 105L), "junk must drop")
    for (id <- Seq(3L, 4L, 5L)) {
      assert(dec(id).dhash === dec(id + 100L).dhash,
        s"scale twin of $id must hash identically")
      assert(dec(id + 100L).width === 16 && dec(id).width === 8)
      // upscaled image has 4x the pixels of the same per-cell lumas
      assert(dec(id + 100L).gray_sum === 4L * dec(id).gray_sum)
    }
    // noise twins differ in a few gradient bits, not zero and under band
    // recall (<8): the phash near-dup must link them
    val noisy = bmp(200L, 8, noisy = true)
    val all = Multimodal.decodeImages(
      base.unionByName(big).unionByName(noisy)).toDF()
    // default clique-safe path: the hamming-0 scale twin COLLAPSES into
    // its base's clique (rep = min id, clique = 2) and only the noisy
    // twin pairs with the representative
    val pairs = Multimodal.imageNearDups(all, maxHamming = 6,
        wideRecall = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    for (id <- Seq(3L, 4L, 5L)) {
      assert(!pairs.exists(p => p._1 == id && p._2 == id + 100L),
        s"hamming-0 twin of $id must collapse, not pair: ${pairs.toSeq}")
      assert(pairs.exists(p => p._1 == id && p._2 == id + 200L &&
          p._3 > 0 && p._4 == 2L && p._5 == 1L),
        s"noisy pair of $id (rep clique 2) missing: ${pairs.toSeq}")
    }
    // raw mode (collapseIdentical = false) keeps the per-asset pair form
    val raw = Multimodal.imageNearDups(all, maxHamming = 6,
        wideRecall = true, collapseIdentical = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    for (id <- Seq(3L, 4L, 5L))
      assert(raw.exists(p => p._1 == id && p._2 == id + 100L && p._3 == 0),
        s"raw-mode exact scale pair $id missing: ${raw.toSeq}")
    // the scale-safe default (4×16-bit bands, maxHamming <= 3) keeps the
    // same collapse semantics, and thresholds needing wide recall must be
    // requested EXPLICITLY — the n²/64-candidate mode is never a default
    val tight = Multimodal.imageNearDups(all, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    for (id <- Seq(3L, 4L, 5L))
      assert(!tight.exists(p => p._1 == id && p._2 == id + 100L),
        s"default banding must collapse exact twins of $id: ${tight.toSeq}")
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDups(all, maxHamming = 6)
    }
  }

  test("decodeImages: PNG re-encode of the BMP pixels hashes identically") {
    // ImageIoDecoder handles any ImageIO-registered codec; every fixture
    // elsewhere is BMP, so push a COMPRESSED codec through the real path
    // once — PNG is lossless, so stats and dHash must match the BMP twin
    import spark.implicits._
    val ids = Seq(3L, 4L, 5L).toDF("asset_id")
    val bmps = ids.select(col("asset_id"),
        Multimodal.bmpContent(col("asset_id"), 8, lit(false)).as("content"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    val pngs = bmps.map { case (id, bytes) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos),
        "no PNG writer registered")
      (id + 100L) -> bos.toByteArray
    }
    assert(pngs.forall { case (_, b) => // really PNG, not a BMP pass-through
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' })
    val dec = Multimodal.decodeImages((bmps ++ pngs).toSeq
        .toDF("asset_id", "content"))
      .collect().map(d => d.asset_id -> d).toMap
    for ((id, _) <- bmps) {
      val b = dec(id)
      val p = dec(id + 100L)
      assert(p.dhash === b.dhash, s"PNG twin of $id hashed differently")
      assert(p.width === b.width && p.height === b.height)
      assert(p.gray_sum === b.gray_sum && p.gray_min === b.gray_min &&
        p.gray_max === b.gray_max)
    }
  }

  test("decodeAudio: gain twins fingerprint identically, junk drops, 8-bit parses") {
    import spark.implicits._
    val ids = Seq(3L, 4L, 5L).toDF("asset_id")
    def wav(shift: Long, gain: Int, noisy: Boolean, bits: Int = 16) = ids
      .select(col("asset_id"),
        Multimodal.wavContent(col("asset_id"), 260, gain, lit(noisy), bits)
          .as("content"))
      .select((col("asset_id") + shift).as("asset_id"), col("content"))
    val junk = Seq(900L).toDF("asset_id")
      .select(col("asset_id"), lit("not audio at all").cast(BinaryType).as("content"))
    val dec = Multimodal.decodeAudio(wav(0L, 1, noisy = false)
        .unionByName(wav(100L, 2, noisy = false))
        .unionByName(wav(200L, 1, noisy = false, bits = 8))
        .unionByName(junk))
      .collect().map(d => d.asset_id -> d).toMap
    assert(dec.keySet === Set(3L, 4L, 5L, 103L, 104L, 105L, 203L, 204L, 205L))
    // JVM-side reference of the fixture arithmetic, independent of Catalyst
    def ref16(id: Long, gain: Int): Array[Int] =
      Array.tabulate(260)(k =>
        (((id * 31 + k * (7 + id % 97)) % 2048) - 1024).toInt * gain)
    for (id <- Seq(3L, 4L, 5L)) {
      val d1 = dec(id); val d2 = dec(id + 100L); val d8 = dec(id + 200L)
      assert((d1.sample_rate, d1.channels, d1.n_samples) === ((8000, 1, 260L)))
      val r = ref16(id, 1)
      assert(d1.abs_sum === r.map(v => math.abs(v).toLong).sum)
      assert(d1.peak === r.map(math.abs).max)
      assert(d1.afp === Multimodal.audioFingerprint64(r))
      // a 2x-louder copy is volume-invariant under the gradient hash
      assert(d2.afp === d1.afp, s"gain twin of $id must hash identically")
      assert(d2.abs_sum === 2L * d1.abs_sum)
      // 8-bit path: unsigned bytes centered at 128
      val r8 = Array.tabulate(260)(k =>
        (((id * 31 + k * (7 + id % 97)) % 256) - 128).toInt)
      assert(d8.abs_sum === r8.map(v => math.abs(v).toLong).sum)
      assert(d8.afp === Multimodal.audioFingerprint64(r8))
    }
    // noisy twins flip a few gradient bits — near but not identical
    val all = Multimodal.decodeAudio(wav(0L, 1, noisy = false)
      .unionByName(wav(100L, 2, noisy = false))
      .unionByName(wav(300L, 1, noisy = true))).toDF()
    // default clique-safe path: the hamming-0 gain twin COLLAPSES into
    // its base's clique; the noisy twin pairs with the representative
    val pairs = Multimodal.audioNearDups(all, maxHamming = 7,
        wideRecall = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    for (id <- Seq(3L, 4L, 5L)) {
      assert(!pairs.exists(p => p._1 == id && p._2 == id + 100L),
        s"hamming-0 gain twin of $id must collapse, not pair: ${pairs.toSeq}")
      assert(pairs.exists(p => p._1 == id && p._2 == id + 300L &&
          p._3 > 0 && p._4 == 2L && p._5 == 1L),
        s"noisy pair of $id (rep clique 2) missing: ${pairs.toSeq}")
    }
    // raw mode keeps the per-asset pair form
    val raw = Multimodal.audioNearDups(all, maxHamming = 7,
        wideRecall = true, collapseIdentical = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    for (id <- Seq(3L, 4L, 5L))
      assert(raw.exists(p => p._1 == id && p._2 == id + 100L && p._3 == 0),
        s"raw-mode exact gain pair $id missing: ${raw.toSeq}")
  }

  test("WavDecoder: stereo mixdown sums channels; LIST/odd chunks walk; truncation clamps") {
    def le2(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le4(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    def fmtChunk(ch: Int, bits: Int) = ascii("fmt ") ++ le4(16) ++ le2(1) ++
      le2(ch) ++ le4(8000) ++ le4(8000 * ch * bits / 8) ++
      le2(ch * bits / 8) ++ le2(bits)
    // stereo 16-bit: frames (100,-30), (-5,7) -> mixdown (70, 2)
    val stereoData = le2(100) ++ le2(-30 & 0xffff) ++ le2(-5 & 0xffff) ++ le2(7)
    // an odd-size LIST chunk (3 bytes + pad) sits BEFORE fmt/data
    val body = ascii("LIST") ++ le4(3) ++ Array[Byte](1, 2, 3, 0) ++
      fmtChunk(2, 16) ++ ascii("data") ++ le4(stereoData.length) ++ stereoData
    val wav = ascii("RIFF") ++ le4(4 + body.length) ++ ascii("WAVE") ++ body
    val got = Multimodal.WavDecoder.decode(wav)
    assert(got.isDefined, "stereo WAV with LIST chunk must parse")
    assert(got.get.channels === 2 && got.get.samples.toSeq === Seq(70, 2))
    // truncated data chunk: declared 8 bytes, only 6 present -> 1 full
    // stereo frame survives, the partial tail frame drops
    val trunc = wav.dropRight(2)
    assert(Multimodal.WavDecoder.decode(trunc).get.samples.toSeq === Seq(70))
    // non-PCM format refuses
    val bad = ascii("RIFF") ++ le4(4 + body.length) ++ ascii("WAVE") ++
      (ascii("LIST") ++ le4(3) ++ Array[Byte](1, 2, 3, 0) ++
        (ascii("fmt ") ++ le4(16) ++ le2(3) ++ le2(2) ++ le4(8000) ++
          le4(8000 * 4) ++ le2(4) ++ le2(16)) ++
        ascii("data") ++ le4(stereoData.length) ++ stereoData)
    assert(Multimodal.WavDecoder.decode(bad).isEmpty, "float WAV must refuse")
  }

  test("decodeVideoFrames: AVI demux matches ImageIO cross-codec; copies and noisy twins link") {
    import spark.implicits._
    val ids = Seq(3L, 4L).toDF("asset_id")
    def avi(shift: Long, noisy: Boolean) = ids
      .select(col("asset_id"),
        Multimodal.aviContent(col("asset_id"), 10, 8, lit(noisy)).as("content"))
      .select((col("asset_id") + shift).as("asset_id"), col("content"))
    val junk = Seq(900L).toDF("asset_id")
      .select(col("asset_id"), lit("RIFFnope").cast(BinaryType).as("content"))
    val frames = Multimodal.decodeVideoFrames(avi(0L, noisy = false)
      .unionByName(junk)).collect()
    assert(frames.forall(_.asset_id != 900L), "junk must drop")
    assert(frames.count(_.asset_id == 3L) === 10)
    // cross-codec consistency: frame f of video v carries pixel id
    // v*131 + f*17 under bmpContent's cell formula, so the SAME id
    // rendered as a BMP and decoded through REAL ImageIO must produce
    // the identical luma stats and dHash as the raw-DIB AVI path
    val bmpTwin = Multimodal.decodeImages(
      Seq(3L * 131 + 7L * 17).toDF("asset_id")
        .select(col("asset_id"),
          Multimodal.bmpContent(col("asset_id"), 8, lit(false)).as("content")))
      .collect().head
    val f7 = frames.find(f => f.asset_id == 3L && f.frame_id == 7).get
    assert((f7.gray_sum, f7.dhash) === ((bmpTwin.gray_sum, bmpTwin.dhash)),
      "AVI raw-DIB decode must equal ImageIO BMP decode of the same pixels")
    // near-dup: byte-identical copy at +100 matches every frame slot at
    // hamming 0; the noisy copy at +200 bumps frames 0 and 5 but must
    // still clear an 80% match bar
    val all = Multimodal.decodeVideoFrames(avi(0L, noisy = false)
      .unionByName(avi(100L, noisy = false))
      .unionByName(avi(200L, noisy = true))).toDF()
    // default clique-safe path: the byte-identical copy shares the full
    // frame-hash sequence and COLLAPSES into its base's clique; only the
    // noisy copy pairs with the representative (clique_a = 2)
    val pairs = Multimodal.videoNearDups(all, maxHamming = 6,
        minMatchPct = 80, wideRecall = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    for (id <- Seq(3L, 4L)) {
      assert(!pairs.contains((id, id + 100L)),
        s"identical copy of $id must collapse, not pair: $pairs")
      assert(pairs.get((id, id + 200L)).exists(t =>
          t._1 >= 8L && t._4 == 2L && t._5 == 1L),
        s"noisy pair $id must match >= 8 of 10 slots at clique 2: $pairs")
    }
    // different source videos must NOT link
    assert(!pairs.contains((3L, 4L)) && !pairs.contains((3L, 104L)), s"$pairs")
    // raw mode keeps the per-asset pair form (copy pair at 10/10 slots)
    val raw = Multimodal.videoNearDups(all, maxHamming = 6,
        minMatchPct = 80, wideRecall = true, collapseIdentical = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (id <- Seq(3L, 4L))
      assert(raw.get((id, id + 100L)).contains(10L),
        s"raw-mode exact copy pair $id missing or partial: $raw")
  }

  test("AviDemuxer: truncated tail frame drops; non-DIB refuses") {
    import spark.implicits._
    val full = Seq(1L).toDF("asset_id")
      .select(Multimodal.aviContent(col("asset_id"), 3, 8).as("c"))
      .collect().head.getAs[Array[Byte]](0)
    val v = Multimodal.AviDemuxer.demux(full).get
    assert(v.width === 8 && v.height === 8 && v.frames.length === 3)
    assert(v.usPerFrame === 40000)
    // chop mid-way through the last frame: demux clamps, decode drops it
    val torn = java.util.Arrays.copyOf(full, full.length - 50)
    assert(Multimodal.AviDemuxer.demux(torn).get.frames.length === 3)
    val decoded = Multimodal.decodeVideoFrames(
      Seq((1L, torn)).toDF("asset_id", "content"))
    assert(decoded.collect().map(_.frame_id).sorted.toSeq === Seq(0, 1))
    // flip strf compression to non-BI_RGB: refuse (we only decode raw DIB)
    val bad = full.clone()
    val strfAt = {
      var i = 0
      while (!(bad(i) == 's' && bad(i + 1) == 't' && bad(i + 2) == 'r' &&
        bad(i + 3) == 'f')) i += 1
      i
    }
    bad(strfAt + 8 + 16) = 1 // biCompression = BI_RLE8
    assert(Multimodal.AviDemuxer.demux(bad).isEmpty)
  }

  test("sceneChanges: static scenes cut exactly at their boundaries") {
    import spark.implicits._
    // sceneLen=4 over 10 frames: scenes [0..3][4..7][8..9] -> cuts at 0,4,8
    val avi = Seq(7L).toDF("asset_id")
      .select(col("asset_id"),
        Multimodal.aviContent(col("asset_id"), 10, 8, lit(false), sceneLen = 4)
          .as("content"))
    val frames = Multimodal.decodeVideoFrames(avi).toDF()
    val got = Multimodal.sceneChanges(frames, maxHamming = 2)
      .orderBy(col("frame_id")).collect()
      .map(r => (r.getInt(1), if (r.isNullAt(3)) -1 else r.getInt(3),
        r.getBoolean(4)))
    assert(got.length === 10)
    assert(got.filter(_._3).map(_._1).toSeq === Seq(0, 4, 8),
      s"cuts: ${got.toSeq}")
    // within a scene frames are pixel-identical: hamming 0
    assert(got.filter(t => !t._3).forall(_._2 === 0), s"${got.toSeq}")
  }

  test("audioWindows/audioSegments: a muted quarter splits the track in two") {
    import spark.implicits._
    val assets = Seq(3L, 4L).toDF("asset_id")
      .select(col("asset_id"),
        Multimodal.wavContent(col("asset_id"), 260, mute = lit(true))
          .as("content"))
    val win = Multimodal.audioWindows(assets).toDF()
    assert(win.count() === 130) // 2 assets x 65 windows
    val segs = Multimodal.audioSegments(win, silencePctOfMean = 25)
      .orderBy(col("asset_id"), col("start_window")).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3)))
    // reference segmentation from the fixture arithmetic alone: the
    // muted quarter ([130,195)) silences windows 33..47 outright, and
    // slow sawtooths ALSO dip under the bar at zero crossings — the
    // reference reproduces exactly that, so the assertion pins the run
    // semantics, not a hand-guessed window list
    def refSegs(id: Long): Seq[(Long, Int, Int)] = {
      val v = Array.tabulate(260) { k =>
        if (k >= 130 && k < 195) 0L
        else math.abs(((id * 31 + k * (7 + id % 97)) % 2048) - 1024)
      }
      val e = Array.tabulate(65)(j => (j * 4 until (j + 1) * 4).map(v).sum)
      val total = e.sum
      val silent = e.map(x => x * 65 * 100 < 25L * total)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
      var j = 0
      while (j < 65) {
        if (!silent(j)) {
          val s = j
          while (j < 65 && !silent(j)) j += 1
          out += ((id, s, j - 1))
        } else j += 1
      }
      out.toSeq
    }
    assert(segs.toSeq === (refSegs(3L) ++ refSegs(4L)), s"${segs.toSeq}")
    // the muted gap itself is always one silent run: no segment may
    // overlap windows 33..47
    assert(segs.forall(s => s._3 < 33 || s._2 > 47), s"${segs.toSeq}")
    // windows stay recomputable: per-window energies sum to total_abs
    val tot = win.groupBy(col("asset_id"))
      .agg(sum(col("energy")).as("s"), max(col("total_abs")).as("t"))
      .collect()
    assert(tot.forall(r => r.getLong(1) === r.getLong(2)))
  }

  test("resizeStub: stride budget holds, sampled sums exact") {
    import spark.implicits._
    val long = "x" * 130 // stride ceil(130/64)=3 -> samples 0,3,...,129 = 44
    val assets = Seq((1L, "abcd"), (2L, long)).toDF("asset_id", "t")
      .select(col("asset_id"), lit("image").as("modality"),
        lit("b").as("mime"), col("t").cast(BinaryType).as("content"))
    val got = Multimodal.resizeStub(assets, maxBytes = 64).collect()
      .sortBy(_.asset_id)
    val a = got(0) // len 4 < 64 -> stride 1, every byte sampled
    assert((a.stride, a.thumb_len, a.thumb_sum) === ((1L, 4L, (97L + 98 + 99 + 100))))
    val b = got(1)
    assert(b.stride === 3L)
    assert(b.thumb_len === 44L)
    assert(b.thumb_len <= 64L)
    assert(b.thumb_sum === 44L * 'x'.toLong)
  }

  test("bloom semi-join returns exactly the plain semi-join's rows") {
    import graft.operators.BloomPrune
    val probe = docs.select(col("doc_id"), col("text"))
    val build = docs.filter(col("doc_id") % 7 === 0).select(col("text"))
    val exact = probe.join(build.distinct(), Seq("text"), "left_semi")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // an aggressively high fpp maximizes false-positive pressure on the
    // verify join — the answer must still be exact
    val got = BloomPrune.semiJoin(probe, col("text"), build, col("text"),
        fpp = 0.5)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(got.sameElements(exact))
  }

  test("bloom prefilter never false-drops a key that was added") {
    import graft.operators.BloomPrune
    val keys = docs.select(col("text"))
    val bloom = BloomPrune.bloomOf(keys, col("text"), 500, fpp = 0.01)
    val dropped = docs
      .filter(!BloomPrune.mightContain(bloom, col("text"))).count()
    assert(dropped === 0)
  }

  test("substring dedup equals the brute-force 40-char-window join") {
    val base = docs.select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val span = base.filter(col("doc_id") === 5)
      .select(substring(col("text"), 7, 60).as("span"))
    val planted = base.filter(col("doc_id") === 42).crossJoin(span)
      .select(lit(90001L).as("doc_id"),
        concat(col("text"), lit(" "), col("span")).as("text"))
    val corpus = base.union(planted)
    val got = Dedup.substringDupPairs(corpus, "doc_id", "text", k = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side brute force over the REAL substrings
    val all = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val byGram = scala.collection.mutable.HashMap.empty[String, Set[Long]]
    for ((id, t) <- all; i <- 0 to t.length - 40)
      byGram.updateWith(t.substring(i, i + 40))(s => Some(s.getOrElse(Set.empty) + id))
    val brute = (for {
      ids <- byGram.valuesIterator; a <- ids; b <- ids if a < b
    } yield (a, b)).toSet
    assert(got === brute)
    assert(got.contains((5L, 90001L)) && got.contains((42L, 90001L)))
  }

  test("winnowed substring dedup: subset of exact, guaranteed above k+w-1") {
    val base = docs.select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val span = base.filter(col("doc_id") === 5)
      .select(substring(col("text"), 7, 60).as("span"))
    val planted = base.filter(col("doc_id") === 42).crossJoin(span)
      .select(lit(90001L).as("doc_id"),
        concat(col("text"), lit(" "), col("span")).as("text"))
    val corpus = base.union(planted)
    val exact = Dedup.substringDupPairs(corpus, "doc_id", "text", k = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val win = Dedup.substringDupPairsWinnowed(corpus, "doc_id", "text",
        k = 40, w = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(win.subsetOf(exact))
    // the planted 60-char span is >= k+w-1 = 49: winnowing must catch it
    assert(win.contains((5L, 90001L)) && win.contains((42L, 90001L)))
  }

  test("kernel gram dedup equals the groupBy(id,h1,h2) min-pos witness " +
      "normal form at both densities") {
    import graft.functions.CharGramHashes
    // repeated boilerplate makes real within-doc duplicate grams
    val texts = Seq(
      (1L, "the same header line repeats " * 6 + "then a unique tail xyz"),
      (2L, "abcabcabcabcabcabcabcabcabcabcabcabcabcabcabcabcabc"),
      (3L, "short"),
      (4L, ""))
      .toDF("doc_id", "text")
    def viaKernel(c: org.apache.spark.sql.Column) = texts
      .select(col("doc_id"), explode(c).as("hh"))
      .select(col("doc_id"), col("hh.h1"), col("hh.h2"),
        (col("hh.p0") + 1).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    def viaGroupBy(rows: org.apache.spark.sql.DataFrame) = rows
      .groupBy(col("doc_id"), col("h1"), col("h2"))
      .agg(min(col("pos")).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val denseRaw = texts.select(col("doc_id"),
        posexplode(CharGramHashes.of(col("text"), 12)).as(Seq("p0", "hh")))
      .select(col("doc_id"), col("hh.h1").as("h1"), col("hh.h2").as("h2"),
        (col("p0") + 1).cast("long").as("pos"))
    assert(viaKernel(CharGramHashes.ofDistinct(col("text"), 12)) ===
      viaGroupBy(denseRaw))
    val winRaw = texts.select(col("doc_id"),
        explode(CharGramHashes.winnowed(col("text"), 12, 5)).as("hh"))
      .select(col("doc_id"), col("hh.h1").as("h1"), col("hh.h2").as("h2"),
        (col("hh.p0") + 1).as("pos"))
    assert(viaKernel(CharGramHashes.winnowedDistinct(col("text"), 12, 5)) ===
      viaGroupBy(winRaw))
    // the dedup is not a no-op on these corpora: raw grams genuinely repeat
    assert(denseRaw.count() >
      denseRaw.select("doc_id", "h1", "h2").distinct().count())
  }

  test("substring dedup positions survive astral (non-BMP) characters") {
    // an emoji is ONE code point but TWO UTF-16 units: if gram positions
    // counted UTF-16 units the verify substr would re-extract shifted
    // windows and drop every true pair behind an astral char
    val emoji = new String(Character.toChars(0x1F600))
    val shared = "this exact forty-character span is shared!" // 42 chars
    val corpus = Seq(
      (1L, s"$emoji$emoji leading astral pair then $shared"),
      (2L, s"plain ascii prefix text and then $shared"),
      (3L, s"$emoji unrelated ${emoji}body with no shared window at all"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDupPairs(corpus, "doc_id", "text", k = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  test("winnowing selects every shared >=k+w-1 span, at ~2/(w+1) density") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.CharGramHashes
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) = rnd.alphanumeric.take(n).mkString
    val shared = randStr(49) // exactly k+w-1 with k=40, w=10
    for (_ <- 1 to 20) {
      val a = randStr(rnd.nextInt(100)) + shared + randStr(rnd.nextInt(100))
      val b = randStr(rnd.nextInt(100)) + shared + randStr(rnd.nextInt(100))
      def keys(s: String) = {
        val arr = CharGramHashes.winnow(UTF8String.fromString(s), 40, 10)
        (0 until arr.numElements()).map { i =>
          val st = arr.getStruct(i, 3); (st.getLong(0), st.getLong(1))
        }.toSet
      }
      assert(keys(a).intersect(keys(b)).nonEmpty,
        s"no shared winnow fingerprint for span-sharing pair:\n$a\n$b")
    }
    val long = randStr(2000)
    val nSel = CharGramHashes.winnow(UTF8String.fromString(long), 40, 10)
      .numElements()
    val nAll = 2000 - 40 + 1
    assert(nSel < nAll / 3, s"winnow kept $nSel of $nAll grams")
  }

  test("edit-distance fuzzy join equals brute-force levenshtein <= 2") {
    val d = docs.filter(col("doc_id") < 120)
      .select(col("doc_id"), lower(substring(col("text"), 1, 14)).as("k"))
    val mut = d.filter(col("doc_id") < 30)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(substring(col("k"), 1, 2), lit("zz"),
          substring(col("k"), 6, 100)).as("k")) // 2 subs + 1 del = dist<=3
    val c = d.union(mut)
    val got = Dedup.nearDupPairsEdit(c, "doc_id", "k", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val all = c.collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, ka) <- all; (ib, kb) <- all if ia < ib
      dd = lev(ka, kb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(got === brute)
    assert(brute.nonEmpty)
  }

  test("char entropy: known vectors and prose band") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.CharEntropy
    def h(s: String) = CharEntropy.compute(UTF8String.fromString(s))
    assert(h("aaaaaaaa") === 0.0)
    assert(math.abs(h("abababab") - 1.0) < 1e-12)
    assert(math.abs(h("abcdabcd") - 2.0) < 1e-12)
    assert(h("") === 0.0)
    // non-BMP path: two distinct code points, equal counts -> 1 bit
    assert(math.abs(h(new String(Character.toChars(0x1F600)) +
      new String(Character.toChars(0x1F601))) - 1.0) < 1e-12)
    val prose = docs.select(
        graft.functions.CharEntropy.of(col("text")).as("e"))
      .agg(min(col("e")), max(col("e"))).head()
    assert(prose.getDouble(0) > 2.5 && prose.getDouble(1) < 6.0)
  }

  test("contaminatedDocsBloom matches contaminatedDocs") {
    val bench = docs.filter(col("doc_id") < 20)
    val exact = TextAnalysis
      .contaminatedDocs(docs, "doc_id", "text", bench, "text")
      .collect().map(_.getLong(0)).sorted
    val got = TextAnalysis
      .contaminatedDocsBloom(docs, "doc_id", "text", bench, "text")
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(exact))
  }

  test("StreamingVersionedCollapsing: cancels pair per (key, version); " +
      "tombstones fold a second cancel; replay-idempotent") {
    import graft.streaming.StreamingVersionedCollapsing
    val stateDir = java.nio.file.Files.createTempDirectory("svc").toString
    val svc = new StreamingVersionedCollapsing(spark, stateDir,
      "k", "sign", "ver", Seq("p"))
    svc.seed(Seq.empty[(Long, Int, Long, String)].toDF("k", "sign", "ver", "p"))
    type Out = (Long, Boolean, Option[String])
    def run(rows: Seq[(Long, Int, Long, String)], b: Long) =
      svc.admit(rows.toDF("k", "sign", "ver", "p"), b).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getBoolean(3), Option(r.getString(4))): Out))
        .toMap
    // batch 0: two versions of key 1, one of key 2
    val r0 = run(Seq((1L, 1, 1L, "a1"), (1L, 1, 2L, "a2"),
      (2L, 1, 5L, "b5")), 0L)
    assert(r0((1L, 1L)) === ((1L, true, Some("a1"))))
    assert(r0((1L, 2L)) === ((1L, true, Some("a2"))))
    svc.compact(upTo = 0L)
    // batch 1: cancel ONLY (1, ver 1) — ver 2 must stay untouched (not
    // even emitted), which plain Collapsing (no version) would get wrong
    val r1 = run(Seq((1L, -1, 1L, "a1")), 1L)
    assert(r1 === Map((1L, 1L) -> ((0L, false, None: Option[String]))))
    // batch 2: a SECOND cancel of the collapsed version must fold
    // against the net-0 tombstone (net -1), and a cancel for a never-
    // seen (key, version) lands at net -1 with the cancel's payload
    val b2 = Seq((1L, -1, 1L, "a1"), (2L, -1, 9L, "b9"))
    val r2 = run(b2, 2L)
    assert(r2((1L, 1L)) === ((-1L, true, Some("a1"))))
    assert(r2((2L, 9L)) === ((-1L, true, Some("b9"))))
    // crash-after-append replay reproduces the identical view
    assert(run(b2, 2L) === r2)
    // batch 3: re-assertion of the doubly-cancelled version folds
    // -1 + 1 = 0, not a resurrected +1
    val r3 = run(Seq((1L, 1, 1L, "a1")), 3L)
    assert(r3((1L, 1L))._1 === 0L)
  }

  test("ivfPqTopK auto-chunks past maxDriverQueries: identical rows to " +
      "the single-batch run, per-chunk driver cost bounded") {
    val e = embs.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_chunk").toString
    Similarity.IvfPqIndex.save(e,
      Similarity.trainCentroids(e, nCells = 8),
      Similarity.trainPq(e, m = 8, k = 16), dir)
    val q20 = e.filter(col("vec_id") < 20)
    def rows(maxDq: Int) =
      Similarity.ivfPqTopK(spark, dir, q20, k = 5, nprobe = 4, rerank = 8,
          maxDriverQueries = maxDq)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val single = rows(10000)
    assert(single.nonEmpty)
    // 20 queries at maxDriverQueries=6 -> 4 exact slices; the union of
    // per-chunk top-k must BE the single-batch answer (chunks partition
    // the query ids), scores and ranks included
    assert(rows(6) === single)
    // chunk boundary exactly at the batch size: still one chunk's answer
    assert(rows(20) === single)
  }

  test("minhash verify fingerprints: hashed-set jaccard is value-identical " +
      "to string-set jaccard on real corpus pairs; SetJaccardLong keeps " +
      "set (distinct) semantics") {
    import graft.functions.SetJaccardLong
    val sh = docs.limit(40)
      .select(col("doc_id"), WordShingles.of(col("text"), 3).as("s"))
    val both = sh.as("x").crossJoin(sh.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        SetJaccard.of(col("x.s"), col("y.s")).as("js"),
        SetJaccardLong.of(
          transform(col("x.s"), v => xxhash64(v)),
          transform(col("y.s"), v => xxhash64(v))).as("jh"))
    assert(both.count() > 100)
    assert(both.filter(col("js") =!= col("jh")).count() === 0,
      "hashed jaccard diverged from string jaccard (a 64-bit collision " +
        "on the tiny test corpus would be astronomically unlikely — " +
        "this is a logic bug)")
    // dup values inside one input count once (set semantics), empty
    // union scores 0.0 — matching SetJaccard's documented contract
    val lits = spark.range(1).select(
      SetJaccardLong.of(
        array(lit(1L), lit(1L), lit(2L)), array(lit(2L), lit(3L))).as("d"),
      SetJaccardLong.of(
        array().cast("array<bigint>"), array().cast("array<bigint>")).as("e"))
      .head()
    assert(math.abs(lits.getDouble(0) - 1.0 / 3.0) < 1e-12)
    assert(lits.getDouble(1) === 0.0)
  }

  test("hamming band occupancy needs no refusal guard: the hamming " +
      "filter pushes BELOW the pair-distinct exchange, so uniform " +
      "candidates die in codegen before any materialization (the " +
      "probed reason the embedding occupancy rule does not transfer)") {
    // the structural fact behind the BENCHNOTES r17 sweep (32M distinct
    // fps = occupancy ~488/bucket in 52 s, near-linear): verification
    // is join-local — pin that the executed plan filters hamming before
    // the distinct's exchange, not after it
    val fps = (0 until 64).map(i => (i.toLong, i.toLong * 1789L))
      .toDF("asset_id", "dhash")
    val p = Multimodal.imageNearDups(fps, maxHamming = 3)
      .queryExecution.executedPlan.toString
    // the bit_count(...) <= maxHamming predicate must sit IN the join
    // operator's condition (candidates die inside the join, before the
    // Project and the pair-distinct exchange above it)
    val joinLine = p.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.contains("bit_count"),
      s"hamming predicate no longer fused into the band join:\n$p")
  }

  test("bandedHammingPairs maxBucketSize: hot bucket excluded both " +
      "sides — pairs sharing ONLY that bucket are dropped (the " +
      "documented bounded-recall trade), others survive via their " +
      "other bands") {
    val base = 0x1234_5678_9ABC_0042L
    // p and q differ by exactly one bit in each of bands 1..3 (hamming
    // 3) — their ONLY shared band is band 0
    val p = base
    val q = base ^ (1L << 16) ^ (1L << 32) ^ (1L << 48)
    // 20 fillers share p's band-0 key but carry a DISTINCT offset in
    // each of bands 1..3 (x >= 2 never collides with q's single-bit
    // flips), so only the band-0 bucket goes hot — the other buckets
    // stay at 1-2 members
    val filler = (0 until 20).map { i =>
      val x = (i + 2).toLong
      (100L + i, base ^ (x << 16) ^ (x << 32) ^ (x << 48))
    }
    val corpus = ((1L, p) +: (2L, q) +: filler).toDF("asset_id", "dhash")
    def pairs(cap: Int) =
      Multimodal.imageNearDups(corpus, maxHamming = 3, maxBucketSize = cap)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    assert(pairs(0).contains((1L, 2L)), "uncapped must find the pair")
    // cap 10 < 22 members: the band-0 bucket is excluded, and (p, q)
    // share no other band — dropped, exactly the documented trade
    assert(!pairs(10).contains((1L, 2L)),
      "capped hot bucket must exclude pairs that share only it")
    // a pair with a shared NON-hot band survives the same cap
    val r = base ^ (1L << 16) // hamming 1: shares bands 2, 3 with p
    val corpus2 = corpus.union(Seq((3L, r)).toDF("asset_id", "dhash"))
    val withR = Multimodal.imageNearDups(corpus2, maxHamming = 3,
        maxBucketSize = 10)
      .select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    assert(withR.contains((1L, 3L)),
      s"pair sharing cold bands must survive the cap: $withR")
  }

  test("StreamingSubstringDedup state layout: dense dirs keep int32 pos " +
      "(the pre-kernel layout), winnowed dirs int64 — appended batches " +
      "never lay a conflicting parquet schema next to old files") {
    import graft.streaming.StreamingSubstringDedup
    def posType(w: Int): org.apache.spark.sql.types.DataType = {
      val dir = java.nio.file.Files.createTempDirectory(s"ssd_pos_$w")
      val ssd = new StreamingSubstringDedup(spark, dir.toString,
        "doc_id", "text", k = 8, w = w)
      ssd.seed(Seq((1L, "abcdefghijklmnop")).toDF("doc_id", "text"))
      import scala.jdk.CollectionConverters._
      val parquet = java.nio.file.Files.walk(dir.resolve("grams"))
        .iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      spark.read.parquet(parquet.toString).schema("pos").dataType
    }
    assert(posType(1) === IntegerType)
    assert(posType(2) === LongType)
  }

  test("pageRank size gate: the driver-local small-graph path and the " +
      "distributed big-graph path rank bit-identically (exact integer " +
      "arithmetic on both)") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    def ranks(threshold: Long) =
      Graph.pageRank(edges, pinEdgeThreshold = threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val small = ranks(1000000L) // 5 edges < threshold: driver-local
    val big = ranks(0L)         // forces the distributed pinned loop
    assert(small === big)
    assert(small.size === 4)
    // a failed ranking (empty graph) must not leak persisted blocks:
    // compare against the pre-call set — the suite's other operators
    // (and localCheckpoint) legitimately hold persistent RDDs
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[IllegalArgumentException](Graph.pageRank(
      Seq.empty[(Long, Long)].toDF("src", "dst")))
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"pageRank leaked persisted RDDs on the failure path: $leaked")
  }

  test("pageRank: a failure BETWEEN pins releases every persisted frame " +
      "(the r17 leak: pins ran before the try)") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // fail the SECOND pin's count job: nodes is persisted+counted, eDeg
    // persisted but never filled — both (and e) must release in finally
    var calls = 0
    Graph.prePinHook = () => {
      calls += 1
      if (calls == 2) throw new RuntimeException("injected between pins")
    }
    try {
      val e = intercept[RuntimeException](
        Graph.pageRank(edges, pinEdgeThreshold = 0L))
      assert(e.getMessage === "injected between pins")
    } finally Graph.prePinHook = () => ()
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"pageRank leaked persisted RDDs after a failed pin: $leaked")
  }

  test("pageRank: malformed (null) edges drop identically on both paths") {
    import graft.operators.Graph
    // an uncastable src yields null after cast('long'); pre-gate both
    // paths must see the same (cleaned) edge set — the local loop used
    // to NPE on Row.getLong while the distributed one kept a null node
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("oops", "1"))
      .toDF("src", "dst")
    def ranks(threshold: Long) =
      Graph.pageRank(edges, pinEdgeThreshold = threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = ranks(1000000L)
    val dist = ranks(0L)
    assert(local === dist)
    assert(local.keySet === Set(1L, 2L, 3L), s"null edge leaked: $local")
  }

  test("incremental minhash (fingerprint verify) matches the string-set " +
      "jaccard recomputation pair-for-pair") {
    val ref = docs.filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") < 60)
      .select((col("doc_id") + 10000).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(regexp_replace(col("text"), "^\\S+", "zzzz")).as("text"))
    val got = Dedup.nearDupsAgainstMinhash(ref, fresh, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    // recompute every reported pair's jaccard over the STRING shingle
    // sets (the form the DuckDB oracle replays)
    val shRef = ref.select(col("doc_id").as("rid"),
      WordShingles.of(col("text"), 3).as("sr"))
    val shNew = fresh.select(col("doc_id").as("nid"),
      WordShingles.of(col("text"), 3).as("sn"))
    val stringJ = shRef.crossJoin(shNew)
      .select(col("rid"), col("nid"), SetJaccard.of(col("sr"), col("sn")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    got.foreach { case (pair, jh) =>
      assert(jh === stringJ(pair),
        s"fingerprint jaccard diverged from string jaccard on $pair")
    }
  }
}
