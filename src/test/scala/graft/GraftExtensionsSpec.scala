package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sampling, Similarity, TextAnalysis}

/** The SQL-callable operator surface: every registered function resolves
  * from `spark.sql`, and each computes exactly what its Column-API twin
  * computes (registration adds names, never a second code path).
  */
class GraftExtensionsSpec extends AnyFunSuite with LocalSpark {

  private lazy val docsView: Unit =
    Tables(spark, "/root/testdata/sf0.001").documents
      .limit(50).createOrReplaceTempView("docs")
  private lazy val embsView: Unit =
    Tables(spark, "/root/testdata/sf0.001").embeddings
      .limit(50).createOrReplaceTempView("embs")

  test("every registered function resolves in SQL") {
    docsView
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct.size === names.size)
    for (n <- names)
      assert(spark.catalog.functionExists(n), s"$n not registered")
  }

  test("SQL text functions match their Column-API twins") {
    docsView
    val sql = spark.sql(
      """SELECT doc_id,
        |  graft_fingerprint(text) AS fp,
        |  graft_lang_id(text) AS lang,
        |  graft_quality_score(text) AS q,
        |  graft_gopher_keep(text) AS keep,
        |  graft_scrub_pii(text) AS scrubbed,
        |  graft_token_count(text) AS n,
        |  graft_simhash64(text) AS sh,
        |  graft_set_jaccard(graft_word_shingles(text, 3),
        |                    graft_word_shingles(text, 3)) AS self_jac,
        |  graft_minhash_sig(graft_word_shingles(text, 3), 8) AS sig,
        |  graft_normalize_url('HTTPS://WWW.Example.ORG:443/a/?utm_source=x&b=2&a=1#f') AS nu,
        |  graft_strip_html('<p>A &amp; B</p><script>x()</script>') AS sh2,
        |  graft_fingerprint_nfc(text) AS fpn,
        |  graft_char_entropy(text) AS ent,
        |  graft_luhn_valid('4111111111111111') AS luhn,
        |  graft_card_candidates('pay 4111111111111111 now') AS cards,
        |  graft_ari(text) AS ari
        |FROM docs""".stripMargin)
    val api = spark.table("docs").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.gopherKeep(col("text")).as("keep"),
      TextAnalysis.scrubPii(col("text")).as("scrubbed"),
      TextAnalysis.wsTokenCount(col("text")).as("n"),
      graft.functions.SimHash64.of(col("text")).as("sh"),
      graft.functions.SetJaccard.of(
        graft.functions.WordShingles.of(col("text"), 3),
        graft.functions.WordShingles.of(col("text"), 3)).as("self_jac"),
      graft.functions.MinHashSig.of(
        graft.functions.WordShingles.of(col("text"), 3), 8).as("sig"),
      TextAnalysis.normalizeUrl(
        lit("HTTPS://WWW.Example.ORG:443/a/?utm_source=x&b=2&a=1#f")).as("nu"),
      TextAnalysis.stripHtml(
        lit("<p>A &amp; B</p><script>x()</script>")).as("sh2"),
      TextAnalysis.fingerprintNfc(col("text")).as("fpn"),
      graft.functions.CharEntropy.of(col("text")).as("ent"),
      TextAnalysis.luhnValid(lit("4111111111111111")).as("luhn"),
      TextAnalysis.cardCandidates(lit("pay 4111111111111111 now")).as("cards"),
      TextAnalysis.ariScore(col("text")).as("ari"))
    assert(sql.exceptAll(api).count() === 0)
    assert(api.exceptAll(sql).count() === 0)
  }

  test("SQL hash/vector/timestamp functions match their twins") {
    embsView
    val sql = spark.sql(
      """SELECT vec_id,
        |  graft_cosine(CAST(embedding AS ARRAY<DOUBLE>),
        |               CAST(embedding AS ARRAY<DOUBLE>)) AS cos_self,
        |  graft_vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                CAST(embedding AS ARRAY<DOUBLE>)) AS dot_self,
        |  graft_md5_lo(CAST(vec_id AS STRING)) AS lo,
        |  graft_md5_hi(CAST(vec_id AS STRING)) AS hi,
        |  graft_xxhash64_go(CAST(vec_id AS STRING)) AS xx,
        |  graft_hash_bucket(vec_id) AS bucket,
        |  graft_hash_bucket(vec_id, 100) AS bucket100
        |FROM embs""".stripMargin)
    val v = col("embedding").cast("array<double>")
    val api = spark.table("embs").select(col("vec_id"),
      Similarity.cosine(v, v).as("cos_self"),
      graft.functions.VecDot.of(v, v).as("dot_self"),
      graft.functions.PortableHash.md5Lo(col("vec_id").cast("string")).as("lo"),
      graft.functions.PortableHash.md5Hi(col("vec_id").cast("string")).as("hi"),
      graft.functions.GoHash.goXxHash64(col("vec_id").cast("string")).as("xx"),
      Sampling.hashBucket(col("vec_id")).as("bucket"),
      Sampling.hashBucket(col("vec_id"), 100).as("bucket100"))
    assert(sql.exceptAll(api).count() === 0)
    assert(api.exceptAll(sql).count() === 0)
  }

  test("auto timestamp parses in SQL, honoring the zone argument") {
    val r = spark.sql(
      """SELECT graft_auto_timestamp('2019-12-16 12:10:30') AS utc,
        |       graft_auto_timestamp('2019-12-16 12:10:30', 'Asia/Shanghai') AS cst,
        |       graft_auto_timestamp('not a date') AS bad""".stripMargin).head()
    assert(r.getTimestamp(0).toInstant.toString === "2019-12-16T12:10:30Z")
    assert(r.getTimestamp(1).toInstant.toString === "2019-12-16T04:10:30Z")
    assert(r.isNullAt(2))
  }

  test("non-literal arguments where literals are required fail loudly") {
    docsView
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles(text, doc_id) FROM docs").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("SQL graft_uniq_hll == ApproxAgg.uniqHll estimate per group") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    ev.createOrReplaceTempView("ext_events")
    val sql = spark.sql(
      """SELECT event_type, graft_uniq_hll(user_id) AS est
        |FROM ext_events GROUP BY event_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val api = graft.operators.ApproxAgg.uniqHll(ev, Seq("event_type"),
        col("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sql === api)
  }

  test("SQL graft_uniq_kmv == ApproxAgg.uniqKmv estimate per group") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    ev.createOrReplaceTempView("kmv_events")
    val sql = spark.sql(
      """SELECT event_type, graft_uniq_kmv(event_id) AS est
        |FROM kmv_events GROUP BY event_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val api = graft.operators.ApproxAgg.uniqKmv(ev, Seq("event_type"),
        col("event_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sql === api)
  }

  test("SQL graft_quantile_weighted == ApproxAgg.quantileExactWeighted; " +
      "all-skipped group yields NULL") {
    val l = Tables(spark, "/root/testdata/sf0.001").lineitem
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") / 1000).cast("long").as("tier"),
        col("l_quantity").cast("long").as("qty"))
    l.createOrReplaceTempView("wq_lineitem")
    val sql = spark.sql(
      """SELECT flag, graft_quantile_weighted(tier, qty, 1, 2) AS p50,
        |  graft_quantile_weighted(tier, qty, 99, 100) AS p99
        |FROM wq_lineitem GROUP BY flag""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val api = graft.operators.ApproxAgg.quantileExactWeighted(l, Seq("flag"),
        col("tier"), col("qty"), Seq(("p50", 1, 2), ("p99", 99, 100)))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sql === api)
    import spark.implicits._
    val empty = Seq(("k", 5L, 0L), ("k", 6L, -1L)).toDF("g", "v", "w")
    empty.createOrReplaceTempView("wq_empty")
    val r = spark.sql(
      "SELECT graft_quantile_weighted(v, w, 1, 2) FROM wq_empty").collect()(0)
    assert(r.isNullAt(0))
  }

  test("SQL graft_uniq_upto == ApproxAgg.uniqUpTo per group") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    ev.createOrReplaceTempView("upto_events")
    // n=10: the corpus has 15 distinct users per type, so the sentinel
    // binds; n=20: exact counts come through
    for ((n, expectSentinel) <- Seq((10, true), (20, false))) {
      val sql = spark.sql(
        s"""SELECT event_type, graft_uniq_upto(user_id, $n) AS uniq_upto
           |FROM upto_events GROUP BY event_type""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val api = graft.operators.ApproxAgg.uniqUpTo(ev, Seq("event_type"),
          col("user_id"), n = n)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sql === api)
      assert(sql.values.exists(_ == n + 1L) === expectSentinel, s"n=$n: $sql")
    }
  }

  test("SQL graft_quantile_sketch == ApproxAgg.quantileSketch per group; " +
      "all-NULL group yields NULL") {
    val l = Tables(spark, "/root/testdata/sf0.001").lineitem
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
    l.createOrReplaceTempView("ext_lineitem")
    val sql = spark.sql(
      """SELECT flag, graft_quantile_sketch(price, 1, 2) AS p50,
        |  graft_quantile_sketch(price, 9, 10) AS p90
        |FROM ext_lineitem GROUP BY flag""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val api = graft.operators.ApproxAgg.quantileSketch(l, Seq("flag"),
        col("price"), Seq(("p50", 1, 2), ("p90", 9, 10)))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(sql === api)
    val nullRow = spark.sql(
      "SELECT graft_quantile_sketch(CAST(NULL AS DECIMAL(18,2)), 1, 2)").head()
    assert(nullRow.isNullAt(0))
  }

  test("graft_quantile_sketch input guard: loud on bad input, deferred on " +
      "late resolution (never a builder-time dataType probe)") {
    Tables(spark, "/root/testdata/sf0.001").lineitem
      .createOrReplaceTempView("qs_guard")
    // DOUBLE input fails ANALYSIS loudly (truncate-vs-round drift)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_quantile_sketch(CAST(l_quantity AS DOUBLE)," +
        " 1, 2) FROM qs_guard").collect()
    }
    assert(e.getMessage.contains("DECIMAL or integer"), e.getMessage)
    // a DECIMAL whose 10^s does not divide the scale fails loudly
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_quantile_sketch(" +
        "CAST(l_extendedprice AS DECIMAL(18,3)), 1, 2, 100) FROM qs_guard")
        .collect()
    }
    assert(e2.getMessage.contains("multiple of 10^3"), e2.getMessage)
    // an input needing multi-iteration resolution (lateral column alias)
    // must ANALYZE fine: the analyzer can invoke the function builder
    // before the child resolves, and the guard defers to
    // checkInputDataTypes instead of probing dataType in the builder
    // (the r14 builder threw IllegalStateException on early invocation)
    val r = spark.sql(
      """SELECT graft_quantile_sketch(p, 1, 2) AS p50 FROM
        |  (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS c0, c0 AS p
        |   FROM qs_guard)""".stripMargin).head()
    assert(!r.isNullAt(0) && r.getDouble(0) > 0)
  }

  test("SQL graft_window_funnel == EventAnalytics.windowFunnel for all modes") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    ev.createOrReplaceTempView("wf_events")
    for (mode <- Seq("default", "strict_increase", "strict_dedup", "strict_order")) {
      val sql = spark.sql(
        s"""SELECT user_id, graft_window_funnel(ts,
           |  CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
           |    WHEN 'purchase' THEN 2 ELSE -1 END,
           |  14400, 3, '$mode') AS level
           |FROM wf_events GROUP BY user_id""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val api = graft.operators.EventAnalytics.windowFunnel(ev,
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 14400,
          mode = mode)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // the SQL aggregate also emits users with NO step events (level 0);
      // the operator groups them out — compare on the operator's domain
      assert(api.forall { case (u, l) => sql.get(u).contains(l) },
        s"mode=$mode: " + api.collect {
          case (u, l) if !sql.get(u).contains(l) =>
            s"u=$u api=$l sql=${sql.get(u)}"
        }.take(5).mkString(", "))
      assert(api.keySet.subsetOf(sql.keySet) && api.nonEmpty)
    }
  }

  test("SQL graft_sequence_count == EventAnalytics.sequenceCount") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    ev.createOrReplaceTempView("sc_events")
    val sql = spark.sql(
      """SELECT user_id, graft_sequence_count(ts,
        |  CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |    WHEN 'purchase' THEN 2 ELSE -1 END, 3) AS n
        |FROM sc_events
        |WHERE event_type IN ('view', 'click', 'purchase')
        |GROUP BY user_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val api = graft.operators.EventAnalytics.sequenceCount(ev,
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sql === api)
  }

  test("SQL graft_retention == EventAnalytics.retention") {
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    ev.createOrReplaceTempView("ret_events")
    val w1 = "TIMESTAMP_NTZ '2024-01-08 00:00:00'"
    val sql = spark.sql(
      s"""SELECT user_id, graft_retention(array(
         |  event_type = 'signup' AND ts < $w1,
         |  ts >= $w1,
         |  event_type = 'purchase')) AS r
         |FROM ret_events GROUP BY user_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val w1c = lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    val api = graft.operators.EventAnalytics.retention(ev, "user_id", Seq(
        col("event_type") === "signup" && col("ts") < w1c,
        col("ts") >= w1c,
        col("event_type") === "purchase"))
      .collect().map(r => r.getLong(0) ->
        List(r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(sql === api)
  }

  test("SQL graft_sum_map == MergeSemantics.sumMap, empty-map keys kept") {
    import spark.implicits._
    val rows = Seq(
      (1L, Map("a" -> 1L, "b" -> 2L)),
      (1L, Map("b" -> 3L, "c" -> 4L)),
      (2L, Map.empty[String, Long]),
      (3L, Map("z" -> 7L))).toDF("k", "m")
    rows.createOrReplaceTempView("ext_maps")
    val sql = spark.sql(
      "SELECT k, graft_sum_map(m) AS m FROM ext_maps GROUP BY k")
      .collect().map(r => r.getLong(0) -> r.getMap[String, Long](1).toMap).toMap
    val api = graft.operators.MergeSemantics.sumMap(rows, Seq("k"), "m")
      .collect().map(r => r.getLong(0) -> r.getMap[String, Long](1).toMap).toMap
    assert(sql === api)
    assert(sql(2L) === Map.empty)
  }
}
