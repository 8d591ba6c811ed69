package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that decide 100 TB behavior —
  * filter/projection pushdown into the parquet scan, broadcast joins for
  * small dims, partial (map-side) aggregation, single-shuffle shapes, and
  * whole-stage codegen on the ingest path. Catching a regression here is
  * catching a 10x at scale.
  */
class PlanShapeSpec extends AnyFunSuite with LocalSpark {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("AQE and skew-join handling are on (the documented skew mitigation)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
  }

  test("filter and column pruning reach the parquet scan") {
    val t = Tables(spark, sf)
    val q = t.lineitem
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    val f = formatted(q)
    assert(f.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$f")
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$f")
  }

  test("small dimension joins broadcast (no shuffle of the big side)") {
    val p = plan(SparkEntry.queries("q_join_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("semi join plans as a real semi join") {
    val p = plan(SparkEntry.queries("q_semi_join")(spark, sf))
    assert(p.contains("LeftSemi"), p)
  }

  test("flagship aggregation has map-side partial aggregation") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, sf))
    // partial + final HashAggregate pair around one shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"flagship agg should shuffle exactly once before the sort:\n$p")
  }

  test("ingest projection stays inside whole-stage codegen") {
    import graft.functions.ChGetters.ParseOpts
    import graft.parse.Projector
    import graft.parse.Projector.Dim
    import graft.types.ChType
    val raw = Tables(spark, sf).events
      .select(to_json(struct(col("event_id").as("id"), col("event_type").as("s"))).as("value"))
    def dim(n: String, t: String, src: String) = Dim(n, ChType.whichType(t), sourceName = Some(src))
    val scalars = Seq(dim("id", "Int64", "id"), dim("s", "String", "s"), dim("t", "DateTime", "s"))
    // maps, arrays and Object('json') beside the scalars: each is one read too
    val containers = Seq(dim("ms", "Map(String, UInt64)", "m"), dim("mi", "Map(Int64, String)", "m"),
      dim("ai", "Array(Int32)", "a"), dim("ad", "Array(DateTime64(3))", "a"),
      dim("o", "Object('json')", "m"))
    for (dims <- Seq(scalars, scalars ++ containers)) {
      val projected = Projector.projectJson(raw, dims, ParseOpts())
      val p = plan(projected)
      // every operator carries the codegen stage marker "*(n)"
      assert(!p.linesIterator.exists(l =>
        l.trim.startsWith("Project") || l.trim.startsWith("Filter")),
        s"found non-codegen Project/Filter on the ingest path:\n$p")
      // and the message parses exactly once (the Once barrier holds)
      assert("parseJson".r.findAllIn(p).length === 1,
        s"parse_json must run once per row:\n$p")
      assertOneReadPerDim(projected, dims = dims.size)
    }
  }

  /** Each dim is one typed read in place over the parsed message: one
    * `variant_read` per dim, and no `try_variant_get` (a cast per call, or
    * a value rebuilt through a fresh VariantBuilder), `variant_kind` or
    * interpreted (`CodegenFallback`) expression, such as a higher-order
    * function, anywhere in the projection.
    */
  private def assertOneReadPerDim(df: DataFrame, dims: Int): Unit = {
    import graft.functions.VariantRead
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
    val p = df.queryExecution.executedPlan
    // the expressions themselves: a wide Project's string is truncated
    val exprs = p.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[VariantGet]),
      s"a getter casts through try_variant_get:\n$p")
    assert(!exprs.exists(_.prettyName == "variant_kind"), s"a getter branches on variant_kind:\n$p")
    assert(!exprs.exists(_.isInstanceOf[CodegenFallback]),
      s"an interpreted expression in the projection:\n$p")
    assert(exprs.count(_.isInstanceOf[VariantRead]) === dims,
      s"expected one typed read per dim:\n$p")
  }

  test("the access-log projection compiles to methods the JIT will compile") {
    import graft.config.TaskConfig
    import graft.parse.Projector.Dim
    import graft.shard.Sharding
    import graft.streaming.Pipeline
    import graft.types.ChType
    // the access_log benchmark's batch: 27 dims (two times, three ints,
    // 21 strings, the stamp), the two __kafka_* dims the default shard
    // policy reads, and the offset shard column
    def dim(n: String, t: String) = Dim(n, ChType.whichType(t))
    val strs = Seq("@hostname", "@ip", "@path", "@message", "agent", "auth", "clientIp",
      "device_family", "httpversion", "ident", "os_family", "os_major", "os_minor",
      "referrer", "request", "response", "userAgent_family", "userAgent_major",
      "userAgent_minor", "verb", "xforwardfor")
    val dims = Seq(dim("@collectiontime", "DateTime"), dim("timestamp", "DateTime"),
      dim("@lineno", "Int64"), dim("bytes", "Int64"), dim("requesttime", "Int64")) ++
      strs.map(dim(_, "String")) :+ dim("stamp", "Int64")
    val meta = Seq(dim("__kafka_offset", "Int64"), dim("__kafka_partition", "Int64"))
    val task = TaskConfig(name = "access_log", topic = "access_log", consumerGroup = "g",
      tableName = "default.access_log")
    val src = Tables(spark, sf).events.select(
      to_json(struct(col("event_id").as("@lineno"), col("event_type").as("verb"))).as("value"),
      lit(0).as("partition"), crc32(col("event_type").cast("binary")).as("offset"))
    val batch = Sharding.partitionByShard(Pipeline.project(src, task, dims ++ meta),
      Pipeline.shardColumn(task, dims ++ meta, 3), 3)
      .select(dims.map(d => col(d.name)) :+ col("__shard__"): _*)
    assert(dims.size === 27)
    val plan = batch.queryExecution.executedPlan
    assertOneReadPerDim(batch, dims = 27) // the meta dims come from source columns
    val sizes = graft.tools.Profile.codegenMethodSizes(plan)
    assert(sizes.nonEmpty, s"no whole-stage codegen stage:\n$plan")
    sizes.foreach { case (stage, bytes) =>
      assert(bytes <= graft.tools.Profile.HugeMethodLimit,
        s"codegen stage $stage's largest method is $bytes bytes; " +
          s"HotSpot does not JIT-compile a method over 8,000 bytes:\n$plan")
    }
  }

  test("csv projection parses each line exactly once") {
    import graft.functions.ChGetters.ParseOpts
    import graft.parse.Projector
    import graft.parse.Projector.Dim
    import graft.types.ChType
    val raw = Tables(spark, sf).events
      .select(concat_ws(",", col("event_id"), col("event_type")).as("value"))
    val projected = Projector.projectCsv(raw, Seq("a", "b"),
      Seq(Dim("a", ChType.whichType("Int64")), Dim("b", ChType.whichType("String"))),
      ParseOpts())
    val p = plan(projected)
    assert("from_csv".r.findAllIn(p).length === 1,
      s"CSV must parse once per row (arity filter must not re-parse):\n$p")
  }

  test("minhash LSH plan never builds a cartesian product") {
    val t = Tables(spark, sf)
    // the public entry materializes eagerly (pins released before
    // return), so shape-pin the lazy pre-checkpoint plan it runs
    val (pairs, pins) = graft.operators.Dedup.nearDupPairsMinhashPlan(
      t.documents, "doc_id", "text", 3, 8, 4, 0.7, false)
    try {
      val p = plan(pairs)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), p)
      // the verify stage must semi-join-prune the text-sized shingle table
      // to candidate ids BEFORE rejoining it — shuffle bytes track the
      // candidate set, not the corpus (r13 What's-wrong 2)
      assert(p.contains("LeftSemi"),
        s"verify stage lost its candidate-id semi-join prune:\n$p")
      // r17 scale shapes: the verify payload is 64-bit shingle
      // fingerprints (set_jaccard_long over xxhash64-transformed arrays —
      // the string form measured 14.5 GB of verify shuffle at 10M docs),
      // and the band self-join leads its keys with the bh prefix long
      // (array-comparator sorts measured 20 s of the same row)
      assert(p.contains("set_jaccard_long"),
        s"verify stage reverted to shingle-string jaccard:\n$p")
      assert(p.contains("xxhash64(band"),
        s"band self-join lost its bh prefix key:\n$p")
      // r18 scale shape: both pair sides read the PINNED candidate-pruned
      // fingerprint table (InMemoryRelation) — un-pinned, each side re-ran
      // the corpus scan + shingle kernel (the broadcast-sized candidate
      // side leaves no exchange for ReuseExchange to share), 2.22 GB of
      // fingerprints computed once PER SIDE at 10M docs
      assert(p.contains("InMemoryTableScan"),
        s"verify sides lost the pinned fingerprint table:\n$p")
      // structural: the MAIN plan (InMemoryRelation leaves excluded —
      // collect does not descend into cachedPlan) must hold zero gram
      // kernels; every shingle scan lives below a pin
      val kernelInMain = pairs.queryExecution.optimizedPlan.collect {
        case node if node.expressions.exists(_.exists(
          _.getClass.getSimpleName == "WordShingles")) => node
      }
      assert(kernelInMain.isEmpty,
        s"verify subtree re-shingles the corpus above the pins:\n$p")
    } finally pins.foreach(_.unpersist())
  }

  test("incremental minhash admission semi-join-prunes the reference shingles") {
    val t = Tables(spark, sf)
    val d = t.documents
    val fresh = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val p = plan(graft.operators.Dedup.nearDupsAgainstMinhash(
      d, fresh, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-sized reference shingle table must shrink to candidate
    // ref ids before the verify join — admission cost tracks candidates
    assert(p.contains("LeftSemi"),
      s"reference shingles lost their candidate-id semi-join prune:\n$p")
  }

  test("phash image dedup joins banded fingerprints, never payloads or products") {
    import spark.implicits._
    val ids = (1L to 20L).toDF("asset_id")
    val assets = ids.select(col("asset_id"),
      graft.operators.Multimodal.bmpContent(col("asset_id"), 8, lit(false))
        .as("content"))
    val decoded = graft.operators.Multimodal.decodeImages(assets).toDF()
    val p = plan(graft.operators.Multimodal.imageNearDups(decoded))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // candidates come from a real equi-join on the (band, key) bucket,
    // carrying only (id, dhash, band, key) — binary payloads stay behind
    // the mapPartitions decode and never reach an exchange
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the DEFAULT banding is the scale-safe 4×16-bit shape (65535 masks,
    // never single-byte bands); wideRecall keeps the same bands and adds
    // the 1-bit probe ball (the XOR flip literals, 1..32768) on ONE side
    assert(p.contains("65535"), s"default must band 16-bit keys:\n$p")
    assert(!p.contains("& 255)"), s"default must not band single bytes:\n$p")
    assert(!p.contains("32768"), s"default must not probe flip balls:\n$p")
    val pWide = plan(graft.operators.Multimodal.imageNearDups(decoded,
      maxHamming = 6, wideRecall = true))
    assert(!pWide.contains("& 255)"),
      s"wideRecall must keep 16-bit bands, not shrink them:\n$pWide")
    assert(pWide.contains("32768"),
      s"wideRecall must probe the 1-bit ball:\n$pWide")
    // the clique-safe DEFAULT: identical fingerprints collapse to one
    // representative (min id) + count BEFORE banding, so the band join's
    // inputs are the collapse aggregate — an m-member hash clique enters
    // the exchange as ONE row, never m² pair rows (r14's measured
    // disk-filling failure mode on a 494-clique 1M-asset corpus)
    assert(p.contains("min(asset_id") && p.contains("count(1)"),
      s"default path lost the collapse-by-fingerprint aggregate:\n$p")
    assert(pWide.contains("min(asset_id"),
      s"wideRecall path lost the collapse-by-fingerprint aggregate:\n$pWide")
  }

  test("video near-dup collapses identical frame sequences before the frame join") {
    import spark.implicits._
    val ids = (1L to 6L).toDF("asset_id")
    val assets = ids.select(col("asset_id"),
      graft.operators.Multimodal.aviContent(col("asset_id"), 4, 8, lit(false))
        .as("content"))
    val frames =
      graft.operators.Multimodal.decodeVideoFrames(assets).toDF()
    val p = plan(graft.operators.Multimodal.videoNearDups(frames))
    assert(!p.contains("CartesianProduct"), p)
    // the sequence-collapse pre-pass (collect_list of frame hashes per
    // video, then min-id/count per sequence) must sit below the frame
    // join — identical copies enter the (frame, band, key) exchange once
    assert(p.contains("collect_list") && p.contains("min(asset_id"),
      s"videoNearDups lost its sequence-collapse pre-pass:\n$p")
    // n_frames rides the collapse aggregate and the frame join: the
    // minMatchPct filter sits DIRECTLY on the pair aggregate — no
    // per-video-sized join above it (the pre-r16 shape broadcast an
    // O(|videos|) count table onto the pair set: two extra joins and a
    // driver-side collect of every video id). Physical plans print
    // root-first, so "nothing above the final aggregate" = no Join
    // before the first HashAggregate in the string.
    val joinNodes = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
    def aboveFinalAgg(s: String) = s.substring(0, s.indexOf("HashAggregate"))
    assert(joinNodes.findFirstIn(aboveFinalAgg(p)).isEmpty,
      s"videoNearDups regrew a per-video count join above the pair set:\n$p")
    // raw mode: the band self-join is the ONLY join (n_frames comes
    // from a window over frames, never a joined count table)
    val pRaw = plan(graft.operators.Multimodal.videoNearDups(frames,
      collapseIdentical = false))
    assert(joinNodes.findAllIn(pRaw).length === 1,
      s"raw videoNearDups must have only the band self-join:\n$pRaw")
    assert(pRaw.contains("Window"),
      s"raw videoNearDups must window-count frames per video:\n$pRaw")
  }

  test("corpus-wide embedding near-dup is banded: no nested-loop, no cartesian") {
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val p = plan(graft.operators.Similarity.nearDupPairsEmbedding(
      e, threshold = 0.75, dims = 64))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"corpus x corpus embedding dedup must never be all-pairs:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // candidates come from a real equi-join on the (band, key) bucket
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // verify stage prunes the vector table to candidate ids (same rule
    // as the minhash paths: verify bytes track candidates, not corpus)
    assert(p.contains("LeftSemi"),
      s"vector table lost its candidate-id semi-join prune:\n$p")
    // the band exchange carries the EARLIER-band prefix, not the full ks
    // array (r19: slice(ks, 1, band) halved the dominant shuffle payload
    // of the 100x row) — the slice must sit below the join, and the full
    // ks must not survive past it into the join's key columns
    assert(p.contains("slice(ks"),
      s"band self-join lost its earlier-band prefix projection:\n$p")
    val pIncr = plan(graft.operators.Similarity.nearDupsAgainstEmbedding(
      e, e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")),
      threshold = 0.75, dims = 64))
    assert(pIncr.contains("LeftSemi"),
      s"incremental embedding admission lost its reference prune:\n$pIncr")
    assert(pIncr.contains("slice(ks"),
      s"incremental band join lost its earlier-band prefix projection:\n$pIncr")
  }

  test("decontamination plans as a broadcast semi join against the benchmark") {
    val d = Tables(spark, sf).documents
    val p = plan(graft.operators.TextAnalysis.contaminatedDocs(
      d, "doc_id", "text", d.filter(col("doc_id") < 20), "text"))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"benchmark side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("brute-force topk broadcasts the query side") {
    val e = Tables(spark, sf).embeddings
    val p = plan(graft.operators.Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") < 10), 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("topk is a bounded partial aggregate, not a full-shuffle window") {
    val e = Tables(spark, sf).embeddings
    val p = plan(graft.operators.Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") < 10), 5))
    // partial (map-side) + final ObjectHashAggregate around one exchange:
    // the shuffle carries |q|*k rows, never the |q|*|corpus| product
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Window"), s"full-shuffle window on the scored product:\n$p")
  }

  test("ivf assign stage is a projection: no nested-loop join, no window") {
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val p = plan(graft.operators.Similarity.ivfTopK(
      e, e.filter(col("vec_id") < 10), 5, nCells = 8, nprobe = 2))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"cell assignment must not fan out corpus x centroids:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"no per-id window for the argmin:\n$p")
    // the probe join is a real equi-join on the cell key
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("persisted ivf index: the query scan partition-prunes to probed cells") {
    import graft.operators.Similarity
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_prune").toString
    Similarity.IvfIndex.saveAssigned(e, Similarity.trainCentroids(e, 8), dir)
    val f = formatted(Similarity.ivfTopKFromIndex(spark, dir,
      e.filter(col("vec_id") < 5), k = 5, nprobe = 2))
    // the probed-cell isin lands as a STATIC partition filter on the
    // cells scan — per-batch read cost is ~nprobe/nCells of the corpus,
    // and no corpus-wide assignCell projection runs at query time
    val scan = f.linesIterator.filter(_.contains("PartitionFilters:"))
      .mkString("\n")
    assert(scan.contains("cell#") && scan.contains(" IN ("),
      s"probed-cell partition prune missing from the cells scan:\n$f")
  }

  test("ivfpq: ADC scores over a cell equi-join (no nested loop), scan " +
      "partition-prunes to probed cells") {
    import graft.operators.Similarity
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_plan").toString
    Similarity.IvfPqIndex.save(e, Similarity.trainCentroids(e, 8),
      Similarity.trainPq(e, m = 8, k = 16), dir)
    val df = Similarity.ivfPqTopK(spark, dir,
      e.filter(col("vec_id") < 5), k = 5, nprobe = 2)
    val p = plan(df)
    // the LUTs ride the broadcast side as DATA on a cell equi-key: a
    // codegen'd BroadcastHashJoin, never the BroadcastNestedLoopJoin
    // that cost the pure-PQ path 7x before r14
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"ADC scoring must join on the cell equi-key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // both the code scan and the re-rank vector read partition-prune to
    // the probed cells
    val f = formatted(df)
    val scans = f.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(scans.nonEmpty && scans.forall(s =>
        s.contains("cell#") && s.contains(" IN (")),
      s"probed-cell partition prune missing:\n$f")
  }

  test("dynamic-schema path parses each message exactly once") {
    import graft.dynamic.SchemaEvolution
    import graft.functions.ChGetters
    import graft.functions.ChGetters.ParseOpts
    import graft.parse.Projector
    import graft.parse.Projector.Dim
    import graft.types.ChType
    val raw = Tables(spark, sf).events
      .select(to_json(struct(col("event_id").as("id"),
        col("event_type").as("s"), col("value").as("extra"))).as("value"))
    // the pipeline's single-parse shape: parse once into a cached stage,
    // detect new keys AND project from it
    val stage = raw.withColumn("__msg__",
      graft.functions.Once(ChGetters.parsed(col("value")))).persist()
    try {
      val newKeys = SchemaEvolution.detectNewKeys(stage, Set("id", "s"),
        parsedCol = Some("__msg__"))
      assert(newKeys.map(_._1) === Seq("extra"))
      val projected = Projector.projectJson(stage,
        Seq(Dim("id", ChType.whichType("Int64")), Dim("s", ChType.whichType("String"))),
        ParseOpts())
      projected.count()
      val p = plan(projected)
      assert(p.contains("InMemoryTableScan"),
        s"projection must reuse the cached parse stage:\n$p")
      // the cached relation holds the single parse; the projection plan
      // itself must not re-parse
      assert("parseJson".r.findAllIn(p).length <= 1,
        s"message must parse at most once on the dynamic-schema path:\n$p")
      assertOneReadPerDim(projected, dims = 2)
    } finally stage.unpersist()
  }

  test("as-of join is one key shuffle + window, never a range cross product") {
    val p = plan(SparkEntry.queries("q_asof_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a nested-loop range join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), s"expected the carry-forward window:\n$p")
    // the only hash exchanges are the union sides partitioning by user_id
    // for the window — no join exchange at all
    assert("RunningWindowFunction|Window".r.findAllIn(p).nonEmpty, p)
  }

  test("hash sampling is scan-local (a pure pushed filter, no exchange)") {
    import graft.operators.Sampling
    val d = Tables(spark, sf).documents
    val p = plan(Sampling.sampleByHash(d, col("doc_id"), 0.1))
    assert(!p.contains("Exchange"),
      s"deterministic sampling must not shuffle:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("token chunking is scan-local (projection + generator, no hash exchange)") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val p = plan(TextAnalysis.chunkByTokens(d, "doc_id", "text", 32))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the posexplode generator:\n$p")
  }

  test("c4 cleaning battery is scan-local (pure projection, no exchange)") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val p = plan(TextAnalysis.c4Signals(d, "doc_id", "text"))
    assert(!p.contains("Exchange"),
      s"c4 signals must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"),
      s"c4 signals left codegen:\n$p")
  }

  test("url dedup is one narrow shuffle with map-side partial aggregation") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
      .select(col("doc_id"), concat(lit("https://example.org/p/"),
        col("doc_id") % 100).as("url"))
    val p = plan(TextAnalysis.urlDedupGroups(d, "doc_id", "url"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one shuffle on the url key:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final aggregate pair:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("vocab stats aggregate partially before the token shuffle") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val p = plan(TextAnalysis.vocabStats(d, "doc_id", "text"))
    // tf and df sides each get a partial+final HashAggregate pair
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"expected map-side combine on both tf and df:\n$p")
  }

  test("pq code scan carries m ints per vector, no full-vector join on the approx side") {
    import graft.operators.Similarity
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val books = Similarity.trainPq(e, m = 8, k = 16)
    val p = plan(Similarity.pqTopKWithBooks(e, e.filter(col("vec_id") < 20), 5, books))
    // the ADC stage is a JOINLESS codegen'd generate: per-query lookup
    // tables ride as array literals over the code scan. A broadcast
    // nested-loop join here is excluded from whole-stage codegen and
    // was measured 37x slower at 2M vectors
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"ADC scoring must not nested-loop join (non-codegen):\n$p")
    assert(p.contains("Generate explode"),
      s"ADC scoring should explode literal per-query scores:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
    assert(!p.contains("Window"), s"top-k must be the bounded aggregate:\n$p")
  }

  test("semdedup pair stage is an equi-join on the cell id (no products)") {
    import graft.operators.Similarity
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val p = plan(Similarity.withinCellNearDupPairs(e, nCells = 8, threshold = 0.75))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairs must equi-join on cell:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // cell assignment is the same projection argmax as IVF — no join, no
    // window upstream of the pair join
    assert(!p.contains("Window"), s"cell assign must not be a window:\n$p")
  }

  test("per-group cap is a bounded partial aggregate, not a window") {
    import graft.operators.Sampling
    val d = Tables(spark, sf).documents
    val p = plan(Sampling.capPerGroup(d, col("doc_id"), col("source"), 15))
    assert(!p.contains("Window"),
      s"cap must not sort whole groups through a window:\n$p")
    // partial + final ObjectHashAggregate pair: the shuffle carries at
    // most |groups| x maxN rows
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected map-side bounded-heap partials:\n$p")
  }

  test("bm25 scoring is scan-local: stats broadcast back, global top-k " +
      "is TakeOrdered, no hash exchange") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val p = plan(TextAnalysis.bm25TopK(d, "doc_id", "text",
      Seq("spark", "join"), k = 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bm25 must not shuffle the corpus:\n$p")
  }

  test("sequence packing is one range exchange + mapPartitions, no global window") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val chunks = TextAnalysis.chunkByTokens(d, "doc_id", "text", 32)
    val ps = plan(TextAnalysis.packStaged(chunks, 8))
    assert("Exchange rangepartitioning".r.findAllIn(ps).length === 1,
      s"expected exactly one range exchange:\n$ps")
    assert(!ps.contains("Exchange hashpartitioning"),
      s"no hash exchange belongs in the packing path:\n$ps")
    val p = plan(TextAnalysis.packSequences(chunks, 512))
    assert(!p.contains("Window"),
      s"global offsets must come from the prefix sum, not a window:\n$p")
  }

  test("capstone pipeline is fully window-free and product-free") {
    // dedup, Gopher filter, scrub, per-source cap, split and the final
    // rollup all plan as scans + aggregates (+ one broadcastable join
    // back for the cap) — no window sort anywhere, nothing quadratic
    val p = plan(SparkEntry.queries("corpus_pipeline")(spark, sf))
    assert(!p.contains("Window"), s"capstone must stay window-free:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("asOf is one key shuffle + one window — no range-join product") {
    val p = plan(SparkEntry.queries("q_asof_tolerance")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"asOf must never plan a product:\n$p")
    // the union + carry-forward shape: exactly one Window operator
    assert("Window".r.findAllIn(p).length === 1,
      s"expected exactly one carry-forward window:\n$p")
  }

  test("asOf nearest: both directions ride ONE union shuffle (two sorts)") {
    val pNear = plan(SparkEntry.queries("q_asof_nearest")(spark, sf))
    assert(!pNear.contains("CartesianProduct") &&
      !pNear.contains("BroadcastNestedLoopJoin"),
      s"nearest asOf must never plan a product:\n$pNear")
    assert("Window".r.findAllIn(pNear).length === 2,
      s"expected exactly two carry windows (back + forward):\n$pNear")
    // the second direction must not add a shuffle: same exchange count
    // as the single-direction plan (the windows share partitioning)
    val pBack = plan(SparkEntry.queries("q_asof_join")(spark, sf))
    assert("Exchange".r.findAllIn(pNear).length ===
      "Exchange".r.findAllIn(pBack).length,
      s"nearest added a shuffle:\nnearest:\n$pNear\nbackward:\n$pBack")
  }

  test("boilerplate removal anti-joins via broadcast, never a window") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val p = plan(TextAnalysis.stripBoilerplateLines(d, "doc_id", "text", 50))
    // the frequent-line set is small by definition -> broadcast anti join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"frequent-line filter must be a broadcast anti join:\n$p")
    assert(!p.contains("Window"), s"reassembly must aggregate, not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bpe apply is a scan-local projection (no exchange, no explode)") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val p = plan(TextAnalysis.bpeApply(d, "doc_id", "text",
      Seq(("e", "r"), ("i", "n"), ("o", "w"))))
    assert(!p.contains("Exchange"),
      s"encoding with fixed merges must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"no explode in the apply path:\n$p")
  }

  test("chunk dedup shuffles exactly twice (fingerprint, then doc id)") {
    import graft.operators.Dedup
    val d = Tables(spark, sf).documents
    val p = plan(Dedup.dropDupChunks(d, "doc_id", "text", 16))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      s"expected one exchange for first-occurrence, one for reassembly:\n$p")
    // first-occurrence is a map-side-combined aggregate, never a window
    // (a hot boilerplate chunk would make one giant window group)
    assert(!p.contains("Window"), s"chunk dedup must not window:\n$p")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p).length >= 4,
      s"expected partial+final pairs on both aggregates:\n$p")
  }

  test("paragraph dedup shuffles exactly twice (fingerprint, then doc id)") {
    import graft.operators.Dedup
    val d = Tables(spark, sf).documents
    val p = plan(Dedup.dropDupParagraphs(d, "doc_id", "text"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      s"expected one exchange for first-occurrence, one for reassembly:\n$p")
    // a corpus-wide boilerplate paragraph must collapse map-side, never
    // funnel through one sorted window group
    assert(!p.contains("Window"), s"paragraph dedup must not window:\n$p")
  }

  test("substring dedup shuffles 16-byte gram hashes, never the grams") {
    import graft.operators.Dedup
    val d = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val p = plan(Dedup.substringDupPairs(d, "doc_id", "text", k = 40))
    // rolling hashes are generated directly on the scan — the document
    // text reaches no exchange (only id/h1/h2/pos columns shuffle)
    assert(p.contains("Generate explode(distinct_gram_hashes(text"),
      s"gram hashing should sit on the scan:\n$p")
    assert(!"Exchange [^\n]*text#".r.findFirstIn(p).isDefined,
      s"document text must never shuffle:\n$p")
    // NOTE the text DOES travel into the verify re-extraction joins
    // (as __ta/__tb) by design — a candidate-id semi-join prune was
    // measured WORSE here (it forks the witness self-join, the actual
    // corpus-sized payload; see verifiedPairs' scaladoc)
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no products:\n$p")
  }

  test("substring witness normalization is kernel-local: no groupBy " +
      "exchange of ~unique (id, h1, h2) keys at either gram density") {
    import graft.operators.Dedup
    val d = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    // the r15 shape normalized witnesses through groupBy(id, h1, h2)
    // .agg(min(pos)) — at 5M docs that exchange was half of 34 GB
    // shuffle write and ~15 GB of aggregate spill (its keys are ~all
    // unique, so partial aggregation combines nothing); the kernel
    // dedup (ofDistinct / winnowedDistinct) makes it scan-local. The
    // only aggregate left is the per-pair witness min.
    for ((q, kernel) <- Seq(
      Dedup.substringDupPairs(d, "doc_id", "text", k = 40)
        -> "distinct_gram_hashes",
      Dedup.substringDupPairsWinnowed(d, "doc_id", "text", k = 40, w = 10)
        -> "winnowed_distinct_gram_hashes")) {
      val p = plan(q)
      assert(p.contains(kernel), s"$kernel missing from the scan:\n$p")
      assert(!"HashAggregate\\(keys=\\[(doc_)?id[^\\]]*h1".r
        .findFirstIn(p).isDefined,
        s"witness normalization regrew its groupBy exchange:\n$p")
      // partial + final of the pair-witness min, nothing more
      assert("HashAggregate".r.findAllIn(p).length <= 2,
        s"unexpected extra aggregates in the witness path:\n$p")
    }
  }

  test("bloom semi-join prunes the probe SCAN-LOCAL, before any exchange") {
    import graft.operators.BloomPrune
    val d = Tables(spark, sf).documents
    val probe = d.select(col("doc_id"), col("source"))
    val build = d.filter(col("doc_id") < 50).select(col("source"))
    val q = BloomPrune.semiJoin(probe, col("source"), build, col("source"))
    val p = plan(q)
    assert(p.contains("might_contain"), s"bloom prefilter missing:\n$p")
    // the might_contain filter must sit BELOW the join on the probe
    // side — prune at the scan, not after the exchange
    val filterAt = p.indexOf("might_contain")
    val joinAt = "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findFirstMatchIn(p).map(_.start).getOrElse(-1)
    assert(joinAt >= 0 && filterAt > joinAt,
      s"might_contain should appear under (after, in tree print order) " +
        s"the join operator:\n$p")
  }

  test("temporal join keeps the asOf shape: window carry, no range product") {
    import graft.operators.Joins
    val t = Tables(spark, sf)
    val e = t.events.select(col("event_id"), col("ts"),
      (col("user_id") % 25).as("k"))
    val base = lit("2024-01-03 00:00:00").cast("timestamp_ntz")
    val dim = t.nation.select(col("n_nationkey").cast("long").as("k"))
      .withColumn("version", explode(sequence(lit(0), lit(2))))
      .withColumn("valid_from",
        base + expr("make_dt_interval(8 * version, 0, 0, 0)"))
      .withColumn("valid_to",
        base + expr("make_dt_interval(8 * (version + 1), 0, 0, 0)"))
    val q = Joins.temporal(e, dim, Seq("k"), "ts", "valid_from", "valid_to",
      rightCols = Seq("version", "valid_to"), ordCol = "version")
    val p = plan(q)
    assert(p.contains("Window"), s"carry-forward window missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"SCD-2 must never plan a range product:\n$p")
  }

  test("range join is a banded EQUI-join: hash join on the bucket, no product") {
    import graft.operators.Joins
    val t = Tables(spark, sf)
    val e = t.events.select(col("event_id"), col("value"))
    val bands = t.nation.select(col("n_nationkey").cast("long").as("band_id"))
      .withColumn("lo", col("band_id").cast("double") * 20.0)
      .withColumn("hi", col("lo") + 25.0)
    val q = Joins.range(e, bands, "value", "lo", "hi", bucketWidth = 16.0)
    val p = plan(q)
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findFirstIn(p).isDefined, s"no equi-join found:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banding must prevent the theta product:\n$p")
  }

  test("windowFunnel: step filter reaches the scan; ONE user-key exchange, " +
      "no join at all") {
    import graft.operators.EventAnalytics
    val q = EventAnalytics.windowFunnel(Tables(spark, sf).events,
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"), 3600)
    val p = plan(q)
    assert("Exchange".r.findAllIn(p).length === 1,
      s"funnel must shuffle exactly once (the user key):\n$p")
    assert(!p.contains("Join"), s"the sorted-group walk replaces the " +
      s"join-per-level formulation entirely:\n$p")
    val f = formatted(q)
    assert(f.contains("event_type"), s"step filter missing:\n$f")
  }

  test("timeSeries pipeline: LOCF/delta/moving windows share ONE key " +
      "partitioning (no re-shuffle per stage)") {
    import graft.operators.TimeSeries
    val e = Tables(spark, sf).events
      .select((col("user_id") % 10).as("k"), col("ts"), col("value"))
    val rs = TimeSeries.resample(e, Seq("k"), "ts", 21600,
      col("value").cast("decimal(18,2)"))
    val q = TimeSeries.movingAvg(
      TimeSeries.runningDelta(
        TimeSeries.locf(rs, Seq("k"), "b", "v0"), Seq("k"), "b", "v0"),
      Seq("k"), "b", "v0", 4)
    val p = plan(q)
    // the resample is JOINLESS (gap rows generate scan-local from a
    // lead window over the bucket table) and the whole chain moves
    // bucket-sized rows through exactly two exchanges — the (k, b)
    // groupBy and the keys repartition, whose partitioning every
    // window stage (LOCF / delta / moving) then reuses with ZERO
    // further shuffles; output-sized rows never cross the wire
    assert(!p.contains("Join"), s"resample must not join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"chain must move only bucket-sized exchanges, saw $exchanges:\n$p")
    // the explosion sits ABOVE the last exchange (scan-local fan-out):
    // no Exchange may appear between the Generate and the Windows
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0, s"gap generation missing:\n$p")
    assert(!p.substring(0, genIdx).contains("Exchange"),
      s"output-sized rows must not shuffle after the gap fan-out:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("pageRank round: equi-joins + map-side-combined dst sum, no product") {
    import graft.operators.Graph
    val l = Tables(spark, sf).lineitem
    val edges = l.select((col("l_orderkey") % 100).as("src"),
      (col("l_partkey") % 100).as("dst"))
    // pinEdgeThreshold = 0 forces the DISTRIBUTED path — these plan
    // pins guard the 100x shape; a toy edge count would otherwise take
    // the driver-local fallback and assert nothing
    val q = Graph.pageRank(edges, iterations = 1, pinEdgeThreshold = 0L)
    val p = plan(q)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no products:\n$p")
    // localCheckpoint makes the executed plan a scan of the checkpointed
    // RDD; assert the shape on the pre-checkpoint analyzed round instead
    val nodes = edges.selectExpr("src AS node").union(edges.selectExpr("dst"))
      .distinct()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val rank0 = nodes.select(col("node"), lit(1000L).as("rank"))
    val roundDf = edges.join(outdeg, "src")
      .join(rank0.withColumnRenamed("node", "src"), "src")
      .selectExpr("dst AS node", "rank div deg AS c")
      .groupBy(col("node")).agg(sum(col("c")).as("s"))
    val rp = plan(roundDf)
    assert(rp.contains("partial_sum") || rp.contains("partial"),
      s"dst contribution sum must combine map-side:\n$rp")
    assert(!rp.contains("CartesianProduct") &&
      !rp.contains("BroadcastNestedLoopJoin"), s"no products in a round:\n$rp")
  }

  test("pageRank loop invariants are materialized: extra iterations add " +
      "only round-sized stages, never the edge-dedup/degree/node stages") {
    import graft.operators.Graph
    import graft.telemetry.StageTelemetry
    val l = Tables(spark, sf).lineitem
    val edges = l.select((col("l_orderkey") % 500).as("src"),
      (col("l_partkey") % 500).as("dst"))
    // stages are scoped to OUR job group (a concurrently-running suite's
    // stray stages must not inflate the count) and counted only when
    // they actually complete; the bus is drained deterministically
    // instead of slept on (a loaded machine drains late → undercount)
    val group = "pr-invariants"
    val tel = StageTelemetry.attach(spark.sparkContext)
    def stagesFor(iters: Int): Int = {
      tel.reset()
      spark.sparkContext.setJobGroup(group, "pageRank invariant count")
      // force the distributed path: the invariant-materialization claim
      // is about the big-graph loop, which a toy edge count would skip
      try Graph.pageRank(edges, iterations = iters,
        pinEdgeThreshold = 0L).count()
      finally spark.sparkContext.clearJobGroup()
      tel.drain()
      tel.stagesInGroup(group).count(_.completed)
    }
    try {
      val s1 = stagesFor(1)
      val s3 = stagesFor(3)
      // the pre-r16 shape recomputed e.distinct(), outdeg, and nodes
      // inside every iteration's lineage (~3 corpus-sized shuffles x
      // iterations of pure redundancy — 40% of the slowest 100x row);
      // with the invariants localCheckpoint'ed once before the loop, an
      // extra iteration costs only the round itself: the e/outdeg/rank
      // join exchanges + the contribs aggregate + the nodes left join
      val marginal = (s3 - s1) / 2.0
      assert(marginal <= 8.0,
        s"per-iteration stage cost regrew ($marginal stages/iter, " +
          s"$s1 stages at 1 iter, $s3 at 3): loop invariants are being " +
          "recomputed inside the iteration lineage again")
    } finally tel.detach()
  }

  test("classifier scoring: bounded model broadcasts; one doc-key shuffle " +
      "with map-side partial aggregation") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val model = TextAnalysis.trainQualityClassifier(
      d, "text", col("lang") === "en", nBuckets = 1024)
    val q = TextAnalysis.scoreQualityClassifier(
      d, "doc_id", "text", model, nBuckets = 1024)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus token stream must never sort-merge against the model:\n$p")
    assert("partial_count|partial_sum|HashAggregate".r.findFirstIn(p).isDefined
      && p.contains("partial"), s"per-doc sums must combine map-side:\n$p")
  }

  test("DSIR weighting: both count tables broadcast back to the corpus scan") {
    import graft.operators.TextAnalysis
    val d = Tables(spark, sf).documents
    val q = TextAnalysis.dsirWeights(d, "doc_id", "text",
      TextAnalysis.dsirCounts(d.filter(col("lang") === "en"), "text", 1024),
      TextAnalysis.dsirCounts(d, "text", 1024), 1024)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"lambda join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no products:\n$p")
  }

  test("TPC-H Q3 shape: filtered customer dim broadcasts; date filters " +
      "push to the fact scans; no cartesian product") {
    val q = SparkEntry.queries("q_tpch_q3")(spark, sf)
    val p = plan(q)
    val f = formatted(q)
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
    assert(f.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || f.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n$f")
    assert(f.contains("LessThan(o_orderdate,") &&
      f.contains("GreaterThan(l_shipdate,"),
      s"date filters must reach the fact scans:\n$f")
  }

  test("uniqHll: two narrow shuffles, both behind map-side partial max — " +
      "raw values never cross the wire") {
    import graft.operators.ApproxAgg
    val q = ApproxAgg.uniqHll(Tables(spark, sf).events,
      Seq("event_type"), col("user_id"))
    val p = plan(q)
    // (key, register) partial max combines scan-side, so each task emits
    // <= |keys| * 512 rows; the estimate agg runs on the bounded sketch
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      s"expected exactly 2 exchanges:\n$p")
    assert(p.contains("partial_max"), s"register max must combine map-side:\n$p")
    assert(!p.contains("Sort ") && !p.contains("Window"),
      s"no sort/window over raw rows:\n$p")
  }

  test("quantileSketch: bucket histogram combines map-side; cumulative " +
      "pass runs on the bounded sketch only") {
    import graft.operators.ApproxAgg
    val q = ApproxAgg.quantileSketch(Tables(spark, sf).lineitem,
      Seq("l_returnflag"), col("l_extendedprice").cast("decimal(18,2)"),
      Seq(("p50", 1, 2), ("p90", 9, 10)))
    val p = plan(q)
    assert(p.contains("partial_count"),
      s"bucket counts must combine map-side:\n$p")
    // one shuffle to (key, bucket), one to key for the window; the final
    // per-key agg reuses the window's partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"expected at most 2 exchanges:\n$p")
  }

  test("kmvSketch: min-k aggregate combines map-side — the shuffle " +
      "carries at most k longs per (mapper, key)") {
    import graft.operators.ApproxAgg
    val q = ApproxAgg.uniqKmv(Tables(spark, sf).events,
      Seq("event_type"), col("event_id"))
    val p = plan(q)
    assert(p.contains("partial_minkdistinctagg"),
      s"min-k must combine map-side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one key exchange of bounded sketches:\n$p")
  }

  test("versionedCollapsingMerge: one (key, version) exchange with " +
      "map-side partial fold, no window") {
    import graft.operators.MergeSemantics
    val o = Tables(spark, sf).orders.select(
      (col("o_orderkey") % 149).as("k"), lit(1).as("sign"),
      expr("CAST(o_orderkey DIV 149 AS BIGINT)").as("ver"),
      col("o_totalprice").as("tp"))
    val p = plan(MergeSemantics
      .versionedCollapsingMerge(o, Seq("k"), "sign", "ver"))
    assert(p.contains("partial_sum"),
      s"sign fold must combine map-side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one (key, version) exchange of partially-folded rows:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("clusterBalancedSample: cell assign is a scan-local projection " +
      "(no join, no window), cap is the bounded-heap partial aggregate") {
    import graft.operators.{Sampling, Similarity}
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val cents = Similarity.trainCentroids(e, nCells = 8)
    val p = plan(Sampling.clusterBalancedSample(e, col("vec_id"), cents, 5))
    assert(!p.contains("Join"), s"centroids must be literals, not a join:\n$p")
    assert(!p.contains("Window"), s"cap must not sort cells:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected map-side bounded-heap partials:\n$p")
  }

  test("uniqUpTo: the n+1 min-k buffer combines map-side — exactness " +
      "probe is one bounded exchange") {
    import graft.operators.ApproxAgg
    val q = ApproxAgg.uniqUpTo(Tables(spark, sf).events,
      Seq("event_type"), col("user_id"), n = 20)
    val p = plan(q)
    assert(p.contains("partial_minkdistinctagg"),
      s"min-k must combine map-side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1, p)
  }

  test("quantileExactWeighted: weights pre-aggregate map-side per " +
      "(key, value); windows + final fold share ONE key partitioning") {
    import graft.operators.ApproxAgg
    val l = Tables(spark, sf).lineitem.select(col("l_returnflag").as("flag"),
      floor(col("l_extendedprice") / 1000).cast("long").as("tier"),
      col("l_quantity").cast("long").as("qty"))
    val p = plan(ApproxAgg.quantileExactWeighted(l, Seq("flag"),
      col("tier"), col("qty"), Seq(("p50", 1, 2), ("p90", 9, 10))))
    assert(p.contains("partial_sum"),
      s"per-(key, value) weight sums must combine map-side:\n$p")
    // one exchange on (flag, tier) for the pre-agg, one on flag shared
    // by both windows AND the final fold — never a third
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"windows and final fold must reuse the key partitioning:\n$p")
  }

  test("timeseries interpolate: both frames fuse into ONE Window " +
      "operator on the key partitioning") {
    val p = plan(graft.queries.Registry
      .queries("q_timeseries_interp")(spark, sf))
    // interpolate's backward carry + forward reach fuse into ONE Window
    // op ABOVE the resample's gap fan-out (Generate); the second Window
    // below it is resample's own bucket-sized lead — output-sized rows
    // see exactly one Window pass
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0, s"gap generation missing:\n$p")
    assert("Window \\[".r.findAllIn(p.substring(0, genIdx)).length === 1,
      s"backward carry + forward reach must share one Window op:\n$p")
    assert("Window \\[".r.findAllIn(p).length <= 2,
      s"at most the fused interpolate pair + resample's lead:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"resample aggs + window must not add extra exchanges:\n$p")
  }

  test("snapshotDiff: payloads project to 16-byte fingerprints BEFORE " +
      "the full-outer join — text never shuffles") {
    import graft.operators.Dedup
    val d = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val p = plan(Dedup.snapshotDiff(d, d, "doc_id", "text"))
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    // the exchanges feeding the join must carry (id, md5), not text
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !p.contains("CartesianProduct"), p)
    assert(!"Exchange[^\\n]*text".r.findFirstIn(p).isDefined,
      s"text must be fingerprinted before the shuffle:\n$p")
  }

  test("hllMerge (-State/-Merge): the register re-fold partial-aggregates " +
      "map-side — the merge shuffle carries partially-maxed state rows") {
    val p = plan(graft.queries.Registry
      .queries("q_agg_state_merge")(spark, sf))
    // the register max and the scalar sums must both split partial/final
    assert("partial_max".r.findAllIn(p).nonEmpty,
      s"register merge must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the 5-row estimate-vs-scalars join must broadcast:\n$p")
  }

  test("intervalLengthSum: window sweep and final fold share ONE key " +
      "partitioning — no second shuffle for the groupBy") {
    val p = plan(graft.queries.Registry
      .queries("q_interval_length_sum")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"sweep + fold must reuse the k partitioning:\n$p")
    assert("Window \\[".r.findAllIn(p).length === 1, p)
  }

  test("graphite rollup: one map-side-combined aggregate, banding stays " +
      "in the scan stage") {
    val p = plan(graft.queries.Registry
      .queries("q_graphite_rollup")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"rollup must partial-aggregate:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"one (metric, prec, bucket) exchange:\n$p")
  }

  test("SQL aggregate surface: UDAFs partial-aggregate map-side — the " +
      "shuffle carries sketch buffers, never raw values") {
    val p = plan(graft.queries.Registry
      .queries("q_uniq_hll_sql")(spark, sf))
    assert(p.contains("partial_uniqhllagg"),
      s"uniqHll UDAF must combine map-side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one key exchange (of 512-byte register buffers):\n$p")
    val p2 = plan(graft.queries.Registry
      .queries("q_quantile_sketch_sql")(spark, sf))
    assert(p2.contains("partial_quantilesketchagg"),
      s"quantile UDAF must combine map-side:\n$p2")
    val p3 = plan(graft.queries.Registry
      .queries("q_quantile_weighted_sql")(spark, sf))
    assert(p3.contains("partial_quantileexactweightedagg"),
      s"weighted-quantile UDAF must combine map-side:\n$p3")
  }

  test("kmv set-ops: the view slice is sketched ONCE (three events scans " +
      "total), and the 1-row sketch broadcasts to the type list") {
    val p = plan(graft.queries.Registry.queries("q_kmv_setops")(spark, sf))
    // scans: per-type sketch + view-slice sketch + distinct type list —
    // a per-type re-sketch (crossJoin BEFORE the sketch) would either add
    // a scan or replicate the view rows |types|x through the exchange
    assert("Scan parquet".r.findAllIn(p).length === 3,
      s"expected exactly 3 events scans (a, view sketch, types):\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row view sketch must broadcast, not shuffle:\n$p")
  }
}
