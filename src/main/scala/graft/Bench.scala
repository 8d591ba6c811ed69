package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.telemetry.{ExternalLoad, IoPressure, Measure, StageTelemetry}
import graft.types.ChType

/** The 10x-replicated second bench scale: generated once per base sf dir
  * under `target/` (inside the repo), read like any other sf dir by the
  * registry queries. Only the four tables the headline set touches are
  * materialized.
  */
object BenchScale {
  /** The shuffle-heavy headline queries re-run at 10x. The parse and
    * scan-agg queries are here deliberately: at base sf0.1 they finish in
    * ~1 s — scheduling-noise territory where a loaded machine can record
    * phantom multi-x regressions — so their headline numbers are taken
    * from this shuffle-real scale.
    */
  val headline: Seq[String] = Seq(
    "q1_agg", "q_parse_typed", "q_parse_csv", "q_offsets_minmax",
    "q_percentile", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_simhash_wide", "dedup_embedding_lsh",
    "sim_topk_bruteforce",
    "sim_topk_lsh", "sim_topk_ivf", "sim_topk_pq", "text_quality", "q_asof_join",
    "dedup_cluster_minhash", "text_chunk_dedup", "text_pack",
    "dedup_minhash_incr", "corpus_pipeline", "text_rep_ngrams",
    "text_boilerplate", "dedup_substring_winnow",
    // streaming replays at 10x: state compaction under real volume —
    // the top wall-time rows at 1x were all stream_* but only batch
    // queries ran at the second scale. Single timed run (see timedN):
    // each replay is itself a multi-batch pipeline with checkpoint
    // orchestration, and the 1x registry loop has already JIT-warmed it.
    "stream_dedup_replay", "stream_multitier_replay")

  /** Names measured with ONE timed run and no extra warm-up at 10x. */
  val singleRun: Set[String] = Set(
    "stream_dedup_replay", "stream_multitier_replay")

  def ensure10x(spark: SparkSession, sfDir: String, cpus: Int): String = {
    val dir = s"target/bench_10x_${new java.io.File(sfDir).getName}"
    val marker = new java.io.File(s"$dir/_READY")
    if (!marker.exists()) {
      val t = Tables(spark, sfDir)
      def write(df: DataFrame, name: String): Unit =
        df.repartition(cpus).write.mode("overwrite").parquet(s"$dir/$name.parquet")

      // id shifts stay below the queries' +1000000 planted-twin offset
      write((0 until 10).map(i => t.documents.select(
        (col("doc_id") + lit(i.toLong * 100000L)).as("doc_id"),
        (if (i == 0) col("text")
         else concat(col("text"), lit(s" r$i"))).as("text"),
        col("lang"), col("source"), col("n_chars")))
        .reduce(_ union _), "documents")

      write((0 until 10).map(i => t.embeddings.select(
        (col("vec_id") + lit(i.toLong * 100000L)).as("vec_id"),
        (if (i == 0) col("embedding").cast("array<double>")
         else transform(col("embedding"), x =>
           x.cast("double") + lit(0.001 * i))).as("embedding"),
        col("label")))
        .reduce(_ union _), "embeddings")

      write((0 until 10).map(i => t.events.select(
        (col("event_id") + lit(i.toLong * 10000000L)).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"), col("props")))
        .reduce(_ union _), "events")

      write((0 until 10).map(i => t.lineitem.withColumn("l_orderkey",
        col("l_orderkey") + lit(i.toLong * 10000000L)))
        .reduce(_ union _), "lineitem")

      marker.createNewFile()
    }
    dir
  }
}

/** Third bench scale: the 100x flagship-dedup corpus (documents only).
  *
  * Replica design keeps near-dup structure BOUNDED so both the LSH
  * CANDIDATE volume and the verified-pair output stay linear in corpus
  * size at ANY replica count. A suffix salt can't do that: two replicas
  * of the same base doc would still share almost every 3-gram shingle
  * (Jaccard (T-2)/(T-2+2k) for k salt tokens), so they'd stay band
  * candidates — and with reps=2000 each base doc becomes a ~4000-member
  * candidate clique, ~8M verify pairs per base doc. Instead every
  * SECOND word is tagged with a replica key: any 3 consecutive tokens
  * contain a tagged one, so same-base replicas share ZERO 3-gram
  * shingles (J ~= 0, band collisions only at random), while within a
  * replica half the tokens keep the base corpus' word distribution.
  * Duplicate structure that SHOULD be found is planted per base doc via
  * `(doc_id + rep) % reps`: slot 0 and slot 1 share the family tag —
  * slot 1 with one extra trailing token, so the pair verifies at
  * J = (T-2)/(T-1) in (0.9, 1) for all but the shortest docs: a true
  * NEAR dup, not just the
  * registry query's own +1000000 EXACT twins. Expected verified pairs
  * ~= corpus size (one twin pair per doc + the bounded fam cliques).
  */
object BenchScale100 {
  /** `lowDup = true` generates the real-world-rate variant: only slot 0
    * carries the family tag, so every tag is unique and NO near-dup
    * pairs are planted — candidates arise only from random band
    * collisions. This is the corpus where the verify-stage semi-join
    * prune matters: shuffle bytes must track the (near-empty) candidate
    * set, not the corpus (r13 What's-wrong 2's "1% vs 100%" case).
    */
  def ensure(spark: SparkSession, sfDir: String, cpus: Int, reps: Int,
      lowDup: Boolean = false): String = {
    require(reps >= 2, s"reps must be >= 2 (got $reps)")
    // v2: word-tagged replicas (suffix-salted v1 dirs are invalid — same-
    // base replicas stayed band candidates and the pair count went
    // quadratic in reps); the version bump orphans any cached v1 corpus
    val variant = if (lowDup) "_lowdup" else ""
    val dir =
      s"target/bench_100x_v2_${new java.io.File(sfDir).getName}_r$reps$variant"
    val marker = new java.io.File(s"$dir/_READY")
    if (!marker.exists()) {
      val d = Tables(spark, sfDir).documents
      // rep id-offset 1e7 clears the registry queries' +1000000 planted-
      // twin shift (base doc_id < 1e6), so ids never collide — GUARDED:
      // a larger base sf would otherwise silently alias docs across
      // replicas and break the unique-tag scaling property
      val maxDoc = d.agg(max(col("doc_id")).cast("long")).head.getLong(0)
      require(maxDoc < 10000000L,
        s"replica shift 1e7 would alias doc ids (max doc_id $maxDoc)")
      val rep = spark.range(reps.toLong).select(col("id").as("rep"))
      val gid = col("rep") * 10000000L + col("doc_id")
      val slot = (col("doc_id") + col("rep")) % reps
      val tagCut = if (lowDup) 1 else 2
      val tag = when(slot < tagCut, concat(lit("f"), col("doc_id")))
        .otherwise(concat(lit("u"), gid))
      val tagged = concat_ws(" ",
        transform(split(col("text"), " "),
          (w, i) => when(i % 2 === 1, concat(w, lit("#"), tag)).otherwise(w)))
      d.crossJoin(rep).select(
          gid.as("doc_id"),
          when(slot === 1, concat(tagged, lit(" zf"), col("doc_id")))
            .otherwise(tagged).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(cpus * 4)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      marker.createNewFile()
    }
    dir
  }

  /** 100x events corpus: the base events replicated with SHIFTED user
    * ids (each replica is a fresh user population — per-user event
    * counts stay at the base density, so the corpus scales users, not
    * per-user history; a same-user replication would instead grow every
    * user's event list linearly in reps and conflate "more users" with
    * "hotter users"). Feeds the event-analytics / time-series 100x rows.
    */
  def ensureEvents(spark: SparkSession, sfDir: String, cpus: Int,
      reps: Int): String = {
    require(reps >= 2, s"reps must be >= 2 (got $reps)")
    val dir =
      s"target/bench_100x_ev_${new java.io.File(sfDir).getName}_r$reps"
    val marker = new java.io.File(s"$dir/_READY")
    if (!marker.exists()) {
      val ev = Tables(spark, sfDir).events
      // the shifts assume base ids fit under them; at a larger base sf
      // replicas would silently alias users/events across replicas and
      // break the fresh-user-population-per-replica scaling property —
      // guard loudly instead
      val mx = ev.agg(max(col("event_id")).cast("long"),
        max(col("user_id")).cast("long")).head
      require(mx.getLong(0) < 100000000L && mx.getLong(1) < 10000000L,
        s"replica shifts would alias ids (max event_id ${mx.getLong(0)}, " +
          s"max user_id ${mx.getLong(1)})")
      val rep = spark.range(reps.toLong).select(col("id").as("rep"))
      ev.crossJoin(rep).select(
          (col("rep") * 100000000L + col("event_id")).as("event_id"),
          col("ts"),
          (col("rep") * 10000000L + col("user_id")).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(cpus * 4)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      marker.createNewFile()
    }
    dir
  }

  /** 100x embeddings corpus: every replica is the base unit vector
    * shifted by a STRONG deterministic pseudo-random direction keyed by
    * its global id (components in [-3, 3] per dim, so the shift
    * dominates the unit base) — all replicas are mutually low-cosine
    * and candidate volume stays linear at any replica count, the
    * embedding twin of the word-tag design above (a small +eps*i
    * perturbation can't do that: replicas of one base would stay
    * band-colliding near-dups and the pair count would go quadratic in
    * reps). Near-dup structure comes from the QUERY side (perturbed
    * twins of the whole corpus), mirroring the registry query's shape.
    */
  def ensureEmbeddings(spark: SparkSession, sfDir: String, cpus: Int,
      reps: Int): String = {
    require(reps >= 2, s"reps must be >= 2 (got $reps)")
    val dir =
      s"target/bench_100x_emb_${new java.io.File(sfDir).getName}_r$reps"
    val marker = new java.io.File(s"$dir/_READY")
    if (!marker.exists()) {
      val e = Tables(spark, sfDir).embeddings
      val rep = spark.range(reps.toLong).select(col("id").as("rep"))
      val gid = col("rep") * 10000000L + col("vec_id")
      e.crossJoin(rep).select(
          gid.as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") +
              (pmod(xxhash64(gid, i), lit(2001)) - lit(1000))
                .cast("double") / 1000.0 * 3.0).as("embedding"),
          col("label"))
        .repartition(cpus * 4)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      marker.createNewFile()
    }
    dir
  }

  /** Replica count of the `reps`-scaled corpora when
    * SPARK_GRAFT_BENCH_100X_REPS is unset (sf0.1 base -> 5M docs, 10M
    * after the registry query's planted-twin union): the r12/r13 asks
    * named the multi-million-doc mark for the flagship proof.
    */
  val DefaultReps: Int = 1000

  /** Shuffle partitions of the 100x tier. 32 fit the sf0.1 registry
    * loop, but the 100x corpus shuffles 10-20 GB — over 32 partitions
    * that is ~500 MB per task, OOM territory with all 32 cores resident
    * (observed at reps=1000 in the default heap). cpus*16 keeps tasks at
    * tens-of-MB; AQE coalesces lighter stages back down, so only the
    * genuinely-big exchanges fan wide — the same
    * shuffle.partitions-tracks-data-size rule a 1000-executor deployment
    * applies.
    */
  def shufflePartitions(cpus: Int): Int = cpus * 16

  /** One 100x row: `setup` generates the corpora and seeds the standing
    * state the row reads (cached under `target/`, so a repeat is a
    * marker check), `plan` builds the timed plan.
    */
  final case class Row(name: String, setup: () => Unit,
      plan: () => DataFrame)

  /** A cached-state marker is only valid for the CORPUS it was seeded
    * from: the marker stores a fingerprint (source dir + size), and a
    * regenerated corpus (different reps/sf under the same path) forces a
    * re-seed instead of silently admitting against stale state.
    */
  private def ensureSeededFor(markerPath: String, fingerprint: String)(
      seedFn: => Unit): Unit = {
    val p = java.nio.file.Paths.get(markerPath)
    val cur =
      try { if (java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p).trim else "" }
      catch { case _: Throwable => "" }
    if (cur != fingerprint) {
      seedFn
      java.nio.file.Files.writeString(p, fingerprint + "\n")
    }
  }

  /** The 100x tier at `reps` replicas: its `rows` in bench order, and
    * the main corpus most of them read (`dir100`, holding `nDocs`
    * documents). Each corpus is generated on first use by a row's setup,
    * so a single row (`Profile 100x:<row>`) pays only for its own inputs.
    */
  final class Table(spark: SparkSession, sfDir: String, cpus: Int,
      reps: Int) {
    lazy val dir100: String = ensure(spark, sfDir, cpus, reps)
    lazy val nDocs: Long =
      spark.read.parquet(s"$dir100/documents.parquet").count()
    // two fixed reps=100 comparison rows: `_r100` re-runs the registry
    // query on r13's exact corpus (recorded 4.58 GB of verify-stage
    // shuffle read before the semi-join prune), and `_lowdup_r100` runs
    // the RAW operator (no planted-twin union — the union would make
    // every doc a candidate again) on the no-planted-dups corpus, where
    // pruned verify bytes must track the near-empty candidate set
    // instead of the corpus
    private lazy val dirR100 = ensure(spark, sfDir, cpus, 100)
    private lazy val dirLow = ensure(spark, sfDir, cpus, 100, lowDup = true)
    private def registry(name: String, dir: => String) =
      Row(name, () => { dir; () }, () => SparkEntry.queries(name)(spark, dir))
    private val rawLshLow = () => graft.operators.Dedup.nearDupPairsMinhash(
      spark.read.parquet(s"$dirLow/documents.parquet")
        .select(col("doc_id"), col("text")),
      "doc_id", "text", n = 3, bands = 8, rows = 4, threshold = 0.9)
    // embedding family: the registry query's shape (corpus vs its
    // +0.05-perturbed twins through the RHP-banded incremental path) at
    // reps x the base vectors — with bandBits 16 -> 32, because band
    // WIDTH is the embedding-LSH scale lever: 16-bit keys give 65536
    // buckets/band, so millions of vectors pile ~|corpus|/65536 per
    // bucket and candidates go quadratic; 32-bit bands keep buckets
    // sparse (same rule as "nCells grows with corpus" for IVF). 384/32 =
    // 12 bands holds twin recall ~1 at the twins' cos >= 0.999
    private lazy val dirEmb = ensureEmbeddings(spark, sfDir, cpus, reps)
    // band width derived from corpus size by the rule, not hand-picked:
    // bandBitsFor reproduces r14's measured choice (32 bits at 2M
    // vectors) and scales it with reps
    private lazy val nEmb =
      spark.read.parquet(s"$dirEmb/embeddings.parquet").count()
    private lazy val embBandBits =
      graft.operators.Similarity.bandBitsFor(2 * nEmb)
    private val rawEmbIncr = () => {
      val ref = spark.read.parquet(s"$dirEmb/embeddings.parquet")
      val fresh = ref.select(
        (col("vec_id") + 20000000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.05)).as("embedding"))
      graft.operators.Similarity.nearDupsAgainstEmbedding(ref, fresh,
        threshold = 0.75, dims = 64, nBits = 384, bandBits = embBandBits,
        expectedN = Some(2 * nEmb))
    }
    // 100x events (10M at an sf0.1 base): the r14 probes promoted to
    // artifact rows, so family regressions are caught by artifact diff.
    // Fixed reps=100 = the probed 10M mark.
    private lazy val dirEv = ensureEvents(spark, sfDir, cpus, 100)
    private val rawFunnel = () => graft.operators.EventAnalytics.windowFunnel(
      spark.read.parquet(s"$dirEv/events.parquet"),
      "user_id", "ts", "event_type",
      steps = Seq("view", "click", "purchase"), windowSec = 14400)
    private val rawTsChain = () => {
      val ev = spark.read.parquet(s"$dirEv/events.parquet")
      val rs = graft.operators.TimeSeries.resample(
        ev, Seq("user_id"), "ts", 3600, col("value"))
      val lo = graft.operators.TimeSeries.locf(rs, Seq("user_id"), "b", "v0")
      graft.operators.TimeSeries.movingAvg(lo, Seq("user_id"), "b", "v0", 6)
    }
    // PageRank over 5 hash-derived out-edges per doc (the r14 probe
    // recipe: ~2 nodes per doc, linear in edges, no hot node)
    private val rawPageRank = () => {
      val docs = spark.read.parquet(s"$dir100/documents.parquet")
        .select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"),
        explode(array((0 until 5).map(i =>
          pmod(xxhash64(col("doc_id"), lit(i)),
            lit(nDocs * 2))): _*)).as("dst"))
      graft.operators.Graph.pageRank(edges)
    }
    // the r14 disk-filling corpus through the DEFAULT operator path: 1M
    // assets degenerating to 494 identical-fingerprint cliques —
    // collapse-first must answer in seconds with ~zero pair output
    private val rawMmClique = () => graft.operators.Multimodal.imageNearDups(
      spark.range(1000000L).select(col("id").as("asset_id"),
        xxhash64(pmod(col("id"), lit(494))).as("dhash")),
      maxHamming = 3)
    // the heaviest text family as a standing artifact row (r15 ask: its
    // 53.2 GB banding payload at 5M docs was probe-only prose —
    // regressions were invisible to artifact diff). The LOW-DUP corpus at
    // full reps: unique word tags break shared 40-char windows across
    // replicas, so the witness-banding exchange IS the measured cost and
    // output stays near-empty — the shape whose prune-regression (forked
    // join subtree, 53.2 -> 95.3 GB) r14 measured and reverted
    private lazy val dirLowBig = ensure(spark, sfDir, cpus, reps, lowDup = true)
    private val rawWinnow = () =>
      graft.operators.Dedup.substringDupPairsWinnowed(
        spark.read.parquet(s"$dirLowBig/documents.parquet")
          .select(col("doc_id"), col("text")),
        "doc_id", "text", k = 40, w = 10)
    // standing-state admission row (the r16 probe recipe as a
    // machine-readable artifact): 1M standing fingerprints (5% in ~1000-
    // member hot cliques), admit 100K fresh assets against them — a
    // regression in admission cost or state-scan pruning shows up in
    // artifact diff, not just probe prose. The seeded state caches under
    // target/ behind a marker; every timed run re-admits the SAME batch
    // id 1, which BatchedState replays idempotently (reads state < 1 =
    // the seed only, overwrites the batch=1 delta), so state never grows
    // across runs or rounds.
    private def phashCorpus(ids: DataFrame) = ids.select(
      col("id").as("asset_id"),
      when(pmod(col("id"), lit(20L)) === 0,
          xxhash64(pmod(col("id"), lit(1000L))))
        .otherwise(xxhash64(col("id"), lit(99L))).as("fp"))
    private lazy val spd = {
      val phashDir = "target/bench_100x_phash_state_v1"
      val s = new graft.streaming.StreamingPhashDedup(spark, phashDir,
        "asset_id", "fp")
      ensureSeededFor(s"$phashDir/_BENCH_READY", "range1M-hot494-layoutv1") {
        s.seed(phashCorpus(spark.range(1000000L).toDF("id")))
      }
      s
    }
    private val rawPhashAdmit = () => spd.admit(
      phashCorpus(spark.range(1000000L, 1100000L).toDF("id")), 1L)
    // minhash standing-state admission (r18): the machine-readable proof
    // that the fp64 state layout keeps admit cost flat at 1M standing
    // DOCS (real text, the heavyweight twin of the phash row) — seed a
    // deterministic hash-slice of the 100x corpus once (cached behind a
    // corpus-fingerprinted marker), then admit 100K docs (half exact
    // twins, half suffix-perturbed) at a replay-idempotent batch id:
    // reads state < 1 = the seed only, overwrites its own batch=1 delta —
    // state never grows across runs or rounds.
    private def minhashCorpus = spark.read.parquet(s"$dir100/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(pmod(xxhash64(col("doc_id")), lit(5L)) === 0L)
    private lazy val smd = {
      val minhashDir = "target/bench_100x_minhash_state_fp64"
      val s = new graft.streaming.StreamingDedup(spark, minhashDir,
        "doc_id", "text", n = 3, bands = 8, rows = 4, threshold = 0.7)
      ensureSeededFor(s"$minhashDir/_BENCH_READY",
        s"src=$dir100 reps=$reps docs=$nDocs layout=fp64") {
        s.seed(minhashCorpus)
      }
      s
    }
    private val rawMinhashAdmit = () => smd.admit(
      minhashCorpus
        .filter(pmod(xxhash64(col("doc_id")), lit(50L)) === 0L)
        // shift clears the whole replicated-corpus id space (gids reach
        // ~reps*1e7 ≈ 1e10): a colliding id would hit admit's
        // ref_id =!= new_id self-filter and silently suppress pairs
        .select((col("doc_id") + 20000000000L).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zzbench zzadmit")))
            .as("text")),
      1L)
    private def raw(name: String, plan: () => DataFrame)(setup: => Any) =
      Row(name, () => { setup; () }, plan)
    val rows: Seq[Row] = Seq(
      registry("dedup_minhash_lsh", dir100),
      registry("dedup_cluster_minhash", dir100),
      // second + third dedup families under the same telemetry (r13 task
      // 6 named simhash or embedding/RHP — run both)
      registry("dedup_simhash", dir100),
      raw("dedup_embedding_lsh_b32", rawEmbIncr)(embBandBits),
      registry("dedup_minhash_lsh", dirR100)
        .copy(name = "dedup_minhash_lsh_r100"),
      raw("dedup_minhash_lsh_lowdup_r100", rawLshLow)(dirLow),
      raw("graph_pagerank", rawPageRank)(nDocs),
      raw("events_funnel", rawFunnel)(dirEv),
      raw("timeseries_chain", rawTsChain)(dirEv),
      Row("mm_phash_clique_1m", () => (), rawMmClique),
      raw("dedup_substring_winnow", rawWinnow)(dirLowBig),
      raw("stream_phash_admit_1m", rawPhashAdmit)(spd),
      raw("stream_minhash_admit_1m", rawMinhashAdmit)(smd))
  }
}

/** One 100x-tier artifact row: `best` and `tel` are the MIN run's
  * (telemetry stays attributable to the recorded number), `runs` keeps
  * every run visible so an outlier is self-explaining.
  */
final case class Row100(name: String, best: Measure.Sample,
    tel: StageTelemetry.Totals, runs: Seq[Measure.Sample])


object Bench {
  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def wallSec: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the shipped session: the bench measures what the engine ships
    val spark = GraftSession.local(cpus.toInt)
    // the bounded pool-rank windows (Retrieval.scala, documented
    // <= 2*poolK pools by construction) and oracle-shape SQL emit
    // hundreds of "No Partition Defined for Window operation" WARNs per
    // run — they drowned the driver's truncated r18 log tail. The
    // warning carries no signal for those plans; silence that one
    // logger, keep WARN everywhere else
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

    // a failing query must fail the bench LOUDLY — a swallowed crash
    // would score ~0s and *improve* the total (declared up front so
    // env-parse problems can land here instead of aborting the bench)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // resolved ONCE and used by both the measurement loops and the
    // emitted artifact fields — re-reading the raw env at emit time let
    // the artifact misstate the protocol actually run. Malformed values
    // fall back to the default and are RECORDED: aborting the whole
    // bench over a typo'd tuning knob would lose every tier's
    // measurement
    def envOr[A](name: String, default: A)(parse: String => A): A =
      sys.env.get(name).flatMap { v =>
        val p = scala.util.Try(parse(v.trim)).toOption
        if (p.isEmpty) errors(s"env:$name") = v
        p
      }.getOrElse(default)
    val runs = envOr("SPARK_GRAFT_BENCH_RUNS", 3)(_.toInt).max(1)
    val runs100 = envOr("SPARK_GRAFT_100X_RUNS", 2)(_.toInt).max(1)
    val extGate = envOr("SPARK_GRAFT_100X_EXT_GATE", 4.0)(_.toDouble)
    // ---- wall budget (r19): BENCH_r18 was rc 124 / parsed null — the
    // driver killed a run whose optional work (contended re-runs,
    // min-of-N extras) grows exactly when the box is slow. Past the
    // budget every remaining row still RUNS (each is a graded artifact
    // row) but drops to one timed run, skips warm-ups where the 1x loop
    // already JIT-warmed the path, and sheds re-run-under-load retries;
    // everything shed is recorded in the artifact's `shed` map. The
    // budget bounds OPTIONAL work — it never drops a row, so a
    // pathological wall can still exceed it; the incremental flush
    // below is the backstop that makes even a kill non-destructive.
    //
    // r20: the DEFAULT budget scales with the core count (reference:
    // 3000 s at 32 cores — the driver's observed kill window is a FIXED
    // wall regardless of cores, while every mandatory row's cost grows
    // as cores shrink, so a lower-core run must shed optional work
    // proportionally earlier to fit the same kill: BENCH_r19_c8 hit the
    // hard rc 124 at 3573 s because its budget was still 3000), floored
    // at 750 s so an env-less run (SPARK_GRAFT_CPUS defaults to 4) keeps
    // its optional runs. An explicit SPARK_GRAFT_BENCH_BUDGET_SEC stays
    // absolute.
    val budgetSec = envOr("SPARK_GRAFT_BENCH_BUDGET_SEC",
      math.max(750.0, 3000.0 * cpus.toInt / 32.0))(_.toDouble)
    def overBudget: Boolean = wallSec > budgetSec
    // r20 shed policy (VERDICT r19 item 1a): the r19 shed dropped every
    // remaining 100x row to min-of-1 once the budget was EXHAUSTED —
    // which (a) started too late to fit (the mandatory single runs of
    // the expensive tail alone overran), and (b) shed exactly the wrong
    // runs: a second run of a sub-second detector row costs nothing and
    // is the difference between a graded 0.3 s and a graded 6.1 s of box
    // weather, while a second 158 s winnow run is the budget. So:
    // optional extras of EXPENSIVE rows shed at a SOFT threshold
    // (leaving headroom for the mandatory tail), and rows whose first
    // run came in under `cheap100Sec` keep min-of-2 even past the full
    // budget (never past the driver's kill — a second cheap run is
    // seconds).
    val cheap100Sec = envOr("SPARK_GRAFT_100X_CHEAP_SEC", 30.0)(_.toDouble)
    def overSoftBudget: Boolean = wallSec > budgetSec * 0.8
    // contended re-runs capped GLOBALLY, not per row: the r18 protocol
    // allowed +2 runs per row — 13 rows x (wait + run) is how a 45-min
    // bench becomes a >60-min one precisely when the box is busy
    var extrasLeft = envOr("SPARK_GRAFT_100X_EXTRA_CAP", 4)(_.toInt).max(0)

    // ---- incremental artifact (r19): every tier/row records into the
    // buffers below and flushes target/bench_last.json immediately,
    // marked `"partial":true` until the final write — a timeout/SIGTERM
    // (the r18 failure: ONE write at the very end, rc 124 = zero parsed
    // rows) now yields a parseable artifact holding every completed
    // measurement. A JVM shutdown hook re-flushes on the way out.
    val artifact = new Object
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, Long, Seq[Double], Seq[Double]))]
    var ingest: Option[(Long, Double, Seq[Double], Seq[Double], Seq[Double],
      Seq[Double])] = None
    var ext1xOpt: Option[Double] = None
    var io1xOpt: Option[Double] = None
    val rows10 = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, Long, Seq[Double], Seq[Double]))]
    var ran10 = false
    var ext10xOpt: Option[Double] = None
    var io10xOpt: Option[Double] = None
    var meta100: Option[(Int, Long)] = None
    var setup100Sec: Option[Double] = None
    val rows100buf = scala.collection.mutable.ArrayBuffer.empty[Row100]
    var isoState: Option[((Long, Double, Seq[Double], Seq[Double],
      Seq[Double], Seq[Double]), Double, Double, Boolean)] = None
    val shed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var finalWritten = false
    def record(f: => Unit): Unit = artifact.synchronized(f)

    def jstr(s: String): String = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ") + "\""
    def qjson(
        rs: Seq[(String, (Double, Long, Seq[Double], Seq[Double]))]): String =
      rs.map { case (k, (sec, nRows, all, loads)) =>
        val runsJson =
          if (all.isEmpty) "" else all.mkString(""","runs":[""", ",", "]")
        val loadJson =
          if (loads.isEmpty) "" else loads.mkString(""","load":[""", ",", "]")
        "\"" + k + s"""":{"sec":$sec,"rows":$nRows$runsJson$loadJson}"""
      }.mkString("{", ",", "}")
    def extJson(tag: String, v: Double): String =
      s""","ext_cores_$tag":${math.rint(v * 100) / 100}"""
    def ioJson(tag: String, v: Double): String =
      s""","io_psi_$tag":${math.rint(v * 1000) / 1000}"""
    // the whole current state as ONE artifact line — same field layout
    // as every prior round's final artifact, plus `partial`/`wall_sec`/
    // `budget_sec`/`shed` so a truncated run is self-describing
    def emitLine(partial: Boolean): String = {
      val qs = qjson(results.toSeq ++
        ingest.map(ing => ("ingest_json", (ing._2, ing._1, ing._3, ing._4))))
      val total = results.map(_._2._1).sum + ingest.map(_._2).getOrElse(0.0)
      val ingestJson = ingest.map { ing =>
        s""","ingest_rows":${ing._1},""" +
          s""""ingest_rows_per_sec":${(ing._1 / ing._2).toLong}"""
      }.getOrElse("")
      val scaleJson = (if (ran10)
        s""","queries_10x":${qjson(rows10.toSeq)},""" +
          s""""total_10x":${rows10.map(_._2._1).sum}"""
      else "") + ext10xOpt.map(extJson("10x", _)).getOrElse("") +
        io10xOpt.map(ioJson("10x", _)).getOrElse("")
      val scale100Json = meta100.map { case (reps, nDocs) =>
        val qs100 = rows100buf.map { r =>
          val (b, t) = (r.best, r.tel)
          def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
          "\"" + r.name + s"""":{"sec":${b.sec},"rows":${b.rows},""" +
            s""""load":${b.load},"ext_cores":${math.rint(b.ext * 100) / 100},""" +
            s""""runs":${arr(r.runs.map(_.sec))},"loads":${arr(r.runs.map(_.load))},""" +
            s""""ext":${arr(r.runs.map(x => math.rint(x.ext * 100) / 100))},""" +
            s""""io":${arr(r.runs.map(x => math.rint(x.io * 1000) / 1000))},""" +
            s""""shuffle_write_bytes":${t.writeBytes},""" +
            s""""shuffle_read_bytes":${t.readBytes},""" +
            s""""max_task_shuffle_read_bytes":${t.maxTaskRead},""" +
            s""""read_tasks":${t.readTasks},""" +
            s""""skew_max_over_mean":${math.rint(t.skew * 100) / 100},""" +
            s""""stage_skew":${math.rint(t.stageSkew * 100) / 100},""" +
            s""""disk_spill_bytes":${t.spillBytes}}"""
        }.mkString("{", ",", "}")
        s""","queries_100x":$qs100,"reps_100x":$reps,"docs_100x":$nDocs,""" +
          s""""runs_100x":$runs100,"ext_gate_100x":$extGate""" +
          setup100Sec.map(s => s""","setup_100x_sec":${math.rint(s)}""")
            .getOrElse("")
      }.getOrElse("")
      val isoJson = isoState.map { case (ii, waitS, isoGate, gateMet) =>
        val runsJ = ii._3.mkString("[", ",", "]")
        val loadJ = ii._4.mkString("[", ",", "]")
        val extJ = ii._5.map(x => math.rint(x * 100) / 100)
          .mkString("[", ",", "]")
        val ioJ = ii._6.map(x => math.rint(x * 1000) / 1000)
          .mkString("[", ",", "]")
        s""","ingest_isolated":{"sec":${ii._2},"rows":${ii._1},""" +
          s""""rows_per_sec":${(ii._1 / ii._2).toLong},""" +
          s""""wait_sec":${math.rint(waitS)},"ext_gate":$isoGate,""" +
          s""""gate_met":$gateMet,""" +
          s""""runs":$runsJ,"load":$loadJ,"ext":$extJ,"io":$ioJ}"""
      }.getOrElse("")
      val errJson = errors
        .map { case (k, v) => jstr(k) + ":" + jstr(v.take(200)) }
        .mkString("{", ",", "}")
      val shedJson = if (shed.isEmpty) "" else
        shed.map { case (k, v) => jstr(k) + ":" + jstr(v) }
          .mkString(""","shed":{""", ",", "}")
      val partialJson = if (partial) ""","partial":true""" else ""
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir"$ingestJson""" +
        ext1xOpt.map(extJson("1x", _)).getOrElse("") +
        io1xOpt.map(ioJson("1x", _)).getOrElse("") +
        scaleJson + scale100Json + isoJson + partialJson +
        s""","wall_sec":${math.rint(wallSec)},"budget_sec":$budgetSec""" +
        shedJson + s""","errors":$errJson}"""
    }
    // overwrite-in-place after every tier/row; the file is the durable
    // artifact (the driver's stdout tail has truncated the line before),
    // stdout gets a copy at tier boundaries so a killed run's log tail
    // still ends in a parseable line
    def flush(partial: Boolean, toStdout: Boolean,
        markFinal: Boolean = false): Unit = artifact.synchronized {
      val line = emitLine(partial)
      if (toStdout) println(line)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_last.json"), line + "\n")
      catch { case e: Throwable =>
        System.err.println(
          s"[bench] bench_last.json write failed: ${e.getMessage}")
      }
      if (markFinal) finalWritten = true
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      artifact.synchronized {
        if (!finalWritten) {
          System.err.println(s"[bench] shutdown before the final write " +
            s"(wall ${math.rint(wallSec)} s) — flushing partial artifact")
          flush(partial = true, toStdout = true)
        }
      }
    }, "bench-artifact-flush"))

    // JIT/codegen warm-up so the first timed query isn't charged for it
    SparkEntry.queries("q1_agg")(spark, sfDir).count()
    SparkEntry.queries("q_parse_typed")(spark, sfDir).limit(1000).count()

    // EXTERNAL busy cores over a 3 s window ([[ExternalLoad]]) — the
    // gate statistic for the isolated-ingest row and the 100x tier, and
    // the attribution marker recorded with the 1x/10x totals (the 1x
    // registry total swung 262-325 s with box load across r16/r17 and
    // the loadavg samples could not say whose load it was)
    def instantExt(): Double =
      ExternalLoad.trySnap().map { a =>
        Thread.sleep(3000)
        ExternalLoad.coresSince(Some(a), cpus.toInt)
      }.getOrElse(-1.0)

    // headline: the reference's benchmark shape — JSON messages through
    // parse + tolerant typed projection (BASELINE.md: 142K rows/s/instance).
    // The event table is replicated 30x so the timed window is seconds,
    // not a sub-second blip dominated by scheduling noise.
    def ingestRun(): (Long, Double, Seq[Double], Seq[Double], Seq[Double],
        Seq[Double]) = {
      val events = Tables(spark, sfDir).events
      val one = events.select(to_json(struct(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("time"),
        col("event_type").as("name"),
        col("value").as("value"),
        col("value").as("price"),
        col("user_id").as("uid"),
        col("event_id").as("id"))).as("value"))
      val raw = (1 to 30).map(_ => one).reduce(_ union _)
        // mimic a Kafka source's partitioning (one partition per core)
        .repartition(cpus.toInt).persist()
      val n = raw.count()
      val dims = Seq(
        Dim("time", ChType.whichType("DateTime")),
        Dim("name", ChType.whichType("String")),
        Dim("value", ChType.whichType("Float64")),
        Dim("price", ChType.whichType("Decimal32(3)")),
        Dim("uid", ChType.whichType("UInt32")),
        Dim("id", ChType.whichType("Int64")))
      val projected = Projector.projectJson(raw, dims, ParseOpts())
      projected.write.format("noop").mode("overwrite").save() // warm
      // best of N timed runs: the measurement competes with GC/OS noise
      val timedRuns = (1 to runs).map { _ =>
        Measure.withContext(cpus.toInt) {
          val t0 = System.nanoTime()
          projected.write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, n)
        }
      }
      raw.unpersist()
      (n, timedRuns.map(_.sec).min, timedRuns.map(_.sec),
        timedRuns.map(_.load), timedRuns.map(_.ext), timedRuns.map(_.io))
    }
    // measure OUTSIDE the artifact lock — a SIGTERM mid-measurement must
    // not find the hook blocked behind a minutes-long tier
    val ingest0 = ingestRun()
    record { ingest = Some(ingest0) }
    flush(partial = true, toStdout = false)

    // contention hardening: MIN of `runs` timed executions per query —
    // median-of-N cannot reject machine contention that spans the whole
    // bench window (observed twice on the shared driver box), min is the
    // standard contention-robust wall-time statistic. Per-run times are
    // emitted alongside so outliers stay visible in the artifact, and
    // the output row count ([[Measure.runOnce]]'s observation ON the timed
    // run) guards against a silently-empty result scoring fast.
    // (min sec, rows, per-run secs, per-run 1-min loadavg); the warm-up
    // is runOnce too — the same plan as the timed runs, not a count()
    // that could prune columns/projections and leave the first timed run
    // cold
    def timedN(errKey: String, mk: () => DataFrame,
        nRuns: Int, warm: Boolean): (Double, Long, Seq[Double], Seq[Double]) =
      try {
        if (warm) Measure.runOnce(spark, mk)
        val rs = (1 to nRuns).map { _ =>
          val la = Measure.loadAvg(); (Measure.runOnce(spark, mk), la)
        }
        (rs.map(_._1._1).min, rs.head._1._2, rs.map(_._1._1), rs.map(_._2))
      } catch {
        case e: Throwable =>
          errors(errKey) =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          (0.0, -1L, Nil, Nil)
      }
    def timed(errKey: String, mk: () => DataFrame)
        : (Double, Long, Seq[Double], Seq[Double]) =
      timedN(errKey, mk, runs, warm = true)
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=a,b,c times just those
    // queries (1x and 10x); the driver never sets it, so the graded
    // artifact always covers the full registry
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // a typo'd name would otherwise silently filter everything out and
    // produce an empty-but-plausible artifact — surface it in errors
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        errors("bench_only_unknown") = unknown.toSeq.sorted.mkString(",")
    }
    var shed1x = 0
    val e1x0 = ExternalLoad.trySnap()
    val io1x0 = IoPressure.totalStallUs()
    val t1x0 = System.nanoTime()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // past the budget: one timed run, no extra warm-up — the
        // min-of-N extras are exactly the optional work the budget sheds
        val r =
          if (overBudget) {
            shed1x += 1
            timedN(name, () => fn(spark, sfDir), 1, warm = false)
          } else timed(name, () => fn(spark, sfDir))
        record { results += name -> r }
        flush(partial = true, toStdout = false)
      }
    record {
      ext1xOpt = Some(ExternalLoad.coresSince(e1x0, cpus.toInt))
      io1xOpt = Some(IoPressure.stallFrac(io1x0, IoPressure.totalStallUs(),
        (System.nanoTime() - t1x0) / 1e9))
      if (shed1x > 0) shed("1x") = s"single-run-no-warm:$shed1x"
    }
    flush(partial = true, toStdout = true)

    // ---- second scale: the same headline queries over a 10x corpus
    // ("sf1" when driven at sf0.1) so shuffle-heavy queries produce
    // non-noise numbers. Replicas are id-shifted and lightly perturbed
    // (suffix token / +0.001*i on embeddings) so they are near- but not
    // exact duplicates — a cluster-heavy dedup workload, the hard case.
    val e10x0 = ExternalLoad.trySnap()
    val io10x0 = IoPressure.totalStallUs()
    val t10x0 = System.nanoTime()
    try {
      val dir = BenchScale.ensure10x(spark, sfDir, cpus.toInt)
      var shed10x = 0
      record { ran10 = true }
      BenchScale.headline
        .filter(name => only.forall(_.contains(name)))
        .foreach { name =>
          // multi-batch streaming replays get ONE timed run, no warm-up:
          // they already executed (warm + runs) times in the 1x registry
          // loop above, and each 10x execution is minutes of checkpoint
          // orchestration — a min-of-3 would triple bench wall for a
          // number whose noise floor is file IO, not scheduling
          val r =
            if (BenchScale.singleRun(name))
              timedN(s"10x:$name",
                () => SparkEntry.queries(name)(spark, dir), 1, warm = false)
            else if (overBudget) {
              shed10x += 1
              timedN(s"10x:$name",
                () => SparkEntry.queries(name)(spark, dir), 1, warm = false)
            } else
              timed(s"10x:$name", () => SparkEntry.queries(name)(spark, dir))
          record { rows10 += name -> r }
          flush(partial = true, toStdout = false)
        }
      record { if (shed10x > 0) shed("10x") = s"single-run-no-warm:$shed10x" }
    } catch { case e: Throwable =>
      errors("10x:setup") =
        Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
    }
    record {
      ext10xOpt = Some(ExternalLoad.coresSince(e10x0, cpus.toInt))
      io10xOpt = Some(IoPressure.stallFrac(io10x0, IoPressure.totalStallUs(),
        (System.nanoTime() - t10x0) / 1e9))
    }
    flush(partial = true, toStdout = true)

    // ---- third scale: the 100x flagship proof. The registry's minhash
    // dedup + clustering, executed end-to-end on a corpus 100x the base
    // sf (driver sf0.1 -> 500k docs, 1M after the query's planted-twin
    // union), with shuffle-byte / skew / spill telemetry riding on the
    // run — the "would this survive a scale-up" claim as a measurement,
    // not a plan-reading. The rows are [[BenchScale100.Table]]'s; every
    // row's setup (corpus generation, cached under target/ behind a
    // _READY marker, so only the first round pays it; `setup_100x_sec`
    // records what this run paid) runs before any row is timed. One
    // timed run per query at the budget, min-of-`runs100` otherwise.
    // SPARK_GRAFT_BENCH_100X=0 skips; _REPS overrides the replica count
    // (e.g. 2000 -> 10M docs).
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_100X", "1") != "0" &&
        only.isEmpty) {
      try {
        val setupT0 = System.nanoTime()
        val reps = envOr("SPARK_GRAFT_BENCH_100X_REPS",
          BenchScale100.DefaultReps)(_.toInt)
        val table = new BenchScale100.Table(spark, sfDir, cpus.toInt, reps)
        val nDocs = table.nDocs
        record { meta100 = Some((reps, nDocs)) }
        table.rows.foreach(_.setup())
        record { setup100Sec = Some((System.nanoTime() - setupT0) / 1e9) }
        flush(partial = true, toStdout = false)
        val tel = StageTelemetry.attach(spark.sparkContext)
        val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
          BenchScale100.shufflePartitions(cpus.toInt).toString)
        // ---- measurement protocol (the ingest row's gate, carried to
        // this tier — r16's single un-gated runs swung ±2-4x with box
        // load while the code got strictly better): MIN of `runs100`
        // timed runs per row, each with its 1-min loadavg AND its
        // measured EXTERNAL busy cores ([[ExternalLoad]]: /proc/stat
        // minus our own JVM — the 1-min loadavg can't gate a tier that
        // saturates the box itself). If even the fastest run was taken
        // under external contention (> extGate cores), wait for the
        // hog to drain (bounded) and re-run — globally capped at
        // `extrasLeft` extra runs across the whole tier and shed
        // entirely past the wall budget. The recorded number is (a) a
        // minimum, and (b) provably taken on a quiet-enough box, or
        // the emitted ext field / shed entry says otherwise.
        def waitExternal(): Unit = {
          val t0 = System.nanoTime()
          var ext = instantExt()
          while (ext > extGate && (System.nanoTime() - t0) / 1e9 < 180) {
            Thread.sleep(10000); ext = instantExt()
          }
        }
        try table.rows.foreach { row =>
          val name = row.name
          try {
            val all = scala.collection.mutable.ArrayBuffer
              .empty[(Measure.Sample, StageTelemetry.Totals)]
            def one(): Unit = {
              val s = Measure.sample(spark, cpus.toInt, tel, row.plan)
              all += ((s, tel.totals))
            }
            def best = all.minBy(_._1.sec)
            one()
            // budget shed, r20 shape: the first run's own wall decides
            // what this row may cost in extras — sub-`cheap100Sec` rows
            // keep min-of-2 even past the budget (a second run is
            // seconds, and these rows are the regression detectors the
            // r19 min-of-1 shed handed to box weather), expensive rows
            // shed extras from the SOFT threshold so the mandatory tail
            // still fits
            val wantRuns =
              if (!overSoftBudget) runs100
              else if (all.head._1.sec <= cheap100Sec) math.min(runs100, 2)
              else 1
            if (wantRuns < runs100) record {
              shed(s"100x:$name") = s"runs=$wantRuns(" +
                (if (wantRuns >= 2) "budget,cheap-min2)" else "budget)")
            }
            (2 to wantRuns).foreach(_ => one())
            while (best._1.ext > extGate && extrasLeft > 0 && !overBudget) {
              waitExternal(); one(); extrasLeft -= 1
            }
            if (best._1.ext > extGate)
              record { shed(s"100x:$name:rerun") =
                if (overBudget) "skipped(budget)"
                else if (extrasLeft <= 0) "skipped(global-cap)"
                else "exhausted" }
            record {
              rows100buf += Row100(name, best._1, best._2, all.map(_._1).toSeq)
            }
            flush(partial = true, toStdout = true)
          } catch {
            case e: Throwable =>
              errors(s"100x:$name") =
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
        } finally {
          spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
          tel.detach()
        }
      } catch {
        case e: Throwable =>
          errors("100x:setup") =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          flush(partial = true, toStdout = false)
      }
    }

    // ---- isolated ingest re-run: same measurement as the in-loop
    // headline but taken AFTER the full registry + scales have drained,
    // with its own load + external-cores samples — the machine-readable
    // twin of the BENCHNOTES "isolated re-run" prose (r12 What's-wrong
    // #4). GATED on EXTERNAL busy cores draining first (the 100x tier's
    // r17 gate applied to the one row that feeds bench_vs_baseline —
    // r17 recorded this row at loadavg ~7.9 against a 6.0 loadavg gate
    // after the wait expired, because loadavg lags our own just-drained
    // loops by its 60 s time constant; ExternalLoad subtracts this JVM
    // out, so the wait ends as soon as the box is OURS-quiet). If the
    // fastest run still saw external contention, wait-and-re-measure up
    // to twice; past that (or past the wall budget, which sheds the
    // waits and retries — the row itself always runs) we record anyway
    // and gate_met says so.
    val isoExtGate = envOr("SPARK_GRAFT_ISO_EXT_GATE", 2.0)(_.toDouble)
    // each wait gets its OWN bounded budget (a shared budget anchored
    // before the first measurement would be exhausted by the
    // measurement itself, turning the retry waits into silent no-ops),
    // and wait_sec reports the CUMULATIVE wall spent waiting
    var isoWaitSec = 0.0
    def waitIsoExternal(): Unit = {
      val t0 = System.nanoTime()
      var ext = instantExt()
      while (ext > isoExtGate && (System.nanoTime() - t0) / 1e9 < 600) {
        Thread.sleep(15000); ext = instantExt()
      }
      isoWaitSec += (System.nanoTime() - t0) / 1e9
    }
    if (!overBudget) waitIsoExternal()
    else record { shed("iso:wait") = "skipped(budget)" }
    // ext of the MIN run is what gate_met adjudicates (the recorded
    // number IS the min); extra attempts merge into the run arrays so
    // every sample stays visible
    def isoMinExt(r: (Long, Double, Seq[Double], Seq[Double], Seq[Double],
        Seq[Double])): Double = r._5(r._3.indexOf(r._2))
    var ingestIso = ingestRun()
    var isoExtra = 0
    while (isoMinExt(ingestIso) > isoExtGate && isoExtra < 2 && !overBudget) {
      waitIsoExternal()
      val again = ingestRun()
      ingestIso = (ingestIso._1, math.min(ingestIso._2, again._2),
        ingestIso._3 ++ again._3, ingestIso._4 ++ again._4,
        ingestIso._5 ++ again._5, ingestIso._6 ++ again._6)
      isoExtra += 1
    }
    if (isoMinExt(ingestIso) > isoExtGate && overBudget && isoExtra < 2)
      record { shed("iso:rerun") = "skipped(budget)" }
    val isoGateMet = {
      val e = isoMinExt(ingestIso); e >= 0 && e <= isoExtGate
    }
    record { isoState = Some((ingestIso, isoWaitSec, isoExtGate, isoGateMet)) }

    // the final (non-partial) artifact write; `markFinal` flips the
    // shutdown hook to a no-op inside the same lock, so the hook can
    // never clobber a complete artifact with a partial line
    flush(partial = false, toStdout = true, markFinal = true)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
