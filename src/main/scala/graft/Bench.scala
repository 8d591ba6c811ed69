package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ChGetters.ParseOpts
import graft.parse.Projector
import graft.parse.Projector.Dim
import graft.telemetry.{ExternalLoad, Measure, StageTelemetry}
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
      val maxDoc = d.agg(max(col("doc_id")).cast("long")).head().getLong(0)
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
        max(col("user_id")).cast("long")).head()
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

/** The registry bench: one JSON artifact line with the 1x registry, the
  * 10x headline rows, the 100x tier, the ingest headline and its
  * isolated re-run. Every tier records [[Bench.Timed]] rows into one
  * [[Bench.Record]], and [[Bench.line]] renders it.
  */
object Bench {
  /** Timed runs (min-of-N) per 1x and 10x row and per ingest measurement. */
  val Runs: Int = 3
  /** Timed runs per 100x row before the soft budget. */
  val Runs100: Int = 2
  /** Past the soft budget a 100x row keeps two runs if its first took at
    * most this long.
    */
  val Cheap100Sec: Double = 30.0
  /** External busy cores over which a run counts as contended ([[Rerun]]):
    * the 100x tier's and the isolated ingest row's.
    */
  val Gate100: Double = 4.0
  val GateIso: Double = 2.0

  /** The wall budget (r20): 3000 s at 32 cores, scaled with the core
    * count — the kill window is a FIXED wall while mandatory rows slow
    * down as cores shrink (BENCH_r19_c8 hit rc 124 at 3573 s under a flat
    * 3000) — and floored at 750 s so a 4-core run keeps its optional runs.
    */
  def budgetSec(cpus: Int): Double = math.max(750.0, 3000.0 * cpus / 32.0)

  /** Timed runs of a 100x row planned at `planned` (r20 shed policy):
    * all before the soft budget; past it, at most two for a row whose
    * first run took at most [[Cheap100Sec]] (a second run of a sub-second
    * detector row is the difference between a graded 0.3 s and 6.1 s of
    * box weather), else one, so the mandatory tail still fits.
    */
  def runs100(planned: Int, overSoftBudget: Boolean, firstSec: Double): Int =
    if (!overSoftBudget) planned
    else if (firstSec <= Cheap100Sec) math.min(planned, 2)
    else 1

  /** The `shed` note of a 100x row cut from `planned` to `runs` runs. */
  def shed100(planned: Int, runs: Int): Option[String] =
    if (runs >= planned) None
    else Some(s"runs=$runs(" +
      (if (runs >= 2) "budget,cheap-min2)" else "budget)"))

  /** One artifact row: its timed runs in order (none when it failed)
    * and, in the 100x tier, each run's stage totals. The row's number and
    * telemetry are its fastest run's; every run stays visible so an
    * outlier explains itself.
    */
  final case class Timed(name: String, runs: Seq[Measure.Sample],
      tels: Seq[StageTelemetry.Totals] = Nil) {
    private def fastest: Int = runs.indices.minBy(runs(_).sec)
    def best: Measure.Sample = runs(fastest)
    def bestTel: StageTelemetry.Totals = tels(fastest)
    def sec: Double = if (runs.isEmpty) 0.0 else best.sec
    /** The first run's output count; -1 when the row failed. */
    def rows: Long = runs.headOption.fold(-1L)(_.rows)
  }

  /** The 100x tier: replicas, corpus docs, corpus generation paid by this
    * run, and its rows.
    */
  final case class Tier100(reps: Int, docs: Long,
      setupSec: Option[Double] = None, rows: Vector[Timed] = Vector.empty)

  /** The isolated ingest row, with the wall spent waiting for external
    * load and whether its fastest run met [[GateIso]].
    */
  final case class Iso(run: Timed, waitSec: Double, gateMet: Boolean)

  /** Everything a bench run has recorded so far. `host1x`/`host10x` span
    * a whole tier: their `ext` and `io` are the tier's host context.
    */
  final case class Record(sf: String, budgetSec: Double,
      ingest: Option[Timed] = None,
      queries: Vector[Timed] = Vector.empty,
      host1x: Option[Measure.Sample] = None,
      queries10x: Option[Vector[Timed]] = None,
      host10x: Option[Measure.Sample] = None,
      tier100: Option[Tier100] = None,
      iso: Option[Iso] = None,
      shed: ListMap[String, String] = ListMap.empty,
      errors: ListMap[String, String] = ListMap.empty)

  private val mapper = new ObjectMapper()
  private def r2(x: Double): Double = math.rint(x * 100) / 100
  private def r3(x: Double): Double = math.rint(x * 1000) / 1000
  private def putAll(o: ObjectNode, key: String, xs: Seq[Double]): Unit = {
    val a = o.putArray(key)
    xs.foreach(x => a.add(x))
  }
  private def putRows(o: ObjectNode, rows: Seq[Timed]): Unit =
    rows.foreach { t =>
      val j = o.putObject(t.name).put("sec", t.sec).put("rows", t.rows)
      if (t.runs.nonEmpty) {
        putAll(j, "runs", t.runs.map(_.sec))
        putAll(j, "load", t.runs.map(_.load))
      }
    }

  /** The artifact line of `rec`: every prior round's field layout, plus
    * `partial`, `wall_sec`, `budget_sec` and `shed`, so a cut run
    * describes itself.
    */
  def line(rec: Record, wallSec: Double, partial: Boolean): String = {
    val o = mapper.createObjectNode()
    val rows1x = rec.queries ++ rec.ingest
    o.put("metric", "total").put("value", rows1x.map(_.sec).sum)
      .put("unit", "sec")
    putRows(o.putObject("queries"), rows1x)
    o.put("sf", rec.sf)
    rec.ingest.foreach(i => o.put("ingest_rows", i.rows)
      .put("ingest_rows_per_sec", (i.rows / i.sec).toLong))
    rec.host1x.foreach(h =>
      o.put("ext_cores_1x", r2(h.ext)).put("io_psi_1x", r3(h.io)))
    rec.queries10x.foreach { q =>
      putRows(o.putObject("queries_10x"), q)
      o.put("total_10x", q.map(_.sec).sum)
    }
    rec.host10x.foreach(h =>
      o.put("ext_cores_10x", r2(h.ext)).put("io_psi_10x", r3(h.io)))
    rec.tier100.foreach { t =>
      val q = o.putObject("queries_100x")
      t.rows.foreach { r =>
        val (b, tel) = (r.best, r.bestTel)
        val j = q.putObject(r.name).put("sec", b.sec).put("rows", b.rows)
          .put("load", b.load).put("ext_cores", r2(b.ext))
        putAll(j, "runs", r.runs.map(_.sec))
        putAll(j, "loads", r.runs.map(_.load))
        putAll(j, "ext", r.runs.map(s => r2(s.ext)))
        putAll(j, "io", r.runs.map(s => r3(s.io)))
        j.put("shuffle_write_bytes", tel.writeBytes)
          .put("shuffle_read_bytes", tel.readBytes)
          .put("max_task_shuffle_read_bytes", tel.maxTaskRead)
          .put("read_tasks", tel.readTasks)
          .put("skew_max_over_mean", r2(tel.skew))
          .put("stage_skew", r2(tel.stageSkew))
          .put("disk_spill_bytes", tel.spillBytes)
      }
      o.put("reps_100x", t.reps).put("docs_100x", t.docs)
        .put("runs_100x", Runs100).put("ext_gate_100x", Gate100)
      t.setupSec.foreach(s => o.put("setup_100x_sec", math.rint(s)))
    }
    rec.iso.foreach { iso =>
      val r = iso.run
      val j = o.putObject("ingest_isolated").put("sec", r.sec)
        .put("rows", r.rows).put("rows_per_sec", (r.rows / r.sec).toLong)
        .put("wait_sec", math.rint(iso.waitSec)).put("ext_gate", GateIso)
        .put("gate_met", iso.gateMet)
      putAll(j, "runs", r.runs.map(_.sec))
      putAll(j, "load", r.runs.map(_.load))
      putAll(j, "ext", r.runs.map(s => r2(s.ext)))
      putAll(j, "io", r.runs.map(s => r3(s.io)))
    }
    if (partial) o.put("partial", true)
    o.put("wall_sec", math.rint(wallSec)).put("budget_sec", rec.budgetSec)
    if (rec.shed.nonEmpty) {
      val s = o.putObject("shed")
      rec.shed.foreach { case (k, v) => s.put(k, v) }
    }
    val e = o.putObject("errors")
    rec.errors.foreach { case (k, v) => e.put(k, v.take(200)) }
    mapper.writeValueAsString(o)
  }

  /** Waits for load outside this JVM to drain, and re-runs while a row's
    * fastest run saw more than `gate` external busy cores ([[ExternalLoad]]
    * subtracts this JVM; the 1-min loadavg lags by 60 s and cannot gate a
    * tier that saturates the box itself). Each wait polls every `pollSec`
    * for at most `maxWaitSec` of its own. `cap` re-runs are allowed over
    * the instance's life: the 100x tier shares one across its rows (+2 per
    * row turned a 45-min bench into a >60-min one on a busy box), the
    * isolated ingest row has its own.
    */
  final class Rerun(cpus: Int, gate: Double, maxWaitSec: Double,
      pollSec: Int, cap: Int) {
    private var left = cap
    /** Seconds spent in [[drain]], summed over every wait. */
    var waitedSec = 0.0
    def capped: Boolean = left <= 0
    def contended(runs: Seq[Measure.Sample]): Boolean =
      runs.minBy(_.sec).ext > gate

    /** External busy cores over a 3 s window; -1 when unreadable. */
    private def instantExt(): Double =
      ExternalLoad.trySnap().map { a =>
        Thread.sleep(3000)
        ExternalLoad.coresSince(Some(a), cpus)
      }.getOrElse(-1.0)

    def drain(): Unit = {
      val t0 = System.nanoTime()
      def waited = (System.nanoTime() - t0) / 1e9
      while (instantExt() > gate && waited < maxWaitSec)
        Thread.sleep(pollSec * 1000L)
      waitedSec += waited
    }

    /** While the fastest of `runs` is contended, a re-run is left and
      * `allowed` holds: drain, then `rerun`.
      */
    def whileContended(runs: => Seq[Measure.Sample], allowed: => Boolean)(
        rerun: => Unit): Unit =
      while (contended(runs) && !capped && allowed) {
        drain(); rerun; left -= 1
      }
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def wallSec: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the shipped session: the bench measures what the engine ships
    val spark = GraftSession.local(cpus)
    // the bounded pool-rank windows (Retrieval.scala) and oracle-shape
    // SQL emit hundreds of "No Partition Defined for Window operation"
    // WARNs per run that carry no signal (they drowned the r18 log tail):
    // silence that one logger, keep WARN everywhere else
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

    // ---- wall budget (r19; BENCH_r18 was killed, rc 124 / parsed null):
    // optional work (contended re-runs, min-of-N extras) grows exactly
    // when the box is slow. Past the budget every row still RUNS but gets
    // one timed run without warm-up and no re-run; everything shed lands
    // in `shed`. The budget never drops a row, so a pathological wall can
    // still exceed it — the incremental flush below is the backstop.
    val budget = budgetSec(cpus)
    def overBudget: Boolean = wallSec > budget
    // the soft threshold leaves headroom for the mandatory 100x tail
    def overSoftBudget: Boolean = wallSec > budget * 0.8

    // ---- incremental artifact (r19): every recorded row flushes
    // target/bench_last.json, marked `"partial":true` until the final
    // write, so a timeout/SIGTERM still leaves every completed
    // measurement parseable; a JVM shutdown hook re-flushes on the way out.
    val lock = new Object
    var rec = Record(sfDir, budget)
    var finalWritten = false
    def record(f: Record => Record): Unit = lock.synchronized { rec = f(rec) }
    def shed(key: String, note: String): Unit =
      record(r => r.copy(shed = r.shed.updated(key, note)))
    // a failing query must fail the bench LOUDLY — a swallowed crash
    // would score ~0s and *improve* the total
    def fail(key: String, e: Throwable): Unit = record(r => r.copy(errors =
      r.errors.updated(key,
        Option(e.getMessage).getOrElse(e.getClass.getName).take(200))))
    // overwrite-in-place after every row; the file is the durable
    // artifact (the driver's stdout tail has truncated the line before),
    // stdout gets a copy at tier boundaries so a killed run's log tail
    // still ends in a parseable line
    def flush(partial: Boolean, toStdout: Boolean,
        markFinal: Boolean = false): Unit = lock.synchronized {
      val l = line(rec, wallSec, partial)
      if (toStdout) println(l)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_last.json"), l + "\n")
      catch { case e: Throwable =>
        System.err.println(
          s"[bench] bench_last.json write failed: ${e.getMessage}")
      }
      if (markFinal) finalWritten = true
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      lock.synchronized {
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

    // headline: the reference's benchmark shape — JSON messages through
    // parse + tolerant typed projection (BASELINE.md: 142K rows/s/instance).
    // The event table is replicated 30x so the timed window is seconds,
    // not a sub-second blip dominated by scheduling noise. One warm-up,
    // then min-of-[[Runs]].
    def ingestRun(): Seq[Measure.Sample] = {
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
        .repartition(cpus).persist()
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
      val runs = (1 to Runs).map { _ =>
        Measure.withContext(cpus) {
          val t0 = System.nanoTime()
          projected.write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, n)
        }
      }
      raw.unpersist()
      runs
    }
    // measure OUTSIDE the artifact lock — a SIGTERM mid-measurement must
    // not find the hook blocked behind a minutes-long tier
    val ingest = Timed("ingest_json", ingestRun())
    record(_.copy(ingest = Some(ingest)))
    flush(partial = true, toStdout = false)

    // contention hardening: MIN of [[Runs]] timed executions per query —
    // median-of-N cannot reject contention spanning the whole bench
    // window, min is the contention-robust wall-time statistic. The row
    // count ([[Measure.runOnce]]'s observation ON the timed run) guards
    // against a silently-empty result scoring fast; the warm-up is runOnce
    // too, the same plan as the timed runs.
    def timed(errKey: String, name: String, mk: () => DataFrame,
        single: Boolean): Timed =
      try {
        if (!single) Measure.runOnce(spark, mk)
        Timed(name, (1 to (if (single) 1 else Runs)).map(_ =>
          Measure.withContext(cpus)(Measure.runOnce(spark, mk))))
      } catch { case e: Throwable => fail(errKey, e); Timed(name, Nil) }
    // one registry tier over `dir`: a `single` row, and past the budget
    // every row, gets one timed run and no warm-up (the min-of-N extras
    // are exactly the optional work the budget sheds; the count the
    // budget cut lands in `shed` under the tier's label)
    def tier(label: String, names: Seq[String], dir: String,
        errKey: String => String, single: String => Boolean)(
        add: Timed => Record => Record): Unit = {
      var cut = 0
      names.foreach { name =>
        val cutNow = !single(name) && overBudget
        if (cutNow) cut += 1
        val t = timed(errKey(name), name,
          () => SparkEntry.queries(name)(spark, dir), single(name) || cutNow)
        record(add(t))
        flush(partial = true, toStdout = false)
      }
      if (cut > 0) shed(label, s"single-run-no-warm:$cut")
    }
    // a tier's host context: EXTERNAL busy cores and IO-stall fraction
    // over the tier (the 1x total swung 262-325 s with box load across
    // r16/r17, and loadavg could not say whose load it was)
    def overTier(body: => Unit): Measure.Sample = Measure.withContext(cpus) {
      val t0 = System.nanoTime()
      body
      ((System.nanoTime() - t0) / 1e9, 0L)
    }

    val host1x = overTier {
      tier("1x", SparkEntry.queries.keys.toSeq.sorted, sfDir, identity,
        _ => false)(t => r => r.copy(queries = r.queries :+ t))
    }
    record(_.copy(host1x = Some(host1x)))
    flush(partial = true, toStdout = true)

    // ---- second scale: the same headline queries over a 10x corpus
    // ("sf1" when driven at sf0.1) so shuffle-heavy queries produce
    // non-noise numbers. Replicas are id-shifted and lightly perturbed
    // (suffix token / +0.001*i on embeddings) so they are near- but not
    // exact duplicates — a cluster-heavy dedup workload, the hard case.
    // The streaming replays in `singleRun` get ONE timed run, no warm-up:
    // they already ran (warm + runs) times in the 1x loop, and each 10x
    // execution is minutes of checkpoint orchestration whose noise floor
    // is file IO, not scheduling.
    val host10x = overTier {
      try {
        val dir = BenchScale.ensure10x(spark, sfDir, cpus)
        record(_.copy(queries10x = Some(Vector.empty)))
        tier("10x", BenchScale.headline, dir, n => s"10x:$n",
          BenchScale.singleRun)(t => r =>
          r.copy(queries10x = r.queries10x.map(_ :+ t)))
      } catch { case e: Throwable => fail("10x:setup", e) }
    }
    record(_.copy(host10x = Some(host10x)))
    flush(partial = true, toStdout = true)

    // ---- third scale: the 100x flagship proof — [[BenchScale100.Table]]'s
    // rows end-to-end on a corpus `reps` times the base sf, with shuffle
    // byte / skew / spill telemetry riding on each run. Every row's setup
    // (corpora cached under target/ behind a _READY marker;
    // `setup_100x_sec` records what this run paid) runs before any row is
    // timed. SPARK_GRAFT_BENCH_100X_REPS overrides the replica count.
    // Protocol (r16's single un-gated runs swung ±2-4x with box load):
    // min of [[runs100]] runs per row, re-run while the fastest was
    // contended ([[Rerun]]). The number is a minimum taken on a quiet
    // enough box, or its `ext` field and `shed` entry say otherwise.
    try {
      val setupT0 = System.nanoTime()
      val reps = sys.env.get("SPARK_GRAFT_BENCH_100X_REPS").map(_.toInt)
        .getOrElse(BenchScale100.DefaultReps)
      val table = new BenchScale100.Table(spark, sfDir, cpus, reps)
      val nDocs = table.nDocs
      record(_.copy(tier100 = Some(Tier100(reps, nDocs))))
      table.rows.foreach(_.setup())
      val setupSec = (System.nanoTime() - setupT0) / 1e9
      record(r => r.copy(tier100 =
        r.tier100.map(_.copy(setupSec = Some(setupSec)))))
      flush(partial = true, toStdout = false)
      val tel = StageTelemetry.attach(spark.sparkContext)
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        BenchScale100.shufflePartitions(cpus).toString)
      val rerun = new Rerun(cpus, Gate100, maxWaitSec = 180, pollSec = 10,
        cap = 4)
      try table.rows.foreach { row =>
        val name = row.name
        try {
          val runs = scala.collection.mutable.ArrayBuffer
            .empty[Measure.Sample]
          val tels = scala.collection.mutable.ArrayBuffer
            .empty[StageTelemetry.Totals]
          def one(): Unit = {
            runs += Measure.sample(spark, cpus, tel, row.plan)
            tels += tel.totals
          }
          one()
          // the first run's own wall decides what the row may cost
          val want = runs100(Runs100, overSoftBudget, runs.head.sec)
          shed100(Runs100, want).foreach(shed(s"100x:$name", _))
          (2 to want).foreach(_ => one())
          rerun.whileContended(runs.toSeq, !overBudget)(one())
          if (rerun.contended(runs.toSeq))
            shed(s"100x:$name:rerun",
              if (overBudget) "skipped(budget)" else "skipped(global-cap)")
          val t = Timed(name, runs.toSeq, tels.toSeq)
          record(r => r.copy(tier100 = r.tier100.map(x =>
            x.copy(rows = x.rows :+ t))))
          flush(partial = true, toStdout = true)
        } catch { case e: Throwable => fail(s"100x:$name", e) }
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        tel.detach()
      }
    } catch {
      case e: Throwable =>
        fail("100x:setup", e)
        flush(partial = true, toStdout = false)
    }

    // ---- isolated ingest re-run: the headline measured again AFTER every
    // tier has drained, GATED on external load draining first (this row
    // feeds bench_vs_baseline). A contended fastest run is re-measured;
    // past the cap or the budget (which sheds waits and retries, never
    // the row) it records anyway and `gate_met` says so. `wait_sec` is
    // the cumulative wait; every attempt's runs stay in the arrays.
    val isoRerun = new Rerun(cpus, GateIso, maxWaitSec = 600, pollSec = 15,
      cap = 2)
    if (!overBudget) isoRerun.drain() else shed("iso:wait", "skipped(budget)")
    val iso = scala.collection.mutable.ArrayBuffer.from(ingestRun())
    isoRerun.whileContended(iso.toSeq, !overBudget)(iso ++= ingestRun())
    if (isoRerun.contended(iso.toSeq) && overBudget && !isoRerun.capped)
      shed("iso:rerun", "skipped(budget)")
    val isoRow = Timed("ingest_isolated", iso.toSeq)
    val isoExt = isoRow.best.ext
    record(_.copy(iso = Some(Iso(isoRow, isoRerun.waitedSec,
      gateMet = isoExt >= 0 && isoExt <= GateIso))))

    // the final (non-partial) artifact write; `markFinal` flips the
    // shutdown hook to a no-op inside the same lock, so the hook can
    // never clobber a complete artifact with a partial line
    flush(partial = false, toStdout = true, markFinal = true)
    spark.stop()
    val errors = rec.errors
    if (errors.nonEmpty) {
      System.err.println(
        s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
