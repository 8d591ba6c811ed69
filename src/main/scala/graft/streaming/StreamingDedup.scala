package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import StandingOperator.bucket

/** Standing incremental near-dup admission — the streaming lift of
  * [[graft.operators.Dedup.nearDupsAgainstMinhash]]: the reference
  * corpus's minhash state (shingle-FINGERPRINT + banded-signature
  * tables; `fp64` layout — 8-byte xxhash64 longs per shingle, not the
  * ~25-byte strings, same trade as the batch verify and value-identical
  * modulo the < 1e-14/pair collision bound) is persisted ONCE via
  * [[BatchedState]]; each arriving micro-batch computes its own
  * signatures in one scan-local pass, band-joins against the persisted
  * state, exact-Jaccard-verifies the candidates, and is then folded
  * into the state so later batches dedup against it.
  *
  * Scale shape (what survives a standing 100 TB corpus):
  *  - State is NEVER shuffled at admission. The batch side of both the
  *    band join and the verify join carries an explicit broadcast hint,
  *    so the persisted state streams through two BroadcastHashJoins —
  *    per-batch shuffle volume is O(|batch| + |candidates|), not
  *    O(corpus).
  *  - State reads are partition-pruned. Banded state is bucketed by
  *    band-key hash (`bb`), shingle state by doc-id hash (`ib`); a
  *    batch collects its own (bounded, <= nBuckets) bucket sets and the
  *    state scan skips every non-matching bucket directory — a trickle
  *    batch touches a fraction of the state files. The residual
  *    per-batch cost is the pruned state SCAN (I/O only, no shuffle);
  *    [[compact]] keeps file counts and aged rows bounded.
  *  - Appends are idempotent by OVERWRITE into `batch=<id>` dirs, so a
  *    crash-replayed batch replaces its half-landed delta instead of
  *    doubling rows — no read-time dedup anywhere.
  *
  * Delivery: at-least-once micro-batches ([[attach]]). A replayed
  * batch N reads state strictly `< N` ([[BatchedState.read]]), so it
  * sees exactly what the clean run saw even when the crashed attempt's
  * state append already landed, and [[attach]] writes pairs to a
  * per-batch dir with overwrite semantics — the pairs OUTPUT is
  * idempotent too (exactly-once per batch dir).
  */
final class StreamingDedup(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, textCol: String,
    n: Int = 3, bands: Int = 8, rows: Int = 4,
    threshold: Double = 0.7, nBuckets: Int = 32) extends EvictingOperator {

  private val shingles = new BatchedState(spark, s"$stateDir/shingles", Seq("ib"))
  private val banded   = new BatchedState(spark, s"$stateDir/banded", Seq("bb"))
  protected def states: Seq[BatchedState] = Seq(shingles, banded)

  // signature/bucket geometry bakes into the stored rows: persisted at
  // seed time, validated before the first admission of each run.
  // `shingles=fp64` is the STATE-LAYOUT version key (r18): the shingle
  // state stores 64-bit xxhash64 fingerprints, not strings — a pre-r18
  // string-layout dir is missing the key and refuses loudly at the
  // first admission (validateParams treats an absent stored key as
  // drift) instead of failing on a parquet schema conflict mid-append
  protected val stateParams = Map("n" -> n.toString, "bands" -> bands.toString,
    "rows" -> rows.toString, "nBuckets" -> nBuckets.toString,
    "shingles" -> "fp64")

  /** Seed the persisted reference state, REPLACING any previous state
    * under `stateDir` (re-seeding starts a fresh corpus — stale admitted
    * batches must not survive into the new one). The shingled corpus is
    * SNAPSHOT via localCheckpoint for the duration of the two state
    * writes so both tables derive from the SAME row snapshot — two
    * independent scans of a non-deterministic reference (an unordered
    * limit, a sampled frame) could otherwise persist a doc in one table
    * but not the other, silently losing its pairs forever. The pre-fp64
    * layout got this guarantee by re-reading the persisted string
    * state; the fp64 state cannot derive the md5-based signatures the
    * banded table needs, so it comes from a seed-time snapshot instead.
    * localCheckpoint (not a recomputable persist, the r18 shape): a
    * persisted block lost to executor failure silently RECOMPUTES, and
    * a recompute of a non-deterministic reference re-opens the exact
    * divergence window the snapshot exists to close — a checkpoint
    * block loss fails the seed loudly instead. The snapshot's blocks
    * (same O(corpus) bytes the string layout kept in the state dir
    * permanently) release via ContextCleaner once seed() returns and
    * the frame falls out of scope.
    */
  def seed(reference: DataFrame): Unit = reseed {
    val (sh, _) = Dedup.prepMinhash(reference, idCol, textCol, n, bands, rows)
    val pinned = sh.localCheckpoint()
    shingles.seed(Dedup.shingleFingerprints(pinned)
      .withColumn("ib", bucket(nBuckets, col("id"))))
    val b = Dedup.lshBands(
      Dedup.minhashSignatureDF(pinned, "id", "shingles", bands * rows),
      col("id"), col("sig"), bands, rows)
    banded.seed(
      b.withColumn("bb", bucket(nBuckets, col("band"), col("band_hash"))))
  }

  /** Cross-corpus (ref_id, new_id, jaccard) pairs of micro-batch
    * `batchId` against everything seeded or admitted before it.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    // ONE materialized snapshot of the batch's shingles feeds both
    // derived tables (fingerprints AND banded signatures) — the same
    // single-snapshot discipline as [[seed]], |batch|-bounded
    val shRaw = batch.select(col(idCol).as("id"),
      Dedup.wordShingles(col(textCol), n).as("shingles")).localCheckpoint()
    // pin the derived tables too (they feed three consumers: prune-set
    // collect, the joins, the state append)
    val shNew = Dedup.shingleFingerprints(shRaw)
      .withColumn("ib", bucket(nBuckets, col("id"))).localCheckpoint()
    val bNew = Dedup.lshBands(
        Dedup.minhashSignatureDF(shRaw, "id", "shingles", bands * rows),
        col("id"), col("sig"), bands, rows)
      .withColumn("bb", bucket(nBuckets, col("band"), col("band_hash")))
      .localCheckpoint()
    // band-bucket prune set of THIS batch (<= nBuckets values)
    val bRef = banded.read(before = batchId, fallback = Some(bNew.schema))
      .where(prunedTo(bNew, "bb"))
    val candidates =
      Dedup.bandCandidates(bRef, broadcast(bNew)).localCheckpoint()
    // shingle state pruned to the candidates' ref-id buckets
    val shRef = shingles.read(before = batchId, fallback = Some(shNew.schema))
      .where(prunedTo(
        candidates.select(bucket(nBuckets, col("ref_id")).as("ib")), "ib"))
    // ref_id =!= new_id: a doc id re-arriving in a later batch must not
    // pair with its own earlier copy. The max-aggregate collapses the
    // one-row-per-stored-version fan-out a re-arrived id leaves in
    // state (each version is a state row; emit ONE pair, best score).
    // localCheckpoint pins the result so a later compact() cannot
    // invalidate an unconsumed plan's file references.
    val pairs = Dedup.verifyJaccardHashed(broadcast(candidates), shRef, shNew,
        threshold)
      .filter(col("ref_id") =!= col("new_id"))
      .groupBy(col("ref_id"), col("new_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .localCheckpoint()
    shingles.append(shNew, batchId)
    banded.append(bNew, batchId)
    pairs
  }
}

/** Streaming SemDeDup: semantic near-dup admission against a persisted
  * cell-partitioned corpus. `seed` trains the deterministic IVF
  * centroids ONCE ([[graft.operators.Similarity.trainCentroids]]),
  * persists them ([[graft.operators.Similarity.IvfIndex]]) beside the
  * cell-assigned corpus vectors; each batch then assigns its vectors to
  * cells with the SAME loaded centroids (a scan-local argmax — the cell
  * structure never drifts between batches) and compares ONLY within
  * shared cells — the SemDeDup trade at ingestion time. The state is
  * directory-partitioned by `cell`, so the per-batch read scans ONLY
  * the cells the batch touches, and the batch side is broadcast — state
  * is never shuffled. Same [[BatchedState]] idempotency/replay story as
  * [[StreamingDedup]].
  */
final class StreamingSemanticDedup(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, vecCol: String,
    nCells: Int, threshold: Double = 0.99) extends EvictingOperator {

  import graft.operators.Similarity
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  private val vecs = new BatchedState(spark, s"$stateDir/vectors", Seq("cell"))
  protected def states: Seq[BatchedState] = Seq(vecs)
  private val indexDir = s"$stateDir/index"

  protected val stateParams = Map("nCells" -> nCells.toString)

  // the index is immutable after seed(): cache it instead of paying a
  // parquet read + driver collect per micro-batch
  @transient private var centroidsCache: Similarity.Centroids = _
  private def centroids: Similarity.Centroids = {
    if (centroidsCache == null)
      centroidsCache = Similarity.IvfIndex.load(spark, indexDir)
    centroidsCache
  }

  /** Train centroids on the reference corpus, persist index + assigned
    * vectors — REPLACING any previous state (retrained centroids assign
    * different cell ids, so stale rows would be compared in the wrong
    * cells).
    */
  def seed(reference: DataFrame): Unit = reseed {
    val trained = Similarity.trainCentroids(reference, nCells, idCol, vecCol)
    Similarity.IvfIndex.save(trained, spark, indexDir)
    centroidsCache = trained
    vecs.seed(reference.select(col(idCol).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .withColumn("cell", trained.assignCell(col("v"))))
  }

  /** (ref_id, new_id, cell, cos) pairs within shared cells vs everything
    * seeded or admitted in batches < batchId.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val fresh = batch.select(col(idCol).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .withColumn("cell", centroids.assignCell(col("v")))
      .localCheckpoint()
    // the batch's cell set is bounded by min(|batch|, nCells): scan
    // only those state partitions
    val ref = vecs.read(before = batchId, fallback = Some(fresh.schema))
      .where(prunedTo(fresh, "cell"))
    // max-aggregate: a re-arrived id leaves one state row per version —
    // emit ONE pair (best cos, its cell); pinned against later compact()
    val pairs = ref.as("l").join(broadcast(fresh).as("r"),
        col("l.cell") === col("r.cell") && col("l.id") =!= col("r.id"))
      .select(col("l.id").as("ref_id"), col("r.id").as("new_id"),
        col("l.cell").as("cell"),
        Similarity.cosine(col("l.v"), col("r.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("ref_id"), col("new_id"))
      .agg(max(struct(col("cos"), col("cell"))).as("m"))
      .select(col("ref_id"), col("new_id"),
        col("m.cell").as("cell"), col("m.cos").as("cos"))
      .localCheckpoint()
    vecs.append(fresh, batchId)
    pairs
  }
}

/** Standing paragraph-granularity exact dedup — the streaming lift of
  * [[graft.operators.Dedup.dropDupParagraphs]] (the CCNet cleaning
  * shape): the fingerprints of every paragraph ever seen persist in a
  * [[BatchedState]]; each arriving micro-batch keeps only paragraphs
  * whose canonical fingerprint is new (first within the batch AND
  * absent from state) and emits the per-document cleaned text.
  *
  * Scale shape, same as the minhash twin: the fp state is
  * directory-partitioned by `fb = hash(fp)` and PRUNED per batch by the
  * batch's bucket set; membership runs as a left-semi join of the
  * pruned state against the BROADCAST batch fingerprints (output
  * bounded by the batch — state is never shuffled), and only NEW
  * fingerprints append, so state rows stay unique without read-time
  * dedup. Idempotent appends / replay-deterministic reads / compaction
  * are [[BatchedState]]'s.
  */
final class StreamingParagraphDedup(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, textCol: String,
    nBuckets: Int = 32) extends EvictingOperator {

  import graft.operators.TextAnalysis

  private val fps = new BatchedState(spark, s"$stateDir/fps", Seq("fb"))
  protected def states: Seq[BatchedState] = Seq(fps)

  protected val stateParams = Map("nBuckets" -> nBuckets.toString)

  /** (id, pos, para, fp) for every non-blank paragraph of a corpus. */
  private def paras(df: DataFrame): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\\n+")).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      .withColumn("fp", TextAnalysis.fingerprint(col("para")))

  /** Seed the seen-paragraph state from a reference corpus, REPLACING
    * any previous state under `stateDir`.
    */
  def seed(reference: DataFrame): Unit = reseed {
    fps.seed(paras(reference).select(col("fp")).distinct()
      .withColumn("fb", bucket(nBuckets, col("fp"))))
  }

  /** Per-document cleaned text built from the paragraphs whose
    * fingerprint is NEW (first occurrence within the batch by (id, pos),
    * and unseen by batches < batchId); only the new fingerprints fold
    * into the state. Documents whose every paragraph duplicates earlier
    * content are absent from the output. Returns (id, n_paras_kept,
    * text_dedup).
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    // batch-internal first occurrence per fingerprint: min(struct) map-
    // side aggregate (never a window), one row per distinct batch fp
    val firstInBatch = paras(batch)
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("pos"), col("para"))).as("w"))
      .select(col("fp"), col("w.id").as("id"), col("w.pos").as("pos"),
        col("w.para").as("para"))
      .withColumn("fb", bucket(nBuckets, col("fp")))
      .localCheckpoint()
    val ref = fps.read(before = batchId, fallback =
        Some(firstInBatch.select(col("fp"), col("fb")).schema))
      .where(prunedTo(firstInBatch, "fb"))
    // membership via state-side SEMI against the broadcast batch fps
    // (output <= |batch| rows), then a bounded anti join — the pruned
    // state streams through broadcast joins, never shuffles
    val seen = ref.join(broadcast(firstInBatch.select(col("fp"))),
      Seq("fp"), "left_semi")
    val kept = firstInBatch.join(broadcast(seen.select(col("fp"))),
        Seq("fp"), "left_anti")
      .localCheckpoint()
    val out = kept
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_paras_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("para")))),
            s => s.getField("para")),
          "\n").as("text_dedup"))
      .localCheckpoint()
    fps.append(kept.select(col("fp"), col("fb")), batchId)
    out
  }
}

/** Standing streaming decontamination — the streaming lift of
  * [[graft.operators.TextAnalysis.contaminatedDocs]]: the benchmark
  * word-n-gram set is persisted via [[BatchedState]] and every arriving
  * micro-batch of DOCUMENTS is gated against it (a doc sharing any
  * n-gram with the benchmark set is flagged). Unlike the dedup twins,
  * [[admit]] never writes: decontamination must not learn from the
  * corpus — only [[addBenchmark]] (a new benchmark release landing
  * mid-stream) grows the state, and admissions at later batch ids see
  * it.
  *
  * Scale shape, the [[StreamingParagraphDedup]] recipe on a different
  * key: gram state is directory-partitioned by `gb = hash(gram)` and
  * PRUNED per batch by the batch's (<= nBuckets) bucket set; membership
  * runs as a state-side left-semi join against the BROADCAST batch
  * grams (output bounded by the batch — state is never shuffled);
  * [[addBenchmark]] appends only grams absent from state, so state rows
  * stay unique without read-time dedup. Idempotent appends /
  * replay-deterministic reads / compaction are [[BatchedState]]'s.
  */
final class StreamingDecontamination(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, textCol: String,
    n: Int = 8, nBuckets: Int = 32) extends EvictingOperator {

  private val grams = new BatchedState(spark, s"$stateDir/grams", Seq("gb"))
  protected def states: Seq[BatchedState] = Seq(grams)

  protected val stateParams =
    Map("n" -> n.toString, "nBuckets" -> nBuckets.toString)

  /** Distinct benchmark grams of a corpus ([[Dedup.wordShingles]]
    * semantics: per-doc distinct, whole text as the single gram for
    * docs shorter than `n` words).
    */
  private def benchGrams(bench: DataFrame, benchTextCol: String): DataFrame =
    bench.select(explode(Dedup.wordShingles(col(benchTextCol), n)).as("sg"))
      .distinct()
      .withColumn("gb", bucket(nBuckets, col("sg")))

  /** Seed the benchmark gram state, REPLACING any previous state under
    * `stateDir`.
    */
  def seed(bench: DataFrame, benchTextCol: String): Unit = reseed {
    grams.seed(benchGrams(bench, benchTextCol))
  }

  /** Fold a NEW benchmark release into the standing set at `batchId`
    * (consumes a batch id like an admission — ids are one monotonic
    * sequence across gates and additions, so replay determinism holds
    * for both). Only grams absent from earlier state append.
    */
  def addBenchmark(bench: DataFrame, benchTextCol: String,
      batchId: Long): Unit = {
    checkAdmission(batchId)
    val fresh = benchGrams(bench, benchTextCol).localCheckpoint()
    val ref = grams.read(before = batchId, fallback = Some(fresh.schema))
      .where(prunedTo(fresh, "gb"))
    val seen = ref.join(broadcast(fresh.select(col("sg"))),
      Seq("sg"), "left_semi")
    val novel = fresh.join(broadcast(seen.select(col("sg"))),
      Seq("sg"), "left_anti")
    grams.append(novel.select(col("sg"), col("gb")), batchId)
  }

  /** Gate micro-batch `batchId` against every benchmark gram admitted
    * before it. Returns one row per input doc:
    * (id, n_grams, n_hits, contaminated) — distinct-gram count,
    * benchmark-hit count, and the drop verdict. No state write.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val docGrams = batch.select(col(idCol).as("id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("sg"))
      .withColumn("gb", bucket(nBuckets, col("sg")))
      .localCheckpoint()
    val ref = grams.read(before = batchId, fallback =
        Some(docGrams.select(col("sg"), col("gb")).schema))
      .where(prunedTo(docGrams, "gb"))
    // membership via state-side SEMI against the broadcast batch grams
    // (output <= |batch grams|), then the per-doc hit count rides a
    // second broadcast — the pruned state streams, never shuffles
    val hits = ref.join(broadcast(docGrams.select(col("sg")).distinct()),
      Seq("sg"), "left_semi")
    val counts = docGrams
      .join(broadcast(hits.select(col("sg")).withColumn("__hit", lit(1))),
        Seq("sg"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hits"))
    // materialize BEFORE returning: the verdict plan references state
    // files a later addBenchmark/compact may fold away
    batch.select(col(idCol).as("id")).distinct()
      .join(counts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .localCheckpoint()
  }
}

/** The embedding twin of [[StreamingDedup]]: persisted state is the
  * (id, vector) table (id-bucket-pruned for the verify join) plus the
  * RHP band keys stored EXPLODED, one row per (id, band, key), bucketed
  * by `bb = hash(band, key)` — the minhash twin's layout. A batch
  * collects its own (bounded, <= nBuckets) bucket set and the band
  * join's state scan skips every non-matching `bb=` directory, so a
  * trickle batch touches a fraction of the keys files instead of the
  * whole (compaction-bounded) table. The disk trade is deliberate:
  * exploded keys cost x(nBits/bandBits) rows (x24 at the defaults)
  * over the packed form — narrow rows of three numbers, bought back
  * many times over by pruned per-batch scans on a standing corpus.
  * The batch side of both joins is broadcast (state never shuffled).
  * Same [[BatchedState]] idempotency and replay determinism as the
  * minhash twin.
  */
final class StreamingEmbeddingDedup(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, vecCol: String,
    dims: Int, nBits: Int = 384, bandBits: Int = 16,
    threshold: Double = 0.99, nBuckets: Int = 32) extends EvictingOperator {

  import graft.operators.Similarity

  private val vecs = new BatchedState(spark, s"$stateDir/vectors", Seq("ib"))
  private val keys = new BatchedState(spark, s"$stateDir/keys", Seq("bb"))
  protected def states: Seq[BatchedState] = Seq(vecs, keys)

  /** Packed (id, ks) -> exploded (id, band, key, bb) state rows. */
  private def explodeKeys(k: DataFrame): DataFrame =
    k.select(col("id"), posexplode(col("ks")).as(Seq("band", "key")))
      .withColumn("bb", bucket(nBuckets, col("band"), col("key")))

  // keysLayout guards the stored-row shape itself: a restart against a
  // dir written with the old packed layout must refuse via param drift,
  // not fail (or worse, mis-read) deep inside the band join
  // keyWidth pins the ks element width (ADVICE r19): if the streaming
  // prep ever enabled the batch path's int-key narrowing, persisted
  // int64 exploded state joined against int32 fresh keys would
  // sign-extend in the band equi-join and silently miss pairs — a
  // stored width other than int64 refuses the restart ([[admitLayout]])
  protected val stateParams = Map("dims" -> dims.toString,
    "nBits" -> nBits.toString, "bandBits" -> bandBits.toString,
    "nBuckets" -> nBuckets.toString, "keysLayout" -> "banded",
    "keyWidth" -> "int64")

  // dirs seeded before the key existed carry no keyWidth: int64 is the
  // only width ever shipped, so an absent key reads as int64
  override protected def layoutKey: Option[String] = Some("keyWidth")
  override protected def admitLayout(stored: Option[String]): Unit =
    stored.filter(_ != "int64").foreach(refuseLayout(_, "int64"))

  /** Seed the persisted reference state, REPLACING any previous state
    * under `stateDir`.
    */
  def seed(reference: DataFrame): Unit = reseed {
    val (v, k) = Similarity.prepEmbedding(reference, dims, nBits, bandBits,
      idCol, vecCol)
    vecs.seed(v.withColumn("ib", bucket(nBuckets, col("id"))))
    keys.seed(explodeKeys(k))
  }

  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val (vRaw, kRaw) = Similarity.prepEmbedding(batch, dims, nBits, bandBits,
      idCol, vecCol)
    val vNew =
      vRaw.withColumn("ib", bucket(nBuckets, col("id"))).localCheckpoint()
    val kNew = explodeKeys(kRaw).localCheckpoint()
    // band-bucket prune set of THIS batch (<= nBuckets values): the keys
    // state scan reads ONLY the matching bb= partitions
    val kRef = keys.read(before = batchId, fallback = Some(kNew.schema))
      .where(prunedTo(kNew, "bb"))
    val candidates =
      Similarity.bandCandidatesEmbeddingExploded(kRef, broadcast(kNew))
        .localCheckpoint()
    val vRef = vecs.read(before = batchId, fallback = Some(vNew.schema))
      .where(prunedTo(
        candidates.select(bucket(nBuckets, col("ref_id")).as("ib")), "ib"))
    // max-aggregate: one pair per (ref, new) even when a re-arrived id
    // left several state versions; pinned against later compact()
    val pairs = Similarity.verifyCosine(broadcast(candidates), vRef, vNew,
        threshold)
      .filter(col("ref_id") =!= col("new_id"))
      .groupBy(col("ref_id"), col("new_id"))
      .agg(max(col("cos")).as("cos"))
      .localCheckpoint()
    vecs.append(vNew, batchId)
    keys.append(kNew, batchId)
    pairs
  }
}

/** The multimodal twin of [[StreamingDedup]]: standing incremental
  * near-dup admission over 64-bit hamming fingerprints (image dHash,
  * audio energy fingerprints, any
  * [[graft.operators.Multimodal.bandedHammingPairs]]-shaped hash) — the
  * streaming lift the crawl-ingestion reality needs, since multimodal
  * corpora arrive incrementally in practice. Decode stays upstream
  * (scan-local, [[graft.operators.Multimodal.decodeImages]] et al.);
  * admitted batches carry (id, fingerprint) rows only.
  *
  * State is ONE [[BatchedState]] table of rows exploded per 16-bit band
  * — (id, fp, band, key, bb = hash(band, key) % nBuckets) — so a batch
  * collects its own (bounded, <= nBuckets) bucket set and the band
  * join's state scan prunes to matching `bb=` dirs; the fingerprint
  * rides every row, so hamming verification is join-local (no second
  * verify join at all — the 64-bit fp IS the payload). `wideRecall`
  * probes each batch band key's 1-bit ball (exact recall to
  * maxHamming <= 7, the [[graft.operators.Multimodal]] pigeonhole);
  * the probe expansion stays on the broadcast batch side, so state is
  * never shuffled and never expands. Same [[BatchedState]]
  * overwrite-idempotency and `read(before)` replay determinism as the
  * text twins.
  *
  * `collapseBatch` (the DEFAULT — the streaming analog of the batch
  * engine's collapse-first default, r15's lesson that a recipe in a
  * comment is not an operator): every seeded/admitted batch first
  * exact-dedups on the fingerprint
  * ([[graft.operators.Multimodal.collapseByFingerprint]] semantics —
  * representative = min id, multiplicity = row count), state keeps ONE
  * row set per distinct fp per batch with the count folded in, and
  * pairs fold the state side per fingerprint: one
  * `(ref_id, new_id, hamming, clique_ref, clique_new)` row per
  * (distinct state fp, batch representative), where `ref_id` is the
  * minimum id ever admitted with that fingerprint, `clique_ref` the
  * fingerprint's TOTAL admitted multiplicity across seed + batches,
  * and `clique_new` the batch's. Without it, a corpus where one
  * fingerprint recurs m times in state hands every new copy m pairs —
  * measured graceful (1M standing fps, hot cliques of ~1000:
  * 100k-batch admits at 4-8 s / zero spill / 5-6M true pairs), but at
  * boilerplate-thumbnail rates the OUTPUT is the cost.
  * `collapseBatch = false` keeps the r15 raw per-asset form verbatim —
  * (ref_id, new_id, hamming), one pair per matching state row, state
  * rows carry no multiplicity. The flag is a state param: reopening a
  * dir under the other mode refuses loudly (the layouts differ).
  */
final class StreamingPhashDedup(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, hashCol: String,
    maxHamming: Int = 3, wideRecall: Boolean = false, nBuckets: Int = 32,
    collapseBatch: Boolean = true) extends EvictingOperator {

  graft.operators.HammingBands.requireRecall(maxHamming, wideRecall)

  private val fps = new BatchedState(spark, s"$stateDir/fps", Seq("bb"))
  protected def states: Seq[BatchedState] = Seq(fps)

  // `layout=v1` is the STATE-LAYOUT version key (the minhash twin's
  // `shingles=fp64` discipline, r19): v1 = exploded exact-key rows
  // (id, fp, [clique,] band, key, bb). A dir seeded before the key
  // exists is missing it and refuses loudly at the first admission
  // (validateParams treats an absent stored key as drift) instead of
  // failing on a parquet schema conflict mid-append when the layout
  // next changes.
  protected val stateParams = Map("maxHamming" -> maxHamming.toString,
    "wideRecall" -> wideRecall.toString, "nBuckets" -> nBuckets.toString,
    "collapseBatch" -> collapseBatch.toString, "layout" -> "v1")

  /** Per-batch normal form: (id, fp[, clique]). `collapseBatch` folds
    * identical fingerprints to (min id, count) — the clique-safe
    * pre-pass; raw keeps one row per asset with no multiplicity column
    * (the r15 state layout, byte-compatible).
    */
  private def normalized(df: DataFrame): DataFrame =
    if (collapseBatch)
      df.groupBy(col(hashCol).as("fp"))
        .agg(min(col(idCol)).as("id"), count(lit(1)).as("clique"))
        .select(col("id"), col("fp"), col("clique"))
    else df.select(col(idCol).as("id"), col(hashCol).as("fp"))

  /** Exploded EXACT-key rows — the stored state layout. */
  private def bandRows(df: DataFrame): DataFrame = bucketed(
    graft.operators.HammingBands.sides(normalized(df), "fp", wideRecall = false)._1)

  /** The batch-side probe rows: exact keys, plus each key's 1-bit ball
    * when `wideRecall` (see [[graft.operators.HammingBands.sides]]).
    */
  private def probeRows(df: DataFrame): DataFrame = bucketed(
    graft.operators.HammingBands.sides(normalized(df), "fp", wideRecall)._2)

  private def bucketed(rows: DataFrame): DataFrame =
    rows.withColumn("bb", bucket(nBuckets, col("band"), col("key")))

  /** Seed the persisted reference state, REPLACING any previous state
    * under `stateDir`.
    */
  def seed(reference: DataFrame): Unit = reseed {
    fps.seed(bandRows(reference))
  }

  /** Hamming <= maxHamming pairs of micro-batch `batchId` against
    * everything seeded or admitted in batches < batchId; the batch's
    * EXACT-key rows fold into the state.
    *
    * `collapseBatch` (default): (ref_id, new_id, hamming, clique_ref,
    * clique_new) — one row per (distinct state fingerprint, batch
    * representative); `ref_id` = minimum id across every state version
    * of that fingerprint, `clique_ref` = the fingerprint's summed
    * multiplicity over those versions, `clique_new` = the batch's.
    * Raw: (ref_id, new_id, hamming), one pair per matching state row; a
    * re-arrived id with several state versions collapses to ONE pair at
    * the best (minimum) hamming.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val bNew = bandRows(batch).localCheckpoint()
    val pNew =
      if (!wideRecall) bNew else probeRows(batch).localCheckpoint()
    // the batch's probe-bucket set (<= nBuckets values): the state scan
    // reads ONLY matching bb= partitions
    val ref = fps.read(before = batchId, fallback = Some(bNew.schema))
      .where(prunedTo(pNew, "bb"))
    // state joins the broadcast batch probes on (band, key); the fp on
    // both sides makes hamming verification join-local — no verify join
    val joined = ref.as("l").join(broadcast(pNew).as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") =!= col("r.id"))
    val pairs = (if (!collapseBatch)
      joined
        .select(col("l.id").as("ref_id"), col("r.id").as("new_id"),
          graft.operators.Dedup.hamming64(col("l.fp"), col("r.fp"))
            .as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .groupBy(col("ref_id"), col("new_id"))
        .agg(min(col("hamming")).as("hamming"))
    else
      // one row per (state version = (batch, fp), batch rep): the
      // distinct collapses the <= 4 band matches, then the fp groupBy
      // folds versions — min id is the fingerprint's all-time
      // representative, the clique sum its total admitted multiplicity
      joined
        .select(col("l.batch").as("sb"), col("l.fp").as("ref_fp"),
          col("l.id").as("lid"), col("l.clique").as("lclique"),
          col("r.id").as("new_id"), col("r.clique").as("clique_new"),
          graft.operators.Dedup.hamming64(col("l.fp"), col("r.fp"))
            .as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
        .groupBy(col("ref_fp"), col("new_id"))
        .agg(min(col("lid")).as("ref_id"), min(col("hamming")).as("hamming"),
          sum(col("lclique")).as("clique_ref"),
          max(col("clique_new")).as("clique_new"))
        .select(col("ref_id"), col("new_id"), col("hamming"),
          col("clique_ref"), col("clique_new"))
      ).localCheckpoint()
    fps.append(bNew, batchId)
    pairs
  }
}

/** The exact-substring twin of [[StreamingDedup]]: standing incremental
  * detection of VERBATIM shared k-char windows against an accumulating
  * corpus — the streaming lift of
  * [[graft.operators.Dedup.substringDupPairs]] (Lee et al. shared-span
  * dups, the ones minhash misses when the copied span is a small
  * fraction of each document).
  *
  * State is two [[BatchedState]] tables:
  *  - `grams`: one (id, h1, h2, pos) witness per distinct in-document
  *    gram fingerprint ([[graft.functions.CharGramHashes]], 128-bit
  *    rolling hashes; `w > 1` switches to winnowed density — ~2/(w+1)
  *    of the grams with spans ≥ k+w-1 guaranteed), bucketed by
  *    `gb = hash(h1,h2) % nBuckets` so a batch's band join prunes to
  *    its own (≤ nBuckets) bucket dirs;
  *  - `texts`: the corpus text, id-bucketed, read ONLY for the
  *    candidate ref ids' buckets to re-extract witness windows — a
  *    reported pair is always verified against the REAL characters, so
  *    hash width never produces a false pair.
  *
  * Batch sides of both joins are broadcast; the pruned state streams
  * (never shuffles). Same [[BatchedState]] overwrite-idempotency and
  * `read(before)` replay determinism as the minhash twin.
  */
final class StreamingSubstringDedup(protected val spark: SparkSession,
    protected val stateDir: String, idCol: String, textCol: String,
    k: Int = 40, w: Int = 1, nBuckets: Int = 32) extends EvictingOperator {

  private val grams = new BatchedState(spark, s"$stateDir/grams", Seq("gb"))
  private val texts = new BatchedState(spark, s"$stateDir/texts", Seq("ib"))
  protected def states: Seq[BatchedState] = Seq(grams, texts)

  // the stored pos width a fresh seed writes: dense dirs int32 (the
  // pre-kernel posexplode ordinal), winnowed dirs int64 (the kernel's
  // long p0)
  private def canonicalPos: String = if (w <= 1) "int32" else "int64"
  protected val stateParams = Map("k" -> k.toString, "w" -> w.toString,
    "nBuckets" -> nBuckets.toString, "pos" -> canonicalPos)

  // `pos=int32|int64` is the STATE-LAYOUT key (the minhash twin's
  // `shingles=fp64` discipline): the stored marker is the authority for
  // the dir's pos width — unlike the caller-known geometry above it
  // varies BY DIR (two historical dense widths), so admission adopts the
  // stored value instead of validating a guess against it. A dir seeded
  // before the key exists falls back to schema sniffing
  // ([[densePosLong]]) — the documented migration path, no longer the
  // only guard; anything else stored there refuses loudly.
  override protected def layoutKey: Option[String] = Some("pos")
  override protected def admitLayout(stored: Option[String]): Unit =
    stored match {
      case Some("int32") if w <= 1 => densePosLongCache = Some(false)
      case Some("int64") => densePosLongCache = Some(true)
      case Some(other) => refuseLayout(other, canonicalPos,
        if (w > 1) " (winnowed dirs are uniformly int64)"
        else " or int64 (the two historical dense widths)")
      case None => () // pre-layout-key dir: width sniffed on first use
    }

  /** One (id, h1, h2, pos, gb) witness row per distinct in-doc gram —
    * deduped IN THE KERNEL at both densities
    * ([[graft.functions.CharGramHashes.winnowDistinct]] /
    * [[graft.functions.CharGramHashes.allDistinct]]: keep-first in
    * position order = minimum position), so no per-batch
    * groupBy(id, h1, h2) exchange of ~unique keys (the batch engine's
    * measured spill pathology, same shape here).
    */
  // dense dirs exist in TWO historical pos widths: int32 (the pre-kernel
  // posexplode ordinal — the canonical layout, what seed() writes) and
  // int64 (the r16 kernel interlude wrote the kernel's long p0 raw). An
  // append must lay parquet of the DIR'S width next to its files, or
  // BatchedState.read hits a schema conflict at the next admit. Since
  // r19 the width is stored in the `_params` marker (`pos=` — see
  // [[admitLayout]]); for dirs seeded before the key existed it is
  // SNIFFED from the existing grams state once per instance — the
  // migration path (hardcoding either width orphans dirs of the other
  // era). Winnowed dirs are uniformly int64.
  @transient private var densePosLongCache: Option[Boolean] = None
  private def densePosLong: Boolean = {
    if (densePosLongCache.isEmpty)
      // absent or file-less state takes the canonical width; a READ
      // failure over real files must PROPAGATE — swallowing it (the old
      // Try(...).getOrElse(false)) cached int32 off a transient IO error
      // on an int64-era dir and the next append laid conflicting parquet
      densePosLongCache = Some(grams.hasAnyData &&
        grams.read().schema("pos").dataType ==
          org.apache.spark.sql.types.LongType)
    densePosLongCache.get
  }

  private def gramsOf(df: DataFrame): DataFrame = {
    val gramsExpr =
      if (w <= 1) graft.functions.CharGramHashes.ofDistinct(col(textCol), k)
      else graft.functions.CharGramHashes.winnowedDistinct(col(textCol), k, w)
    // positions are string offsets, so the int cast is lossless by
    // construction when the dir is int32
    val pos =
      if (w <= 1 && !densePosLong) (col("hh.p0") + 1).cast("int")
      else col("hh.p0") + 1
    df.select(col(idCol).as("id"), explode(gramsExpr).as("hh"))
      .select(col("id"), col("hh.h1").as("h1"), col("hh.h2").as("h2"),
        pos.as("pos"))
      .withColumn("gb", bucket(nBuckets, col("h1"), col("h2")))
  }

  private def textsOf(df: DataFrame): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("ib", bucket(nBuckets, col("id")))

  /** Seed the persisted reference state, REPLACING any previous state
    * under `stateDir`.
    */
  def seed(reference: DataFrame): Unit = reseed {
    // a fresh dir always takes the canonical width (int32 for dense) —
    // drop any width sniffed from the state this reset just deleted
    densePosLongCache = Some(w > 1)
    grams.seed(gramsOf(reference))
    texts.seed(textsOf(reference))
  }

  /** (ref_id, new_id) pairs of micro-batch `batchId` sharing a verbatim
    * k-char window with everything seeded or admitted before it.
    */
  protected def admitBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val gNew = gramsOf(batch).localCheckpoint()
    val tNew = textsOf(batch).localCheckpoint()
    val gRef = grams.read(before = batchId, fallback = Some(gNew.schema))
      .where(prunedTo(gNew, "gb"))
    // band on the 128-bit fingerprint; ONE coherent witness per pair
    val candidates = gRef
      .join(broadcast(gNew.select(col("id").as("new_id"), col("h1"),
        col("h2"), col("pos").as("pb"))), Seq("h1", "h2"))
      .filter(col("id") =!= col("new_id"))
      .select(col("id").as("ref_id"), col("new_id"), col("h1"), col("h2"),
        col("pos").as("pa"), col("pb"))
      .groupBy(col("ref_id"), col("new_id"))
      .agg(min(struct(col("h1"), col("h2"), col("pa"), col("pb"))).as("wit"))
      .select(col("ref_id"), col("new_id"), col("wit.pa").as("pa"),
        col("wit.pb").as("pb"))
      .localCheckpoint()
    val tRef = texts.read(before = batchId, fallback = Some(tNew.schema))
      .where(prunedTo(
        candidates.select(bucket(nBuckets, col("ref_id")).as("ib")), "ib"))
    // witness windows re-extracted from the REAL text on both sides; a
    // re-arrived ref id may have several state versions — any verified
    // one proves the pair, distinct collapses the fan-out
    val pairs = tRef.select(col("id").as("ref_id"), col("text").as("__tr"))
      .join(broadcast(candidates), Seq("ref_id"))
      .join(broadcast(tNew.select(col("id").as("new_id"),
        col("text").as("__tn"))), Seq("new_id"))
      .filter(col("__tr").substr(col("pa"), lit(k)) ===
        col("__tn").substr(col("pb"), lit(k)))
      .select(col("ref_id"), col("new_id"))
      .distinct()
      .localCheckpoint()
    grams.append(gNew, batchId)
    texts.append(tNew, batchId)
    pairs
  }
}
