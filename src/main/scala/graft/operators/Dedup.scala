package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PortableHash, SetJaccard, WordShingles}

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle shape at 100 TB:
  *
  *   - exact: one hash-shuffle on a 64/128-bit digest (never on the text)
  *   - minhash LSH: per-row signature (narrow) -> explode b bands ->
  *     shuffle on (band, bandHash) only — candidate pairs are verified
  *     with exact Jaccard so false positives cost nothing downstream
  *   - simhash: 64-bit signature, self-join on signature bands
  *   - n-gram Jaccard: exact verify used standalone on candidate pairs
  *   - embedding cosine: see [[Similarity]]
  *
  * All shingling/signature work runs as codegen'd Catalyst expressions
  * ([[graft.functions.WordShingles]], [[graft.functions.MinHashSig]],
  * [[graft.functions.SimHash64]], [[graft.functions.SetJaccard]]) so it
  * computes scan-local inside whole-stage codegen — no explode shuffle
  * for signatures, no UDF, no RDD.
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Exact-duplicate groups by canonical fingerprint: returns
    * (fingerprint, keeper id, dup count). Keeper = min id, the standard
    * deterministic survivor rule.
    */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(text).as("fp"))
      .agg(min(id).as("keeper"), count(lit(1)).as("n"))

  /** Corpus snapshot diff — the incremental-crawl bookkeeping step:
    * classify every document identity across two snapshots as `added`
    * (new only), `removed` (old only), `changed` (both, content bytes
    * differ) or `unchanged`. Content identity is raw `md5(text)` — a
    * BYTE diff, deliberately not [[TextAnalysis.fingerprint]]'s
    * canonical form, so a re-crawl that only re-encoded whitespace
    * still reports `changed` (chain a canonical dedup downstream if
    * that noise is unwanted).
    *
    * Scale shape: each side projects to (id, 16-byte fp) BEFORE the
    * full-outer join, so document payloads never shuffle — the join
    * carries two narrow columns per side at 100 TB. Inputs must be
    * id-unique (snapshots, not logs); pre-fold with [[dropExact]] or a
    * replacing merge otherwise.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def fp(df: DataFrame, name: String) = df.select(col(idCol).as("id"),
      md5(col(textCol).cast(org.apache.spark.sql.types.BinaryType)).as(name))
    fp(oldSnap, "old_fp").join(fp(newSnap, "new_fp"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") === col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Drop exact duplicates, keeping the min-id row per fingerprint.
    *
    * A map-side-combined `min(struct(id, row...))` aggregate, not a
    * window: a boilerplate document duplicated millions of times
    * collapses to one candidate per mapper instead of sorting one giant
    * window group on a single reducer. The id leads the struct so the
    * comparison decides on it alone (ids are unique); the row's columns
    * ride along and are re-projected in their original order.
    */
  def dropExact(df: DataFrame, text: Column, id: Column): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(TextAnalysis.fingerprint(text).as("__fp__"))
      .agg(min(struct(id.as("__id__") +: cols.map(col): _*)).as("w"))
      .select(cols.map(c => col("w").getField(c).as(c)): _*)
  }

  /** Streaming exact dedup for a CONTINUOUS corpus feed: first sight of a
    * fingerprint passes, later duplicates drop — state lives in the
    * checkpointed store, partitioned by fingerprint (scales horizontally;
    * the batch-mode reference has no analogue). State grows with the
    * distinct-fingerprint count REGARDLESS of any input watermark —
    * `dropDuplicates` on the fingerprint alone never evicts (eviction
    * needs the event-time column among the keys). For bounded state use
    * [[dropExactStreamingWithinWatermark]].
    */
  def dropExactStreaming(df: DataFrame, text: Column): DataFrame =
    df.withColumn("__fp__", TextAnalysis.fingerprint(text))
      .dropDuplicates("__fp__")
      .drop("__fp__")

  /** Watermark-bounded streaming exact dedup: duplicates are dropped only
    * while the fingerprint's state is younger than the input's watermark
    * delay (`dropDuplicatesWithinWatermark` — the input MUST carry
    * `withWatermark`). State is evicted once the watermark passes, so a
    * 100 TB continuous feed runs with bounded state; a duplicate arriving
    * after its twin's state expired is re-emitted (the standard
    * within-watermark contract).
    */
  def dropExactStreamingWithinWatermark(df: DataFrame, text: Column): DataFrame =
    df.withColumn("__fp__", TextAnalysis.fingerprint(text))
      .dropDuplicatesWithinWatermark("__fp__")
      .drop("__fp__")

  /** Chunk-granularity exact-substring dedup (the distributable form of
    * suffix-array substring dedup a la "Deduplicating Training Data
    * Makes Language Models Better"): cut each document into consecutive
    * `maxTokens`-token chunks ([[TextAnalysis.chunkByTokens]]), keep only
    * the corpus-wide FIRST occurrence of each chunk (order = (id,
    * chunk_id) — deterministic), and reassemble the survivors. Documents
    * whose every chunk duplicates earlier content drop entirely.
    *
    * Returns (id, n_chunks_kept, text_dedup). Two shuffles at any scale:
    * one on the chunk fingerprint (first-occurrence selection; chunk
    * TEXT never enters that exchange beyond the group it wins), one on
    * id for reassembly. The reassembled text is the canonical
    * (lowercased, space-collapsed) form, chunks rejoined by ' '.
    */
  def dropDupChunks(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int): DataFrame = {
    val chunks = TextAnalysis.chunkByTokens(df, idCol, textCol, maxTokens)
    // first occurrence = min (id, chunk_id) per fingerprint, as a plain
    // aggregate — NOT a window: min(struct) combines map-side, so a
    // boilerplate chunk repeated millions of times collapses on the
    // mappers instead of funneling one giant sorted window group through
    // a single reducer (the classic dedup straggler). The struct's field
    // order makes the comparison (id, chunk_id)-first; the chunk text
    // rides along and never decides (keys are unique).
    chunks
      .withColumn("fp", TextAnalysis.fingerprint(col("chunk")))
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("chunk_id"), col("chunk"))).as("w"))
      .select(col("w.id").as("id"), col("w.chunk_id").as("chunk_id"),
        col("w.chunk").as("chunk"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
            s => s.getField("chunk")),
          " ").as("text_dedup"))
  }

  /** Paragraph-granularity exact dedup (the CCNet cleaning shape:
    * duplicated paragraphs — boilerplate blocks, quoted reposts — keep
    * only their corpus-wide FIRST occurrence, order = (id, pos)).
    * Complements [[TextAnalysis.stripBoilerplateLines]] (which waits for
    * `minDocs` distinct documents before a line drops): here a paragraph
    * dedups at its SECOND occurrence. Same two-shuffle scale shape as
    * [[dropDupChunks]]: min(struct) map-side first-occurrence aggregate
    * on the paragraph's canonical fingerprint (NEVER a window — a
    * boilerplate block repeated millions of times collapses on the
    * mappers), then a reassembly aggregate on id. Survivors keep their
    * ORIGINAL text and order, rejoined with newlines; documents whose
    * every paragraph duplicates earlier content drop entirely. Returns
    * (id, n_paras_kept, text_dedup).
    */
  def dropDupParagraphs(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\\n+")).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
    paras
      .withColumn("fp", TextAnalysis.fingerprint(col("para")))
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("pos"), col("para"))).as("w"))
      .select(col("w.id").as("id"), col("w.pos").as("pos"),
        col("w.para").as("para"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_paras_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("para")))),
            s => s.getField("para")),
          "\n").as("text_dedup"))
  }

  // ---- minhash + LSH --------------------------------------------------

  /** Per-document minhash signatures via the fused scan-local expression
    * ([[graft.functions.MinHashSig]]): one md5 per shingle, k wrapped
    * `h1 + i*h2` permutation minima (Broder-style two-hash construction,
    * as in Spark MLlib's MinHashLSH), computed where the document is
    * scanned — no shingle explode, no shuffle. h1/h2 are the digest's
    * 64-bit halves ([[PortableHash]] — bit-identical to DuckDB's
    * md5_number_lower/upper, so the oracle recomputes the signatures).
    * Documents with empty/null shingle arrays are dropped, matching the
    * explode form's inner-aggregation semantics.
    */
  def minhashSignatureDF(df: DataFrame, idCol: String, shinglesCol: String,
      k: Int): DataFrame =
    df.filter(col(shinglesCol).isNotNull && size(col(shinglesCol)) > 0)
      .select(col(idCol).as("id"),
        graft.functions.MinHashSig.of(col(shinglesCol), k).as("sig"))

  /** LSH banding: (docId, band, bandKey) rows — b bands of r rows each
    * (k = b*r). Docs sharing any (band, bandKey) bucket are candidates.
    * The key is the band's raw m-value slice (not a hash of it), so the
    * candidate set is identical to raw band equality by construction —
    * exactly what the oracle declares; no hash-collision caveat.
    */
  def lshBands(df: DataFrame, id: Column, signature: Column,
      bands: Int, rows: Int): DataFrame =
    df.select(id.as("doc_id"), signature.as("sig"))
      .select(col("doc_id"),
        posexplode(array((0 until bands).map { b =>
          slice(col("sig"), b * rows + 1, rows)
        }: _*)).as(Seq("band", "band_hash")))

  /** Near-duplicate candidate pairs via minhash LSH, verified with exact
    * n-gram Jaccard >= threshold. Returns (a, b, jaccard) with a < b.
    *
    * Scale shape: the only wide exchanges are (band, bandHash) self-join
    * buckets and the final distinct — never an all-pairs product. Skewed
    * buckets (boilerplate docs) are bounded by AQE skew-join handling.
    * The verify stage semi-join-prunes the (text-sized) shingle table to
    * the distinct CANDIDATE ids before rejoining it, so the exchange
    * carries candidates' shingles, not the corpus' — at a real-world
    * ~1% dup rate that is the difference between shuffling 1% and 100%
    * of the data (the streaming twin's state pruning, applied to the
    * batch path).
    *
    * The verify payload is the shingle sets' 64-BIT FINGERPRINTS
    * (`xxhash64` per shingle), not the strings: the two id-keyed
    * exchanges and the pair join move 8-byte longs instead of ~25-byte
    * shingle strings (measured at 10M docs: the verify chain was 78 s
    * of the row's 128 s, dominated by 14.5 GB of string-array shuffle —
    * BENCHNOTES r17), and the pair kernel compares primitive arrays
    * ([[graft.functions.SetJaccardLong]]). The reported jaccard equals
    * the string-set jaccard unless two DISTINCT shingles of one
    * candidate pair collide in 64 bits (probability ~|union|²/2⁶⁴ <
    * 1e-14 per pair) — the DuckDB oracle replays the STRING form and
    * the gate has stayed hash-identical.
    *
    * Above `pinMinBytes` of estimated input (plan statistics — file
    * sizes, no extra job), the candidate-pair table and the pruned
    * fingerprint table are PINNED and the (small) result is
    * materialized before return: the fingerprint table feeds BOTH
    * sides of the pair join, and with the broadcast-sized candidate
    * side there is no exchange for Spark's ReuseExchange to share —
    * un-pinned, each side re-ran the corpus scan + shingle kernel +
    * semi-join from scratch (the r17 stage profile's residual 2×:
    * 2.22 GB of fingerprints computed once PER SIDE at 10M docs;
    * 97.5 → 82.1 s on the 10M-doc artifact row — BENCHNOTES r18).
    * Eager materialization is what lets the pins release before the
    * caller ever runs a job. BELOW the threshold the un-pinned single
    * lazy plan runs instead: the three pin/checkpoint jobs cost more
    * than the double-scan they kill (measured: the sub-MB 1x registry
    * row 1.4 → 3.1 s under unconditional pins) — the same
    * decide-who-pays-overhead gate as [[Graph.pageRank]]'s
    * driver-local path, identical output by construction.
    *
    * Residency on the pinned path: the returned frame is PERSISTED
    * (`MEMORY_AND_DISK_SER`, eagerly filled) — call `.unpersist()` on
    * it when done, or the result-sized blocks stay resident for the
    * session (on a heavy-duplicate corpus the pair set is quadratic in
    * clique size, so "result-sized" is not always small). Unlike the
    * r18 localCheckpoint shape this is caller-releasable AND
    * recomputable: losing an executor's blocks after return recomputes
    * the lost partitions from lineage (the pins are gone by then, so a
    * recompute pays the full lazy plan — slower, never wrong). Callers
    * that cannot manage the handle can force the lazy plan with
    * `pinMinBytes = Long.MaxValue`.
    */
  def nearDupPairsMinhash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rows: Int = 4,
      threshold: Double = 0.7, composeNfc: Boolean = false,
      pinMinBytes: Long = 256L << 20,
      broadcastIdsMaxPairs: Long = 1L * 1000 * 1000): DataFrame = {
    // inputs WITHOUT statistics (RDD-backed plans report the
    // defaultSizeInBytes sentinel) take the pinned path: unknown size
    // is treated as large — correct at scale, a few fixed jobs when not
    val pin =
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= pinMinBytes
    if (!pin)
      nearDupPairsMinhashPlan(df, idCol, textCol, n, bands, rows,
        threshold, composeNfc, pin = false)._1
    else {
      val (shingled, cand0) =
        minhashCandidates(df, idCol, textCol, n, bands, rows, composeNfc)
      val candidates = cand0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        // the pin fill doubles as the broadcast-gate measurement: the
        // EXACT candidate-pair count is in hand before the verify plan
        // is built, so the semi-join strategy is a deliberate pick
        // (guide §3.1/§3.2), not an estimate the planner gets wrong.
        // Distinct candidate ids are <= 2*nPairs; the default cap
        // (1M pairs -> <=2M ids, a ~tens-of-MB broadcast relation)
        // broadcasts only when the relation is cheap for every
        // executor AND the pair count signals a selective prune —
        // measured on the all-dup bench corpora (>=2M pairs, prune
        // keeps ~100%), the broadcast shape is byte-neutral but LOSES
        // the SMJ shape's exchange-materialization overlap (~+10% wall
        // at 5M docs), while on a genuinely low-dup corpus it removes
        // the corpus-sized fingerprint exchange and ~all fingerprint
        // CPU; past the cap nothing changes vs the r18-proven shape
        val nPairs = candidates.count()
        val (pairs, shPin) = minhashVerify(shingled, candidates, threshold,
          bcastIds = nPairs <= broadcastIdsMaxPairs, pin = true)
        // fill in dependency order (candidates before the fingerprint
        // table that semi-joins against them), so no two concurrent
        // stages of the result job race to compute one
        shPin.foreach(_.count())
        try {
          val out = pairs.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          // eager: the pins can release before the caller's jobs; a failed
          // fill must not leave the result-sized cache entry registered
          try out.count()
          catch { case e: Throwable => out.unpersist(); throw e }
          out
        } finally shPin.foreach(_.unpersist())
      } finally candidates.unpersist()
    }
  }

  /** The lazy plan + its pins behind [[nearDupPairsMinhash]] — split out
    * so plan-shape tests can assert the verify subtree (ONE gram-kernel
    * scan under an InMemoryRelation, read by both pair sides) before
    * materialization collapses the public entry's plan to an RDD scan.
    * With `pin = false` the same tree is built with no caches (the
    * small-corpus shape; `pins` comes back empty).
    */
  private[graft] def nearDupPairsMinhashPlan(df: DataFrame, idCol: String,
      textCol: String, n: Int, bands: Int, rows: Int,
      threshold: Double, composeNfc: Boolean, pin: Boolean = true)
      : (DataFrame, Seq[DataFrame]) = {
    val (shingled, cand0) =
      minhashCandidates(df, idCol, textCol, n, bands, rows, composeNfc)
    // candidates feed the prune-id set AND the final pair join —
    // un-pinned, the band self-join runs once per consumer
    val candidates = if (pin) cand0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) else cand0
    val (pairs, shPin) =
      minhashVerify(shingled, candidates, threshold, bcastIds = false, pin)
    (pairs, (if (pin) Seq(candidates) else Nil) ++ shPin.toSeq)
  }

  /** Candidate-pair half of the minhash plan: one scan-local
    * shingle+signature pass, the banded self-join, and the pair
    * distinct. `shingled` is returned alongside so the verify half can
    * rejoin the (text-sized) shingle data without a second prep.
    */
  private[graft] def minhashCandidates(df: DataFrame, idCol: String,
      textCol: String, n: Int, bands: Int, rows: Int,
      composeNfc: Boolean): (DataFrame, DataFrame) = {
    val shingled = df.select(
      col(idCol).as("id"),
      WordShingles.of(prepText(col(textCol), composeNfc), n).as("shingles"))
    // signature via explode + codegen'd min-aggregate; banding needs only
    // (id, sig) — the shingle arrays rejoin solely at the verify stage
    val withSig = minhashSignatureDF(shingled, "id", "shingles", bands * rows)

    // bh is a PREFIX join key only (the raw band_hash is still compared,
    // so the candidate set stays band-equality-exact — what the oracle
    // declares): leading the sort-merge keys with one long makes the
    // 8-rows-per-doc self-join sort long-dominated instead of
    // array-comparator-dominated — array compares survive only between
    // hash-equal runs, which are (almost always) truly equal bands
    val banded = lshBands(withSig, col("id"), col("sig"), bands, rows)
      .withColumn("bh", xxhash64(col("band"), col("band_hash")))

    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l.join(r,
        col("l.bh") === col("r.bh") &&
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    (shingled, candidates)
  }

  /** Verify half of the minhash plan: prune the shingle table to the
    * candidate ids, fingerprint, and exact-Jaccard the candidate pairs.
    *
    * `bcastIds = false` (the planner-chosen shape): fingerprints are
    * computed for the WHOLE corpus and semi-join-pruned — the fingerprint
    * table is exchanged by id once for the prune (plus the candIds
    * exchange), correct at any candidate count.
    *
    * `bcastIds = true` (guide §3.2, the pinned path's pick when the
    * measured pair count fits [[nearDupPairsMinhash]]'s cap): the
    * candidate-id set broadcasts into a LEFT-SEMI BroadcastHashJoin on
    * the raw `(id, shingles)` rows, so (a) the corpus-sized fingerprint
    * table never crosses an exchange at all, and (b) the xxhash64
    * fingerprint kernel runs ONLY on surviving candidates — at a
    * real-world ~1% dup rate that is 99% of the fingerprint CPU and the
    * single biggest exchange of the row gone (measured at 5M docs:
    * the semi-join path's four exchange jobs + 4.6 GB prune read were
    * ~38 s of a 71 s row). Identical output: the semi-join keeps exactly
    * the same rows, and per-row fingerprints are deterministic, so
    * computing them after the prune instead of before changes nothing
    * the pair join can observe.
    */
  private[graft] def minhashVerify(shingled: DataFrame,
      candidates: DataFrame, threshold: Double, bcastIds: Boolean,
      pin: Boolean): (DataFrame, Option[DataFrame]) = {
    // prune BEFORE the shingle rejoin: only ids that appear in some
    // candidate pair need their fingerprints moved
    val candIds = candidates
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
    val sh0 =
      if (bcastIds) shingleFingerprints(
        shingled.join(broadcast(candIds), Seq("id"), "left_semi"))
        // the SMJ shape below hands the pinned table id-partitioning for
        // free (its semi-join exchange), and the pair join reads the
        // cache ALIGNED on both sides — zero further exchanges (measured:
        // dropping this repartition made the pair join exchange the
        // cached table by id TWICE, 2 x 4.37 GB at 5M docs). One
        // explicit exchange of the PRUNED fingerprints restores that
        // alignment; the corpus-sized table still never shuffles
        .repartition(col("id"))
      else shingleFingerprints(shingled).join(candIds, Seq("id"), "left_semi")
    // candidate-pruned, so |sh| tracks the dup rate, not the corpus;
    // serialized blocks keep the worst (all-dup) case compact
    val sh = if (pin) sh0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) else sh0
    val pairs = candidates
      .join(sh.as("sa"), col("a") === col("sa.id"))
      .join(sh.as("sb"), col("b") === col("sb.id"))
      .select(col("a"), col("b"),
        graft.functions.SetJaccardLong.of(col("sa.hs"), col("sb.hs"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (pairs, if (pin) Some(sh) else None)
  }

  /** `(id, hs)` 64-bit shingle fingerprints of an `(id, shingles)`
    * table — the verify-exchange payload everywhere a Jaccard is checked
    * (8-byte longs instead of ~25-byte shingle strings; see
    * [[nearDupPairsMinhash]] for the collision bound).
    */
  def shingleFingerprints(sh: DataFrame): DataFrame =
    sh.select(col("id"),
      transform(col("shingles"), s => xxhash64(s)).as("hs"))

  /** Incremental near-dup detection: minhash-LSH candidates of a FRESH
    * batch against an existing REFERENCE corpus, verified with exact
    * Jaccard — the ingestion-time shape. Only cross-corpus (reference,
    * fresh) pairs are generated: the band join is two-sided, so neither
    * reference x reference nor fresh x fresh work is ever re-done — the
    * cost of admitting a batch scales with |fresh| x band-collision
    * rate, not with the corpus. (In a standing pipeline the reference
    * side's signatures are computed once and stored; this recomputes
    * them in one scan-local pass.) Returns (ref_id, new_id, jaccard).
    */
  def nearDupsAgainstMinhash(reference: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rows: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val (shRef, bRef) = prepMinhash(reference, idCol, textCol, n, bands, rows)
    val (shNew, bNew) = prepMinhash(fresh, idCol, textCol, n, bands, rows)
    nearDupsPrepared(shRef, bRef, shNew, bNew, threshold)
  }

  /** Opt-in Unicode NFC composition before shingling (see
    * [[TextAnalysis.fingerprintNfc]] — composed and decomposed encodings
    * of the same text must shingle identically); defaults stay
    * byte-stable.
    */
  private def prepText(text: Column, composeNfc: Boolean): Column =
    if (composeNfc) graft.functions.NfcNormalize.of(text) else text

  /** One scan-local pass over a corpus side: (shingles table
    * `(id, shingles)`, banded-signature table `(doc_id, band,
    * band_hash)`). These two narrow tables ARE the dedup state a
    * standing pipeline persists ([[graft.streaming.StreamingDedup]]) so
    * reference signatures are computed once, not per batch.
    */
  def prepMinhash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rows: Int = 4): (DataFrame, DataFrame) = {
    val shingled = df.select(col(idCol).as("id"),
      WordShingles.of(col(textCol), n).as("shingles"))
    val banded = lshBands(
      minhashSignatureDF(shingled, "id", "shingles", bands * rows),
      col("id"), col("sig"), bands, rows)
    (shingled, banded)
  }

  /** The cross-corpus core of [[nearDupsAgainstMinhash]], over
    * already-prepared sides (fresh from [[prepMinhash]] or loaded from
    * persisted state). Strictly (reference, fresh) pairs. The reference
    * shingle table (corpus-sized) is semi-join-pruned to the candidates'
    * ref ids before the verify join — admission cost tracks the
    * candidate set, not the standing corpus (same shape as
    * [[nearDupPairsMinhash]]'s verify prune and [[graft.streaming
    * .StreamingDedup]]'s bucket pruning).
    */
  def nearDupsPrepared(shRef: DataFrame, bRef: DataFrame,
      shNew: DataFrame, bNew: DataFrame, threshold: Double): DataFrame = {
    val candidates = bandCandidates(bRef, bNew)
    val refIds = candidates.select(col("ref_id").as("id")).distinct()
    verifyJaccardHashed(candidates,
      shingleFingerprints(shRef).join(refIds, Seq("id"), "left_semi"),
      shingleFingerprints(shNew), threshold)
  }

  /** Stage 1 of [[nearDupsPrepared]]: distinct (ref_id, new_id)
    * candidate pairs from the banded equi-join. Broken out so a standing
    * pipeline ([[graft.streaming.StreamingDedup]]) can broadcast-hint
    * the (small) fresh side, pin the candidates, and prune the shingle
    * state it feeds to [[verifyJaccardHashed]] by the candidates' id
    * buckets.
    */
  def bandCandidates(bRef: DataFrame, bNew: DataFrame): DataFrame =
    bRef.as("l").join(bNew.as("r"),
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash"))
      .select(col("l.doc_id").as("ref_id"), col("r.doc_id").as("new_id"))
      .distinct()

  /** Stage 2 of [[nearDupsPrepared]]: exact-Jaccard verification of
    * candidate pairs against two `(id, hs)` FINGERPRINT tables
    * ([[shingleFingerprints]] — or a standing pipeline's persisted
    * fingerprint state). Same string-jaccard value modulo the per-pair
    * < 1e-14 64-bit collision bound on [[nearDupPairsMinhash]]; the
    * DuckDB oracles replay the string form unchanged.
    */
  def verifyJaccardHashed(candidates: DataFrame, fpRef: DataFrame,
      fpNew: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(fpRef.as("sa"), col("ref_id") === col("sa.id"))
      .join(fpNew.as("sb"), col("new_id") === col("sb.id"))
      .select(col("ref_id"), col("new_id"),
        graft.functions.SetJaccardLong.of(col("sa.hs"), col("sb.hs"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact n-gram Jaccard over ALL pairs (quadratic — the oracle/baseline
    * path for small data; production uses the LSH variant above).
    */
  def nearDupPairsExact(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      WordShingles.of(col(textCol), n).as("sh"))
    sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        SetJaccard.of(col("x.sh"), col("y.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment pairs: `|shingles(a) ∩ shingles(b)| /
    * |shingles(a)|` >= threshold — detects SUB-document duplication
    * (quotes, excerpts, wrapped reposts) that symmetric Jaccard dilutes:
    * a 10-word excerpt of a 500-word doc has Jaccard ~0.02 but
    * containment 1.0. Directional: (a, b) means a is contained IN b;
    * both directions are evaluated. Like [[nearDupPairsExact]] this is
    * the exact bounded-slice form (all-pairs); at corpus scale the
    * banded tiers ([[nearDupPairsMinhash]], [[substringDupPairs]]) are
    * the candidate generators and this containment score is the verify.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      WordShingles.of(col(textCol), n).as("sh"))
    val c = size(array_intersect(col("x.sh"), col("y.sh")))
      .cast(DoubleType) / size(col("x.sh"))
    sh.as("x").join(sh.as("y"), col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        c.as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---- simhash --------------------------------------------------------

  /** 64-bit simhash over word tokens — the definitional (compositional)
    * Column form: for each bit j, sum(sign of bit j of md5(token)) —
    * positive -> bit set. [[simhashDF]] computes identical signatures
    * via the fused [[graft.functions.SimHash64]] expression (pinned by a
    * parity test).
    */
  def simhash64(text: Column): Column = {
    val toks = TextAnalysis.canonToks(text)
    val hashes = transform(toks, t => PortableHash.md5Lo(t))
    // counters[j] = sum over tokens of (bit j set ? +1 : -1); single pass
    // over the token hashes, bit positions are compile-time literals
    val counters = aggregate(
      hashes,
      array((0 until 64).map(_ => lit(0)): _*),
      (acc, h) => zip_with(
        acc,
        array((0 until 64).map(j =>
          when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)): _*),
        (a, b) => a + b))
    // fold bits into a long: OR of 2^j where counters[j] > 0
    (0 until 64).map { j =>
      when(element_at(counters, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two simhash values. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- dedup clustering (connected components) ------------------------

  /** Connected components over near-duplicate PAIRS — the step that turns
    * pairwise dedup output into droppable duplicate CLUSTERS (pairs alone
    * don't dedup a corpus: near-duplication is transitive through chains
    * A~B~C where A!~C, and every doc of a cluster except one canonical
    * survivor must drop).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the shape that
    * survives 100 TB:
    *
    *   - converges in O(log n) rounds regardless of component diameter
    *     (plain min-label propagation needs O(diameter) rounds — a
    *     pathological chain of near-dup shards makes that unbounded);
    *   - each round is a groupBy-min + an equi-join on the SAME key, so
    *     the join reuses the aggregation's hash partitioning — two narrow
    *     shuffles per round, never a collect_set (no giant neighbor
    *     arrays on skewed hub nodes; AQE splits skewed reduce buckets);
    *   - `localCheckpoint` truncates the iterative lineage each round so
    *     the plan doesn't grow superlinearly.
    *
    * Returns (id, component) for every node appearing in `pairs` (edge
    * columns `a`, `b`), where component = the minimum node id of the
    * connected component — the canonical-survivor rule (keep
    * `id == component`, drop the rest). Refuses after 25 rounds without
    * a fixed point.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val maxIter = 25
    // canonical edge direction: u > v (larger node points to smaller)
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // large-star: every node u links its LARGER neighbors to the minimum
    // of its neighborhood (min over Γ(u) ∪ {u}). No trailing distinct:
    // duplicate edges are absorbed by small-star's map-side-combined
    // groupBy and removed by ITS distinct, so deduplicating here would
    // only add a full extra exchange per round (measured ~15% of the
    // closure time at the 10x bench scale).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: every node u links its SMALLER neighbors (and itself)
    // to the minimum of those
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val linked = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      linked.union(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    // cheap fixed-point detector: (count, order-independent edge hash) —
    // one pass, no except(); the star alternation is monotone so a stable
    // checksum IS the fixed point (star forests map to themselves)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = canon(
      pairs.select(col("a").cast(LongType).as("u"),
        col("b").cast(LongType).as("v"))).localCheckpoint()
    var cks = checksum(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextCks = checksum(next)
      converged = nextCks == cks
      edges = next
      cks = nextCks
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")

    // converged star forest: non-roots point at their component min;
    // roots appear only on the v side and map to themselves
    val members = edges.select(col("u").as("id"), col("v").as("component"))
    val roots = edges.select(col("v").as("id")).distinct()
      .join(edges.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    members.union(roots)
  }

  /** Cluster assignment for a whole corpus: every doc gets a component
    * (singletons map to themselves) plus the survivor decision — `keep`
    * is true exactly for the minimum id of each cluster. The standard
    * tail of a near-dup pipeline: `cluster(corpus, pairs).filter("keep")`
    * is the deduplicated corpus.
    */
  def cluster(corpus: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
    corpus.select(col(idCol).cast(LongType).as("id"))
      .join(comp, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
      .withColumn("keep", col("id") === col("component"))
  }

  /** Per-document simhash signatures via the fused scan-local expression
    * ([[graft.functions.SimHash64]]): no token explode, no shuffle — the
    * signature computes where the document is scanned. (An earlier
    * explode + 64-conditional-sum aggregate shuffled ~200 rows per
    * document; the fused pass halved the corpus signature time.)
    */
  def simhashDF(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.SimHash64.of(col(textCol)).as("sh"))

  /** Simhash near-dup pairs: block on 4 16-bit bands (a pair within
    * hamming distance<=3 of 64 bits shares at least one identical band by
    * pigeonhole when distance < 4), verify with true hamming distance.
    *
    * `wideRecall = true` keeps the same bands but probes each band
    * within its 1-bit flip ball on one join side (the multi-probe shape
    * the embedding LSH path uses): 7 differing bits across 4 bands leave
    * some band with <= 1 differing bit, so recall is exact up to
    * `maxHamming` <= 7 at 17 keys per band — candidate growth
    * ~n²·68/65536, never the n²/64 a single-byte re-band would cost.
    *
    * `maxBucketSize > 0` arms [[HammingBands.withoutHotBuckets]]: a
    * pathological key — boilerplate clones, adversarial near-constant
    * text — degrades to a bounded skip. Off (0) by default: the guard
    * trades recall on degenerate keys for worst-case bounds, which is an
    * operator's call, not a silent one.
    *
    * NO occupancy refusal here, deliberately (the embedding bands'
    * [[Similarity.requireBandOccupancy]] rule was probed and does NOT
    * transfer — BENCHNOTES r17): uniform band occupancy stays
    * CPU-cheap far past the embedding families' quadratic knee
    * (measured 32M distinct random fps = occupancy ~488/bucket in
    * 52 s, near-linear down the sweep) because verification is
    * join-local codegen'd `bit_count` on the rows already in hand and
    * the hamming filter pushes below the pair-distinct exchange —
    * per-candidate cost is ~2 instructions, not an array-cosine verify
    * join. What actually blows up is SKEW (one degenerate bucket on
    * one reducer, quadratic OUTPUT) — which identical-fingerprint
    * collapse and this cap bound.
    */
  def nearDupPairsSimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, wideRecall: Boolean = false,
      maxBucketSize: Int = 0): DataFrame = {
    HammingBands.requireRecall(maxHamming, wideRecall)
    val sigs = simhashDF(df, idCol, textCol).select(col("id"), col("sh"))
    val (memberSide, probeSide) = HammingBands.withoutHotBuckets(
      HammingBands.sides(sigs, "sh", wideRecall), maxBucketSize)
    memberSide.as("l").join(probeSide.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        hamming64(col("l.sh"), col("r.sh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- edit-distance fuzzy join (short keys) ---------------------------

  /** Pairs within Levenshtein distance `maxDist` over a SHORT key column
    * (normalized titles, product codes, canonical names — record-linkage
    * blocking). Exact recall without an n² comparison via SymSpell's
    * deletion-neighborhood property: if lev(a,b) <= d, then some string
    * obtainable by <= d deletions from a equals one obtainable by <= d
    * deletions from b. Each row emits its <=d-deletion variants HASHED
    * (the ~n^d/d! variant strings are generated and hashed scan-local,
    * only 8-byte hashes + the key shuffle), candidates band on the
    * variant hash, and every candidate is verified with the real
    * threshold-bounded `levenshtein`, so hash collisions and the
    * neighborhood's over-generation never produce a false pair.
    *
    * Keys are assumed short (<= ~64 chars): variant count is quadratic
    * in key length at d=2, which is the point — the blowup rides the
    * scan, not the exchange. For long-document similarity use
    * [[nearDupPairsMinhash]] / [[nearDupPairsSimhash]] instead.
    */
  def nearDupPairsEdit(df: DataFrame, idCol: String, keyCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletion-neighborhood generation is implemented for d in {1,2}")
    def del1(s: Column): Column = transform(
      sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    val s = col("__fk")
    val d1 = del1(s)
    val variants =
      if (maxDist == 1) array_distinct(concat(array(s), d1))
      else array_distinct(concat(array(s), d1,
        flatten(transform(d1, v => del1(v)))))
    val v = df.select(col(idCol).as("id"), col(keyCol).as("__fk"))
      .select(col("id"), col("__fk"), explode(variants).as("v"))
      .select(col("id"), col("__fk"), xxhash64(col("v")).as("vh"))
      .distinct()
    val l = v.select(col("id").as("a"), col("__fk").as("__ka"), col("vh"))
    val r = v.select(col("id").as("b"), col("__fk").as("__kb"), col("vh"))
    l.join(r, Seq("vh")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("__ka"), col("__kb"))
      .distinct()
      .withColumn("dist", levenshtein(col("__ka"), col("__kb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a"), col("b"), col("dist"))
  }

  // ---- exact-substring dedup (shared k-char spans) ---------------------

  /** Document pairs sharing at least one exact `k`-character window —
    * the pair form of exact-substring dedup (Lee et al.: verbatim
    * cross-document spans are the highest-value dups to remove from
    * training data, and they survive minhash because the span can be a
    * small fraction of each document).
    *
    * Scale shape: each document emits its k-gram ROLLING HASHES (16
    * bytes/gram, one scan-local pass — [[graft.functions.CharGramHashes]])
    * instead of the grams, one (id,hash) witness survives per distinct
    * in-doc gram, candidates band on the 128-bit hash, collapse to one
    * witness per pair, and the witness is re-verified against the REAL
    * text via a join back to the corpus — so a hash collision can never
    * produce a false pair. (A pair is missed only if its minimal witness
    * is a double-hash collision while all its true shared grams are not
    * — probability ~2⁻¹²⁸ per pair; the DuckDB oracle computes the true
    * substring join and matches.) A k-gram shared by m documents yields
    * m² candidates — those pairs genuinely share the span, so the output
    * is the work; AQE's skew handling splits the hot hash partitions.
    */
  def substringDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40): DataFrame =
    verifiedPairs(df, idCol, textCol, k, withPos(df, idCol, textCol, k))

  /** One (id, h1, h2, pos) witness row per distinct in-document gram —
    * deduped in the kernel ([[graft.functions.CharGramHashes
    * .allDistinct]]), never through a groupBy(id, h1, h2) exchange of
    * ~unique keys (the winnowed path's measured 15 GB-spill pathology,
    * at ~(w+1)/2 x the gram volume here).
    */
  private def withPos(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.CharGramHashes.ofDistinct(col(textCol), k))
          .as("hh"))
      .select(col("id"), col("hh.h1").as("h1"), col("hh.h2").as("h2"),
        (col("hh.p0") + 1).as("pos"))

  /** [[substringDupPairs]] at winnowed gram density — the 100 TB knob.
    * Winnowing (Schleimer et al., MOSS) keeps ~2/(w+1) of each
    * document's grams, selected by gram CONTENT so selection aligns
    * across documents: any pair sharing a span of ≥ k+w-1 characters is
    * GUARANTEED to share a selected gram, and every reported pair is
    * still verified against the real text (no false positives at any
    * density). The gram exchange shrinks ~(w+1)/2×; detection of spans
    * in [k, k+w-2] becomes best-effort instead of guaranteed.
    */
  def substringDupPairsWinnowed(df: DataFrame, idCol: String,
      textCol: String, k: Int = 40, w: Int = 10): DataFrame = {
    // one witness per distinct in-doc gram, derived IN THE KERNEL
    // ([[graft.functions.CharGramHashes.winnowDistinct]]): selection
    // order is position order, so keep-first per fingerprint IS the
    // minimum-position witness. The r15 shape reached the same witness
    // set through groupBy(id, h1, h2) — a corpus-sized exchange of
    // ~unique keys whose partial aggregation cannot combine anything
    // and whose hash maps overflow (measured at 5M docs: the dominant
    // half of 34 GB shuffle write and ~15 GB of aggregate spill, all
    // for a dedup each document can do in its own row). A sort_array +
    // HOF-filter variant was measured too: same witness set, but the
    // interpreted per-element lambda and struct sort doubled the wall —
    // the kernel pass is O(selected) with no per-element expression eval.
    val sel = df.select(col(idCol).as("id"),
        explode(graft.functions.CharGramHashes
          .winnowedDistinct(col(textCol), k, w)).as("hh"))
      .select(col("id"), col("hh.h1").as("h1"), col("hh.h2").as("h2"),
        (col("hh.p0") + 1).as("pos"))
    verifiedPairs(df, idCol, textCol, k, sel)
  }

  /** Band witness rows on (h1,h2), collapse to one witness per (a,b)
    * pair, then re-extract both witness substrings from the corpus and
    * keep only pairs whose windows are LITERALLY equal.
    *
    * Deliberately NOT candidate-id-pruned like the minhash/embedding
    * verify stages, and the asymmetry is measured, not assumed: here the
    * corpus-sized payload is the WITNESS table itself (winnowed 16-byte
    * gram hashes ~ 2-3x the text bytes), which must shuffle for the
    * banding no matter the dup rate — the text re-extraction joins are a
    * minority of the bytes. Deriving candidate ids for a semi-join forks
    * the witness self-join subtree, and column pruning specializes the
    * two forks (one keeps pa/pb, one doesn't) so exchange reuse cannot
    * collapse them: on a 5M-doc low-dup corpus the pruned variant ran
    * the dominant join twice — 53.2 -> 95.3 GB shuffle read,
    * 247.7 -> 364.9 s wall — for a text saving bounded by ~15% of
    * bytes. In minhash the same prune wins because candidates derive
    * from signature-only bands (cheap, reuse-friendly) while the
    * pruned payload (shingle arrays) carries the text weight.
    */
  private def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, witnesses: DataFrame): DataFrame = {
    val l = witnesses.select(col("id").as("a"), col("h1"), col("h2"),
      col("pos").as("pa"))
    val r = witnesses.select(col("id").as("b"), col("h1"), col("h2"),
      col("pos").as("pb"))
    val cand = l.join(r, Seq("h1", "h2")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(min(struct(col("h1"), col("h2"), col("pa"), col("pb"))).as("w"))
      .select(col("a"), col("b"), col("w.pa").as("pa"), col("w.pb").as("pb"))
    val ta = df.select(col(idCol).as("a"), col(textCol).as("__ta"))
    val tb = df.select(col(idCol).as("b"), col(textCol).as("__tb"))
    cand.join(ta, "a").join(tb, "b")
      .filter(col("__ta").substr(col("pa"), lit(k)) ===
        col("__tb").substr(col("pb"), lit(k)))
      .select(col("a"), col("b"))
  }
}
