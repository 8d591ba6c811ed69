package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal plumbing over synthetic assets: metadata and features,
  * real BMP/WAV/video decoding, perceptual-hash dedup, demuxed frames,
  * scenes, audio segments and thumbnails. The oracles regenerate every
  * payload from its id arithmetic and decode it again in SQL.
  */
object MultimodalQueries {
  import SharedOracles._

  val queries: Seq[Query] = Seq(
    // --- multimodal byte-metadata pass (binary envelope plumbing) ---------
    Query("mm_meta",
      """SELECT doc_id AS asset_id,
        |  octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS sha256,
        |  upper(substr(hex(encode(text)), 1, 8)) AS magic
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val assets = Tables(s, dir).documents
        .select(col("doc_id").as("asset_id"), lit("text").as("modality"),
          lit("text/plain").as("mime"),
          col("text").cast(BinaryType).as("content"),
          map().cast(MapType(StringType, StringType)).as("meta"))
      Multimodal.withByteMetadata(assets)
        .select(col("asset_id"), col("byte_len"), col("sha256"), col("magic"))
        .orderBy(col("asset_id"))
    },

    // --- multimodal decode-stub features: the stub accumulates exact
    //     integer byte sums, so the oracle recomputes f0 from the same
    //     bytes (the real-codec swap point stays mapPartitions) -----------
    Query("mm_features", mmFeaturesOracle) { (s, dir) =>
      val assets = Multimodal.syntheticAssets(
        Tables(s, dir).documents.select(col("doc_id").as("asset_id")))
      val feats = Multimodal.extractFeatures(assets)
      feats.toDF()
        .select(col("asset_id"), col("byte_len"),
          round(element_at(col("features"), 1).cast(DoubleType), 6).as("f0"))
        .orderBy(col("asset_id"))
    },

    // --- REAL image decode: deterministic 24-bit BMP fixtures go through
    //     the actual javax.imageio path (8x8 bases + their 2x nearest-
    //     upscaled 16x16 twins, which must dHash identically), plus
    //     non-image payloads that must be DROPPED, not crash; the oracle
    //     regenerates every pixel from the id arithmetic alone ----------
    Query("mm_decode_real", mmDecodeRealOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      // content is built BEFORE the id shift (a same-select shift would
      // lateral-alias into the pixel arithmetic)
      def bmp(shift: Long, size: Int) = ids
        .select(col("asset_id"),
          Multimodal.bmpContent(col("asset_id"), size, lit(false)).as("content"))
        .select((col("asset_id") + shift).as("asset_id"), col("content"))
      val junk = ids.filter(col("asset_id") % 3 === 0)
        .select(col("asset_id"),
          unhex(lpad(hex(col("asset_id") * 2654435761L), 16, "0")).as("content"))
        .select((col("asset_id") + 3000000L).as("asset_id"), col("content"))
      Multimodal.decodeImages(
          bmp(0L, 8).unionByName(bmp(1000000L, 16)).unionByName(junk)).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("gray_sum"), col("gray_min"), col("gray_max"),
          lpad(hex(col("dhash")), 16, "0").as("dhash_hex"))
        .orderBy(col("asset_id"))
    },

    // --- perceptual-hash image dedup: banded dHash near-dup pairs over
    //     base images, their scale twins (hamming 0 by construction —
    //     they COLLAPSE into a rep+clique under the default clique-safe
    //     path) and noise twins (a two-cell luma bump flips a few
    //     gradient bits — they pair with the representatives) -----------
    Query("mm_phash_dedup", mmPhashOracle(maxHamming = 6, probe = 1)) { (s, dir) =>
      val decoded = phashImages(s, dir)
      Multimodal.imageNearDups(decoded, maxHamming = 6, wideRecall = true)
        .select(col("a"), col("b"), col("hamming"),
          col("clique_a"), col("clique_b"))
        .orderBy(col("a"), col("b"))
    },

    // --- the DEFAULT (scale-safe) banding: 4×16-bit bands, exact recall
    //     for hamming <= 3 — the tightest-candidate shape; the wideRecall
    //     mode above adds 1-bit band probing for exact 4..7-bit recall --
    Query("mm_phash_dedup_tight", mmPhashOracle(maxHamming = 3, probe = 0)) { (s, dir) =>
      val decoded = phashImages(s, dir)
      Multimodal.imageNearDups(decoded)
        .select(col("a"), col("b"), col("hamming"),
          col("clique_a"), col("clique_b"))
        .orderBy(col("a"), col("b"))
    },

    // --- REAL audio decode: deterministic PCM WAV fixtures go through the
    //     actual RIFF chunk-walking parse (16-bit bases, their exact-2x
    //     gain twins — which must fingerprint identically, the volume
    //     invariance — and an 8-bit variant), plus non-audio payloads
    //     that must DROP; the oracle regenerates every sample from the id
    //     arithmetic alone -----------------------------------------------
    Query("mm_audio_decode", mmAudioDecodeOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      // content before the id shift (lateral-alias hazard, as mm_decode)
      def wav(shift: Long, gain: Int, bits: Int) = ids
        .select(col("asset_id"),
          Multimodal.wavContent(col("asset_id"), 260, gain, lit(false), bits)
            .as("content"))
        .select((col("asset_id") + shift).as("asset_id"), col("content"))
      val junk = ids.filter(col("asset_id") % 3 === 0)
        .select(col("asset_id"),
          unhex(lpad(hex(col("asset_id") * 2654435761L), 16, "0")).as("content"))
        .select((col("asset_id") + 3000000L).as("asset_id"), col("content"))
      Multimodal.decodeAudio(wav(0L, 1, 16).unionByName(wav(1000000L, 2, 16))
          .unionByName(wav(2000000L, 1, 8)).unionByName(junk)).toDF()
        .select(col("asset_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("abs_sum"), col("peak"),
          lpad(hex(col("afp")), 16, "0").as("afp_hex"))
        .orderBy(col("asset_id"))
    },

    // --- energy-fingerprint audio dedup: banded near-dup pairs over base
    //     recordings, their gain twins (hamming 0 by construction) and
    //     noise twins (a +300 bump over a 16-sample window flips a few
    //     energy-gradient bits) ------------------------------------------
    Query("mm_audio_dedup", mmAudioDedupOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      def wav(shift: Long, gain: Int, noisy: Boolean) = ids
        .select(col("asset_id"),
          Multimodal.wavContent(col("asset_id"), 260, gain, lit(noisy))
            .as("content"))
        .select((col("asset_id") + shift).as("asset_id"), col("content"))
      val decoded = Multimodal.decodeAudio(wav(0L, 1, noisy = false)
        .unionByName(wav(1000000L, 2, noisy = false))
        .unionByName(wav(2000000L, 1, noisy = true))).toDF()
      Multimodal.audioNearDups(decoded, maxHamming = 7, wideRecall = true)
        .select(col("a"), col("b"), col("hamming"),
          col("clique_a"), col("clique_b"))
        .orderBy(col("a"), col("b"))
    },

    // --- REAL video demux: deterministic uncompressed AVI fixtures go
    //     through the actual RIFF container walk (hdrl/avih + strl/strf +
    //     movi raw-DIB frames) into per-frame luma stats + dHash; junk
    //     payloads DROP; the oracle regenerates every frame's pixels from
    //     the id arithmetic alone ----------------------------------------
    Query("mm_video_demux", mmVideoDemuxOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      def avi(shift: Long, noisy: Boolean) = ids
        .select(col("asset_id"),
          Multimodal.aviContent(col("asset_id"), 10, 8, lit(noisy))
            .as("content"))
        .select((col("asset_id") + shift).as("asset_id"), col("content"))
      val junk = ids.filter(col("asset_id") % 3 === 0)
        .select(col("asset_id"),
          unhex(lpad(hex(col("asset_id") * 2654435761L), 16, "0")).as("content"))
        .select((col("asset_id") + 3000000L).as("asset_id"), col("content"))
      Multimodal.decodeVideoFrames(avi(0L, noisy = false)
          .unionByName(avi(1000000L, noisy = true)).unionByName(junk)).toDF()
        .select(col("asset_id"), col("frame_id"), col("width"), col("height"),
          col("gray_sum"), lpad(hex(col("dhash")), 16, "0").as("dhash_hex"))
        .orderBy(col("asset_id"), col("frame_id"))
    },

    // --- video near-dup: frame-slot-aligned dHash matching over base
    //     videos, byte-identical copies (identical frame-hash sequences —
    //     they COLLAPSE into a rep+clique under the default clique-safe
    //     path) and touched-up copies (frames 0/5 bumped; the 80% bar
    //     still links them to the representatives) ----------------------
    Query("mm_video_dedup", mmVideoDedupOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      def avi(shift: Long, noisy: Boolean) = ids
        .select(col("asset_id"),
          Multimodal.aviContent(col("asset_id"), 10, 8, lit(noisy))
            .as("content"))
        .select((col("asset_id") + shift).as("asset_id"), col("content"))
      val frames = Multimodal.decodeVideoFrames(avi(0L, noisy = false)
        .unionByName(avi(1000000L, noisy = false))
        .unionByName(avi(2000000L, noisy = true))).toDF()
      Multimodal.videoNearDups(frames, maxHamming = 6, minMatchPct = 80,
          wideRecall = true)
        .select(col("a"), col("b"), col("n_matched"), col("n_a"), col("n_b"),
          col("clique_a"), col("clique_b"))
        .orderBy(col("a"), col("b"))
    },

    // --- scene-change detection: sceneLen=4 fixtures give static scenes
    //     [0..3][4..7][8..9]; cuts must land exactly at 0/4/8 with
    //     hamming 0 inside scenes; the oracle recomputes every frame
    //     hash and the lag ----------------------------------------------
    Query("mm_video_scenes", mmVideoScenesOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      val avi = ids.select(col("asset_id"),
        Multimodal.aviContent(col("asset_id"), 10, 8, lit(false), sceneLen = 4)
          .as("content"))
      Multimodal.sceneChanges(
          Multimodal.decodeVideoFrames(avi).toDF(), maxHamming = 2)
        .select(col("asset_id"), col("frame_id"), col("hamming_prev"),
          col("is_cut"))
        .orderBy(col("asset_id"), col("frame_id"))
    },

    // --- silence segmentation: a muted third quarter splits each track
    //     at windows 33..47, and slow sawtooths also dip under the 25%-
    //     of-mean bar at zero crossings — the oracle replays the exact
    //     integer threshold and run-numbering ---------------------------
    Query("mm_audio_segments", mmAudioSegmentsOracle) { (s, dir) =>
      val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
        .select(col("doc_id").as("asset_id"))
      val assets = ids.select(col("asset_id"),
        Multimodal.wavContent(col("asset_id"), 260, mute = lit(true))
          .as("content"))
      Multimodal.audioSegments(
          Multimodal.audioWindows(assets).toDF(), silencePctOfMean = 25)
        .select(col("asset_id"), col("seg_id"), col("start_window"),
          col("end_window"), col("n_windows_seg"), col("energy_sum"))
        .orderBy(col("asset_id"), col("seg_id"))
    },

    // --- multimodal frame sampling: contiguous byte windows at the
    //     demuxer-stub seek offsets, exact per-frame byte sums -----------
    Query("mm_frames", mmFramesOracle) { (s, dir) =>
      val assets = Multimodal.syntheticAssets(
        Tables(s, dir).documents.select(col("doc_id").as("asset_id")),
        modality = "video")
      Multimodal.sampleFrames(assets, nFrames = 4).toDF()
        .orderBy(col("asset_id"), col("frame_id"))
    },

    // --- multimodal resize stub: strided-byte thumbnail geometry +
    //     exact sampled-byte sums ----------------------------------------
    Query("mm_resize", mmResizeOracle) { (s, dir) =>
      val assets = Multimodal.syntheticAssets(
        Tables(s, dir).documents.select(col("doc_id").as("asset_id")),
        modality = "image")
      Multimodal.resizeStub(assets, maxBytes = 64).toDF()
        .orderBy(col("asset_id"))
    }
  )

  /** Regenerate [[graft.operators.Multimodal.syntheticAssets]]'s payload
    * hex dump (and byte length) from the id column alone — the oracle
    * twin of the REAL-binary fixture (same id-seeded byte arithmetic,
    * same edge lengths: 0, sub-frame, over-budget).
    */
  private def assetBytesCte(lenCol: String): String =
    s"""b AS (
       |  SELECT asset_id, len AS $lenCol,
       |    coalesce(list_aggregate(list_transform(range(0, len),
       |      j -> lpad(hex((asset_id * 31 + j * 7) % 256), 2, '0')),
       |      'string_agg', ''), '') AS h
       |  FROM (SELECT asset_id,
       |    CASE WHEN asset_id % 17 = 0 THEN 0
       |         WHEN asset_id % 17 = 1 THEN asset_id % 4
       |         WHEN asset_id % 17 = 2 THEN 5000
       |         ELSE (asset_id * 137) % 997 END AS len
       |    FROM (SELECT doc_id AS asset_id FROM documents)))""".stripMargin

  /** mm_features f0: exact integer byte sums over stride-8 positions of
    * the fixture bytes (via hex-nibble lookup), one double division, cast
    * through REAL — bit-parity with DecodeStub.decode.
    */
  private def mmFeaturesOracle: String = {
    val nib = "strpos('0123456789ABCDEF', %s) - 1"
    val hi = nib.format("substr(h, 2*i + 1, 1)")
    val lo = nib.format("substr(h, 2*i + 2, 1)")
    s"""WITH ${assetBytesCte("byte_len")},
       |s AS (
       |  SELECT asset_id, byte_len,
       |    coalesce(list_sum(list_transform(
       |      range(0, CAST(byte_len AS INT), 8),
       |      i -> ($hi) * 16 + ($lo))), 0) AS s0,
       |    greatest(1, byte_len // 8) AS stripe
       |  FROM b)
       |SELECT asset_id, byte_len,
       |  round(CAST(CAST(CASE WHEN byte_len = 0 THEN 0.0
       |    ELSE s0 / (255.0 * stripe) END AS REAL) AS DOUBLE), 6) AS f0
       |FROM s ORDER BY asset_id""".stripMargin
  }

  /** Shared CTEs for the REAL-decode oracles: regenerate the BMP
    * fixture's pixels from the id arithmetic alone (uncompressed 24-bit
    * BMP = header + raw bottom-up BGR rows, so the pixels ImageIO decodes
    * ARE the arithmetic — nothing format-side to re-derive), apply the
    * identical integer luma map, and fold the 9x8 nearest-grid dHash
    * exactly as [[graft.operators.Multimodal.dHash64]] (bit `j*8+i` via
    * power-of-two literals — DuckDB's `<<` overflows at bit 63, the
    * [[simhashOracle]] lesson). Junk payloads (ids + 3000000) never
    * appear: the decode DROPS undecodable bytes.
    */
  private def mmPixelCtes(withNoisy: Boolean): String = {
    val noisyRow = if (withNoisy)
      "\n  UNION ALL SELECT pid, pid + 2000000, 8, 1 FROM ids" else ""
    mmPixelCtesFor(
      s"""SELECT pid, pid AS asset_id, 8 AS size, 0 AS noisy FROM ids
         |  UNION ALL SELECT pid, pid + 1000000, 16, 0 FROM ids$noisyRow""".stripMargin)
  }

  private def mmDecodeRealOracle: String =
    s"""WITH ${mmPixelCtes(withNoisy = false)},
       |st AS (
       |  SELECT asset_id, CAST(SUM(luma) AS BIGINT) AS gray_sum,
       |    CAST(MIN(luma) AS INT) AS gray_min,
       |    CAST(MAX(luma) AS INT) AS gray_max
       |  FROM lum GROUP BY asset_id)
       |SELECT a.asset_id, CAST(a.size AS INT) AS width,
       |  CAST(a.size AS INT) AS height,
       |  st.gray_sum, st.gray_min, st.gray_max,
       |  lpad(hex(hs.dh), 16, '0') AS dhash_hex
       |FROM a JOIN st USING (asset_id) JOIN hs USING (asset_id)
       |ORDER BY a.asset_id""".stripMargin

  /** The phash pair oracle: collapse-first (the operator's clique-safe
    * default — identical hashes fold to (rep = min id, clique = count)
    * before pairing), then the 4×16-bit band gate: `probe` = 1 mirrors
    * the Spark side's multi-probe wide-recall banding (some band differs
    * in <= 1 bit — recall-complete for hamming <= 7 by pigeonhole),
    * `probe` = 0 the DEFAULT banding (recall-redundant for hamming <= 3,
    * mirrored anyway so the oracle replays the exact candidate
    * generation).
    */
  private def mmPhashOracle(maxHamming: Int, probe: Int): String =
    s"""WITH ${mmPixelCtes(withNoisy = true)},
       |cl AS (
       |  SELECT dh, min(asset_id) AS rep, count(*) AS clique
       |  FROM hs GROUP BY dh),
       |pairs AS (
       |  SELECT l.rep AS a, r.rep AS b,
       |    CAST(bit_count(xor(l.dh, r.dh)) AS INT) AS hamming,
       |    l.clique AS clique_a, r.clique AS clique_b
       |  FROM cl l JOIN cl r ON l.rep < r.rep
       |    AND (${band16("dh", probe)}))
       |SELECT a, b, hamming, clique_a, clique_b FROM pairs
       |WHERE hamming <= $maxHamming ORDER BY a, b""".stripMargin

  /** Shared CTEs for the REAL audio-decode oracles: regenerate the WAV
    * fixture's PCM samples from the id arithmetic alone (uncompressed
    * PCM = headers + raw LE samples, so what [[graft.operators.Multimodal
    * .WavDecoder]] parses IS the arithmetic) and fold the 65-window
    * energy-gradient fingerprint exactly as [[graft.operators.Multimodal
    * .audioFingerprint64]]. n = 260 = 65*4 makes every window exactly 4
    * samples, so window-of-k is plain `k // 4`. Junk payloads never
    * appear: the decode DROPS undecodable bytes.
    */
  private def mmAudioCtes(variants: String): String = {
    val pow2 = (0 until 64).map(p => (BigInt(1) << p).toString)
      .mkString("[", ", ", "]")
    s"""ids AS (SELECT doc_id AS pid FROM documents WHERE doc_id < 300),
       |a AS ($variants),
       |s AS (
       |  SELECT asset_id, pid, bits, gain, noisy, mute,
       |    unnest(generate_series(0, 259)) AS k
       |  FROM a),
       |v AS (
       |  SELECT asset_id, k,
       |    CASE WHEN mute = 1 AND k >= 130 AND k < 195 THEN 0
       |      WHEN bits = 8
       |      THEN ((pid * 31 + k * (7 + pid % 97)) % 256) - 128
       |      ELSE (((pid * 31 + k * (7 + pid % 97)) % 2048) - 1024
       |        + CASE WHEN noisy = 1 AND k >= 65 AND k < 81
       |            THEN 300 ELSE 0 END) * gain END AS v
       |  FROM s),
       |e AS (SELECT asset_id, k // 4 AS j, SUM(abs(v)) AS e
       |  FROM v GROUP BY 1, 2),
       |ebits AS (
       |  SELECT l.asset_id, l.j AS bp,
       |    CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
       |  FROM e l JOIN e r ON l.asset_id = r.asset_id AND r.j = l.j + 1
       |  WHERE l.j < 64),
       |hs AS (
       |  SELECT asset_id,
       |    CAST(SUM(CASE WHEN bit = 1 THEN ($pow2::UBIGINT[])[bp + 1]
       |             ELSE 0::UBIGINT END) AS UBIGINT) AS afp
       |  FROM ebits GROUP BY asset_id)""".stripMargin
  }

  private def mmAudioDecodeOracle: String =
    s"""WITH ${mmAudioCtes(
        """SELECT pid, pid AS asset_id, 16 AS bits, 1 AS gain, 0 AS noisy,
          |    0 AS mute FROM ids
          |  UNION ALL SELECT pid, pid + 1000000, 16, 2, 0, 0 FROM ids
          |  UNION ALL SELECT pid, pid + 2000000, 8, 1, 0, 0 FROM ids""".stripMargin)},
       |st AS (
       |  SELECT asset_id, CAST(SUM(abs(v)) AS BIGINT) AS abs_sum,
       |    CAST(MAX(abs(v)) AS INT) AS peak
       |  FROM v GROUP BY asset_id)
       |SELECT a.asset_id, 8000 AS sample_rate, 1 AS channels,
       |  CAST(260 AS BIGINT) AS n_samples, st.abs_sum, st.peak,
       |  lpad(hex(hs.afp), 16, '0') AS afp_hex
       |FROM a JOIN st USING (asset_id) JOIN hs USING (asset_id)
       |ORDER BY a.asset_id""".stripMargin

  private def mmAudioDedupOracle: String = {
    // the [[mmPhashOracle]] multi-probe wide-recall gate on the afp hash
    s"""WITH ${mmAudioCtes(
        """SELECT pid, pid AS asset_id, 16 AS bits, 1 AS gain, 0 AS noisy,
          |    0 AS mute FROM ids
          |  UNION ALL SELECT pid, pid + 1000000, 16, 2, 0, 0 FROM ids
          |  UNION ALL SELECT pid, pid + 2000000, 16, 1, 1, 0 FROM ids""".stripMargin)},
       |cl AS (
       |  SELECT afp, min(asset_id) AS rep, count(*) AS clique
       |  FROM hs GROUP BY afp),
       |pairs AS (
       |  SELECT l.rep AS a, r.rep AS b,
       |    CAST(bit_count(xor(l.afp, r.afp)) AS INT) AS hamming,
       |    l.clique AS clique_a, r.clique AS clique_b
       |  FROM cl l JOIN cl r ON l.rep < r.rep
       |    AND (${band16("afp", 1)}))
       |SELECT a, b, hamming, clique_a, clique_b FROM pairs
       |WHERE hamming <= 7 ORDER BY a, b""".stripMargin
  }

  /** Shared CTEs for the REAL video-demux oracles: regenerate every
    * frame's 8x8 raw-DIB pixels from the id arithmetic (frame f of video
    * v carries pixel id `v*131 + f*17` under the [[mmPixelCtes]] cell
    * formula; `noisy` bumps frames `f%5 == 0`), apply the identical
    * integer luma map, and fold each frame's 9x8 nearest-grid dHash. At
    * size 8 the cell map is the identity (`xx = (8i)//9`, `yy = j`), so
    * the grid reads pixel arithmetic directly. Junk payloads never
    * appear: the demux DROPS undecodable bytes.
    */
  private def mmVideoCtes(variants: String,
      pidExpr: String = "vid * 131 + f * 17"): String = {
    val pow2 = (0 until 64).map(p => (BigInt(1) << p).toString)
      .mkString("[", ", ", "]")
    val bump =
      """CASE WHEN noisy = 1 AND (f % 5) = 0 AND xx = 1 AND yy = 2 THEN 40
        |      WHEN noisy = 1 AND (f % 5) = 0 AND xx = 5 AND yy = 6 THEN 60
        |      ELSE 0 END""".stripMargin
    def lumaOf(src: String) =
      s"""(299 * ((base * 7 + 23) % 256) + 587 * ((base * 3 + 11) % 256)
         |      + 114 * (base % 256)) // 1000 AS luma FROM $src""".stripMargin
    s"""ids AS (SELECT doc_id AS vid FROM documents WHERE doc_id < 300),
       |a AS ($variants),
       |fr AS (SELECT asset_id, vid, noisy,
       |  unnest(generate_series(0, 9)) AS f FROM a),
       |px AS (SELECT asset_id, vid, noisy, f,
       |  unnest(generate_series(0, 63)) AS p FROM fr),
       |pc AS (SELECT asset_id, f,
       |    (p % 8) AS xx, (p // 8) AS yy, $pidExpr AS pid, noisy
       |  FROM px),
       |basep AS (SELECT asset_id, f,
       |    pid * 31 + yy * 19 + xx * 7 + $bump AS base
       |  FROM pc),
       |lum AS (SELECT asset_id, f,
       |    ${lumaOf("basep")}),
       |gp AS (SELECT asset_id, vid, noisy, f,
       |  unnest(generate_series(0, 71)) AS g FROM fr),
       |gc AS (SELECT asset_id, f, (g % 9) AS i, (g // 9) AS j,
       |    ((g % 9) * 8) // 9 AS xx, (g // 9) AS yy,
       |    $pidExpr AS pid, noisy
       |  FROM gp),
       |gb AS (SELECT asset_id, f, i, j,
       |    pid * 31 + yy * 19 + xx * 7 + $bump AS base
       |  FROM gc),
       |gl AS (SELECT asset_id, f, i, j,
       |    ${lumaOf("gb")}),
       |fbits AS (
       |  SELECT l.asset_id, l.f, l.j * 8 + l.i AS bp,
       |    CASE WHEN l.luma > r.luma THEN 1 ELSE 0 END AS bit
       |  FROM gl l JOIN gl r
       |    ON l.asset_id = r.asset_id AND l.f = r.f AND l.j = r.j
       |    AND r.i = l.i + 1
       |  WHERE l.i < 8),
       |fhs AS (
       |  SELECT asset_id, f,
       |    CAST(SUM(CASE WHEN bit = 1 THEN ($pow2::UBIGINT[])[bp + 1]
       |             ELSE 0::UBIGINT END) AS UBIGINT) AS dh
       |  FROM fbits GROUP BY 1, 2)""".stripMargin
  }

  private def mmVideoDemuxOracle: String =
    s"""WITH ${mmVideoCtes(
        """SELECT vid, vid AS asset_id, 0 AS noisy FROM ids
          |  UNION ALL SELECT vid, vid + 1000000, 1 FROM ids""".stripMargin)},
       |st AS (
       |  SELECT asset_id, f, CAST(SUM(luma) AS BIGINT) AS gray_sum
       |  FROM lum GROUP BY 1, 2)
       |SELECT st.asset_id, CAST(st.f AS INT) AS frame_id, 8 AS width,
       |  8 AS height, st.gray_sum, lpad(hex(fhs.dh), 16, '0') AS dhash_hex
       |FROM st JOIN fhs ON st.asset_id = fhs.asset_id AND st.f = fhs.f
       |ORDER BY st.asset_id, frame_id""".stripMargin

  private def mmVideoDedupOracle: String =
    // collapse-first on the ORDERED frame-hash sequence (the operator's
    // clique-safe default): byte-identical copies share the sequence
    // and fold to (rep = min id, clique = count) before the frame join
    s"""WITH ${mmVideoCtes(
        """SELECT vid, vid AS asset_id, 0 AS noisy FROM ids
          |  UNION ALL SELECT vid, vid + 1000000, 0 FROM ids
          |  UNION ALL SELECT vid, vid + 2000000, 1 FROM ids""".stripMargin)},
       |seqs AS (
       |  SELECT asset_id, list(dh ORDER BY f) AS sig
       |  FROM fhs GROUP BY asset_id),
       |cl AS (
       |  SELECT min(asset_id) AS rep, count(*) AS clique
       |  FROM seqs GROUP BY sig),
       |rf AS (
       |  SELECT c.rep, c.clique, h.f, h.dh
       |  FROM cl c JOIN fhs h ON h.asset_id = c.rep),
       |pairs AS (
       |  SELECT l.rep AS a, r.rep AS b,
       |    CAST(count(*) AS BIGINT) AS n_matched,
       |    max(l.clique) AS clique_a, max(r.clique) AS clique_b
       |  FROM rf l JOIN rf r
       |    ON l.rep < r.rep AND l.f = r.f
       |  WHERE bit_count(xor(l.dh, r.dh)) <= 6
       |  GROUP BY 1, 2)
       |SELECT a, b, n_matched, CAST(10 AS BIGINT) AS n_a,
       |  CAST(10 AS BIGINT) AS n_b, clique_a, clique_b
       |FROM pairs WHERE n_matched * 100 >= 80 * 10 ORDER BY a, b""".stripMargin

  private def mmVideoScenesOracle: String =
    s"""WITH ${mmVideoCtes(
        "SELECT vid, vid AS asset_id, 0 AS noisy FROM ids",
        pidExpr = "vid * 131 + (f // 4) * 17")},
       |lagd AS (
       |  SELECT asset_id, f, dh,
       |    LAG(dh) OVER (PARTITION BY asset_id ORDER BY f) AS pdh
       |  FROM fhs)
       |SELECT asset_id, CAST(f AS INT) AS frame_id,
       |  CAST(CASE WHEN pdh IS NULL THEN NULL
       |    ELSE bit_count(xor(dh, pdh)) END AS INT) AS hamming_prev,
       |  (pdh IS NULL OR bit_count(xor(dh, pdh)) > 2) AS is_cut
       |FROM lagd ORDER BY asset_id, frame_id""".stripMargin

  private def mmAudioSegmentsOracle: String =
    s"""WITH ${mmAudioCtes(
        """SELECT pid, pid AS asset_id, 16 AS bits, 1 AS gain, 0 AS noisy,
          |    1 AS mute FROM ids""".stripMargin)},
       |tot AS (SELECT asset_id, SUM(e) AS total FROM e GROUP BY 1),
       |sil AS (
       |  SELECT e.asset_id, j, e,
       |    (e * 65 * 100 < 25 * total) AS silent
       |  FROM e JOIN tot USING (asset_id)),
       |op AS (
       |  SELECT asset_id, j, e, silent,
       |    CASE WHEN NOT silent AND coalesce(
       |        LAG(silent) OVER (PARTITION BY asset_id ORDER BY j), true)
       |      THEN 1 ELSE 0 END AS opens
       |  FROM sil),
       |sg AS (
       |  SELECT asset_id, j, e, silent,
       |    SUM(opens) OVER (PARTITION BY asset_id ORDER BY j
       |      ROWS UNBOUNDED PRECEDING) AS seg
       |  FROM op)
       |SELECT asset_id, CAST(seg AS BIGINT) AS seg_id,
       |  CAST(MIN(j) AS INT) AS start_window,
       |  CAST(MAX(j) AS INT) AS end_window,
       |  count(*) AS n_windows_seg, CAST(SUM(e) AS BIGINT) AS energy_sum
       |FROM sg WHERE NOT silent GROUP BY 1, 2
       |ORDER BY asset_id, seg_id""".stripMargin

  /** mm_frames: recompute the demuxer-stub byte windows (offset_i =
    * len*i/4, window ends at offset_{i+1}) and their exact integer byte
    * sums from the hex dump — same nibble-lookup trick as
    * [[mmFeaturesOracle]].
    */
  private def mmFramesOracle: String = {
    val nib = "strpos('0123456789ABCDEF', %s) - 1"
    val hi = nib.format("substr(h, 2*CAST(j AS INT) + 1, 1)")
    val lo = nib.format("substr(h, 2*CAST(j AS INT) + 2, 1)")
    s"""WITH ${assetBytesCte("len")},
       |f AS (
       |  SELECT asset_id, len, h, CAST(i AS INT) AS frame_id,
       |    len * i // 4 AS o, len * (i + 1) // 4 AS e
       |  FROM b, UNNEST(range(0, 4)) AS t(i))
       |SELECT asset_id, frame_id, o AS "offset", e - o AS frame_len,
       |  CAST(coalesce(list_sum(list_transform(range(o, e),
       |    j -> ($hi) * 16 + ($lo))), 0) AS BIGINT) AS frame_sum
       |FROM f ORDER BY asset_id, frame_id""".stripMargin
  }

  /** mm_resize: recompute the strided-byte thumbnail (stride =
    * ceil(len/64), samples at range(0, len, stride)) and its exact
    * sampled-byte sum from the hex dump.
    */
  private def mmResizeOracle: String = {
    val nib = "strpos('0123456789ABCDEF', %s) - 1"
    val hi = nib.format("substr(h, 2*CAST(j AS INT) + 1, 1)")
    val lo = nib.format("substr(h, 2*CAST(j AS INT) + 2, 1)")
    s"""WITH ${assetBytesCte("byte_len")},
       |s AS (
       |  SELECT asset_id, byte_len, h,
       |    CASE WHEN byte_len = 0 THEN 1
       |         ELSE (byte_len + 63) // 64 END AS stride
       |  FROM b)
       |SELECT asset_id, byte_len, stride,
       |  len(range(0, byte_len, stride)) AS thumb_len,
       |  CAST(coalesce(list_sum(list_transform(range(0, byte_len, stride),
       |    j -> ($hi) * 16 + ($lo))), 0) AS BIGINT) AS thumb_sum
       |FROM s ORDER BY asset_id""".stripMargin
  }

  /** The phash dedup images, decoded: pixel ids 0..299 as 8x8 BMPs,
    * their byte-exact 16x16 scale twins at +1000000 and their noisy 8x8
    * twins at +2000000.
    */
  private def phashImages(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables(s, dir).documents.filter(col("doc_id") < 300)
      .select(col("doc_id").as("asset_id"))
    def bmp(shift: Long, size: Int, noisy: Boolean) = ids
      .select(col("asset_id"),
        Multimodal.bmpContent(col("asset_id"), size, lit(noisy)).as("content"))
      .select((col("asset_id") + shift).as("asset_id"), col("content"))
    Multimodal.decodeImages(bmp(0L, 8, noisy = false)
      .unionByName(bmp(1000000L, 16, noisy = false))
      .unionByName(bmp(2000000L, 8, noisy = true))).toDF()
  }
}
