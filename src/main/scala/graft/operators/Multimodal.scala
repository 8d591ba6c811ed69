package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata beside them. The Spark-side
  * contract — schema, batch shape, partition sizing — is real and tested.
  *
  * The codec tier is REAL for all three modalities, zero extra
  * dependencies:
  *   - [[ImageIoDecoder]], image decode over the JDK's `javax.imageio`
  *     (PNG/JPEG/BMP/GIF), feeding [[decodeImages]] (per-image luma
  *     stats + a dHash perceptual fingerprint) and [[imageNearDups]]
  *     (banded perceptual-hash image dedup);
  *   - [[WavDecoder]], a hand-rolled RIFF/WAVE PCM parser (chunk walk,
  *     16-bit little-endian samples) behind the audio stats/fingerprint/
  *     segment operators;
  *   - [[AviDemuxer]], a RIFF/AVI container demuxer (frame index walk,
  *     per-frame payloads decoded as images) behind frame sampling,
  *     scene cuts, and video near-dup.
  * All three run scan-local in mapPartitions over binary payloads — the
  * Scala analogue of a Pandas-UDF batch. [[DecodeStub]] remains only as
  * the deterministic byte-stat kernel behind the codec-free feature/
  * frame-offset operators (a fixed arithmetic fake, clearly marked).
  *
  * Scale notes: payloads never enter a shuffle — metadata extraction
  * projects narrow columns first, decode runs scan-local in
  * mapPartitions, and per-partition byte budgets are controlled by
  * `spark.sql.files.maxPartitionBytes` on read. Derived features (small
  * arrays, 64-bit fingerprints) are what flows into joins/aggregations.
  */
object Multimodal {

  /** Deterministic REAL-binary fixture: payload bytes seeded by asset id
    * (`byte_j = (id*31 + j*7) mod 256`, built hex-side and `unhex`ed so
    * the byte stream is exact — never a UTF-8 re-encode of text), with
    * lengths exercising every codec-stage edge: empty (id%17=0), shorter
    * than a frame window (id%17=1 -> 0..3 bytes), larger than the 64x64
    * resize budget (id%17=2 -> 5000 bytes), else a 5..997-byte spread.
    * The same arithmetic is SQL-expressible, so oracles regenerate
    * byte-identical payloads from the `asset_id` column alone.
    */
  def syntheticAssets(ids: DataFrame,
      modality: String = "binary"): DataFrame = {
    val id = col("asset_id")
    val len = when(id % 17 === 0, lit(0L))
      .when(id % 17 === 1, id % 4)
      .when(id % 17 === 2, lit(5000L))
      .otherwise((id * 137) % 997)
    val hx = when(len === 0, lit(""))
      .otherwise(concat_ws("", transform(sequence(lit(0L), len - 1),
        j => lpad(hex((id * 31 + j * 7) % 256), 2, "0"))))
    ids.select(id.as("asset_id"), lit(modality).as("modality"),
      lit("application/octet-stream").as("mime"),
      unhex(hx).as("content"))
  }

  /** Cheap metadata extraction — pure Catalyst, no decode: sizes, digests,
    * magic-byte sniffing. This is the first pass a 100 TB pipeline runs to
    * partition/route assets before any codec work. Reads the `content`
    * column.
    */
  def withByteMetadata(assets: DataFrame): DataFrame =
    assets
      .withColumn("byte_len", octet_length(col("content")).cast(LongType))
      .withColumn("sha256", sha2(col("content"), 256))
      .withColumn("magic", hex(substring(col("content"), 1, 4)))

  /** Deterministic stand-in for the codec stage. A real deployment swaps
    * `decode` for an image/audio library call; everything around it —
    * batch iteration, output schema, feature width — stays identical.
    */
  object DecodeStub extends Serializable {
    val featureDim = 8

    /** "Decode" a payload into a fixed-width feature vector: per-stripe
      * byte-value means. Deterministic AND engine-reproducible: the
      * accumulation is an exact integer sum with a single double division
      * at the end, so a SQL oracle recomputing from the same bytes gets
      * bit-identical floats (no FP-accumulation-order dependence).
      */
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](featureDim)
      if (bytes.nonEmpty) {
        val sums = new Array[Long](featureDim)
        var i = 0
        while (i < bytes.length) {
          sums(i % featureDim) += (bytes(i) & 0xFF)
          i += 1
        }
        val stripe = math.max(1, bytes.length / featureDim)
        var j = 0
        while (j < featureDim) {
          out(j) = (sums(j) / (255.0 * stripe)).toFloat; j += 1
        }
      }
      out
    }

    /** Frame-sample stand-in: byte offsets a video sampler would seek. */
    def frameOffsets(byteLen: Long, frames: Int): Array[Long] =
      (0 until frames).map(i => byteLen * i / math.max(1, frames)).toArray
  }

  final case class AssetFeatures(asset_id: Long, modality: String,
      byte_len: Long, features: Array[Float])

  final case class AssetFrame(asset_id: Long, frame_id: Int, offset: Long,
      frame_len: Long, frame_sum: Long)

  final case class AssetThumb(asset_id: Long, byte_len: Long, stride: Long,
      thumb_len: Long, thumb_sum: Long)

  /** The codec pass: mapPartitions over payload batches (one JVM-side
    * batch per partition, mirroring a Pandas-UDF's arrow-batch shape).
    */
  def extractFeatures(assets: DataFrame): Dataset[AssetFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx  = assets.schema.fieldIndex("asset_id")
    val modIdx = assets.schema.fieldIndex("modality")
    val cIdx   = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](cIdx)
        AssetFeatures(r.getLong(idIdx), r.getString(modIdx),
          bytes.length.toLong, DecodeStub.decode(bytes))
      }
    }
  }

  /** Frame-sampling pass — the video analogue of [[extractFeatures]]:
    * each payload is cut into `nFrames` contiguous byte windows at the
    * deterministic seek offsets a real demuxer stub would use
    * (`DecodeStub.frameOffsets`: offset_i = len*i/n, window i ends at
    * offset_{i+1}, the last at EOF). Per frame we emit the window bounds
    * plus an exact integer byte sum — a real deployment swaps the sum
    * for a codec's frame decode; the iteration shape (mapPartitions over
    * payload batches, frames exploded JVM-side, payloads never shuffled)
    * stays identical.
    *
    * Output is |assets| x nFrames narrow rows — at 100 TB the frame rows
    * (not the payloads) are what flows into downstream joins/dedup.
    */
  def sampleFrames(assets: DataFrame, nFrames: Int): Dataset[AssetFrame] = {
    require(nFrames > 0, "nFrames must be positive")
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx = assets.schema.fieldIndex("asset_id")
    val cIdx  = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        val id    = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](cIdx)
        val len   = bytes.length.toLong
        val offs  = DecodeStub.frameOffsets(len, nFrames) :+ len
        (0 until nFrames).iterator.map { i =>
          var s = 0L
          var j = offs(i).toInt
          val end = offs(i + 1).toInt
          while (j < end) { s += (bytes(j) & 0xff); j += 1 }
          AssetFrame(id, i, offs(i), offs(i + 1) - offs(i), s)
        }
      }
    }
  }

  /** Resize/downsample pass — the image analogue of [[extractFeatures]]:
    * a fixed-budget thumbnail built from every `stride`-th byte, where
    * `stride = ceil(len / maxBytes)` so the thumb never exceeds
    * `maxBytes` samples. Emits the thumb geometry plus an exact integer
    * sum of the sampled bytes (the stub for the resampled pixels); a
    * real deployment swaps the strided sampler for a bilinear resize,
    * keeping the same batch iteration and output schema.
    */
  // ---- real image decode tier (javax.imageio) -------------------------

  /** Image decode over the JDK's built-in codecs: bytes -> (width,
    * height, row-major luma 0..255), or None for an undecodable payload
    * (corrupt file, format with no reader). The luma map is the integer
    * BT.601 approximation `(299r + 587g + 114b) / 1000` — exact integer
    * arithmetic, so every downstream feature recomputes bit-identically
    * in SQL. `ImageIO.setUseCache(false)` keeps executor-side decodes in
    * memory (the default spills every image through a temp FILE — a
    * pathological I/O pattern for a 100 TB scan).
    */
  object ImageIoDecoder {
    @transient private lazy val init: Unit =
      javax.imageio.ImageIO.setUseCache(false)

    def decode(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      init
      if (bytes == null || bytes.isEmpty) return None
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) None // no registered reader recognizes the bytes
        else {
          val w = img.getWidth
          val h = img.getHeight
          val luma = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff
              val g = (rgb >> 8) & 0xff
              val b = rgb & 0xff
              luma(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
              x += 1
            }
            y += 1
          }
          Some((w, h, luma))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** dHash perceptual fingerprint over a decoded luma map: sample a 9x8
    * grid (nearest-neighbor, `floor(i*w/9)` / `floor(j*h/8)` — exact
    * integer picks, no interpolation, so the oracle recomputes them), set
    * bit `j*8+i` when the left grid sample is brighter than its right
    * neighbor. Gradient direction survives brightness/contrast shifts —
    * the standard image near-dup key — and the nearest grid makes it
    * scale-invariant by construction: a 2x nearest-upscaled image picks
    * the SAME source pixels and hashes identically.
    */
  def dHash64(w: Int, h: Int, luma: Array[Int]): Long = {
    var hash = 0L
    var j = 0
    while (j < 8) {
      val gy = j * h / 8
      var i = 0
      while (i < 8) {
        val x0 = i * w / 9
        val x1 = (i + 1) * w / 9
        if (luma(gy * w + x0) > luma(gy * w + x1)) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  final case class DecodedImage(asset_id: Long, width: Int, height: Int,
      gray_sum: Long, gray_min: Int, gray_max: Int, dhash: Long)

  /** The real codec pass: decode every payload scan-local (mapPartitions,
    * payloads never shuffled) into per-image luma stats + the dHash
    * fingerprint. Undecodable payloads are DROPPED — the route-then-decode
    * contract ([[withByteMetadata]] magic sniffing) sends only plausible
    * images here, and a corrupt straggler must not fail a 100 TB job.
    * Only the narrow (id, dims, stats, 64-bit hash) rows flow on.
    */
  def decodeImages(assets: DataFrame): Dataset[DecodedImage] = {
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx = assets.schema.fieldIndex("asset_id")
    val cIdx  = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        ImageIoDecoder.decode(r.getAs[Array[Byte]](cIdx)).map { case (w, h, luma) =>
          var sum = 0L
          var mn = 255
          var mx = 0
          var k = 0
          while (k < luma.length) {
            val v = luma(k)
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            k += 1
          }
          DecodedImage(r.getLong(idIdx), w, h, sum, mn, mx, dHash64(w, h, luma))
        }
      }
    }
  }

  /** Perceptual-hash image near-dup pairs over [[decodeImages]] output:
    * block on the dHash's bands (pigeonhole: a pair with fewer differing
    * bits than bands shares at least one identical band), verify with
    * true hamming distance — the [[Dedup.nearDupPairsSimhash]] shape on
    * image fingerprints. Default 4×16-bit bands (exact recall for
    * `maxHamming` <= 3, candidate-safe at corpus scale); `wideRecall`
    * probes each band's 1-bit ball for exact 4..7-bit recall
    * ([[HammingBands]]). The only exchange is the (band, key) equi-join over
    * narrow (id, hash) rows; payloads and luma maps never reach it.
    *
    * `collapseIdentical` (the DEFAULT) makes the pair output clique-safe:
    * see [[bandedHammingPairs]]. Pass `collapseIdentical = false` only
    * when the raw m(m-1)/2 within-clique pair expansion is genuinely
    * wanted on a corpus known to have bounded fingerprint multiplicity.
    *
    * ==MIGRATION (default flipped in the clique-safe release)==
    * Under the default, non-representative members of an
    * identical-fingerprint clique no longer appear in (a, b) AT ALL —
    * their existence rides `clique_a`/`clique_b` on the representative.
    * A caller that builds dedup components from (a, b) alone (the extra
    * columns don't break a `.select`) would silently keep exact
    * duplicates as unique: ALSO read [[collapseByFingerprint]] (its
    * `clique > 1` rows are the exact-dup groups, every member a
    * hamming-0 dup of its `id`), or pass `collapseIdentical = false` to
    * restore the old per-asset pair form verbatim.
    */
  def imageNearDups(decoded: DataFrame, maxHamming: Int = 3,
      wideRecall: Boolean = false,
      collapseIdentical: Boolean = true,
      maxBucketSize: Int = 0): DataFrame =
    bandedHammingPairs(decoded, "dhash", maxHamming, wideRecall,
      collapseIdentical, maxBucketSize)

  /** Deterministic 24-bit uncompressed BMP fixture, built entirely in
    * Catalyst (hex assembly + `unhex`, like [[syntheticAssets]]): a real
    * image file [[ImageIoDecoder]] decodes through the REAL ImageIO path,
    * whose pixels an oracle regenerates from the id arithmetic alone
    * (uncompressed BMP = header + raw bottom-up BGR rows, nothing to
    * re-derive). Pixel (x, y) of a `size`x`size` image takes its channels
    * from `base = pixelId*31 + yy*19 + xx*7` (+ a two-cell bump when
    * `noisy`) at the 8x8 cell `xx = x*8/size, yy = y*8/size` — so a
    * 16x16 image is the exact 2x nearest-upscale of its 8x8 twin and
    * must dHash identically, while `noisy` shifts a couple of gradient
    * bits. `size` must be a multiple of 8: it keeps the BMP rows 4-byte
    * aligned (no padding arithmetic in the oracle) and the 8x8 cell map
    * exact.
    */
  def bmpContent(pixelId: Column, size: Int, noisy: Column): Column = {
    require(size > 0 && size % 8 == 0, "size must be a positive multiple of 8")
    val rowBytes = size * 3
    val imgBytes = rowBytes * size
    def le4(v: Int): String =
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X${(v >> 16) & 0xff}%02X${(v >> 24) & 0xff}%02X"
    def le2(v: Int): String = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    // BITMAPFILEHEADER + BITMAPINFOHEADER, all little-endian: BM, file
    // size, reserved, pixel offset 54; header size 40, dims, 1 plane,
    // 24 bpp, BI_RGB, image size, resolutions/palette zeroed
    val header = "424D" + le4(54 + imgBytes) + "00000000" + le4(54) +
      le4(40) + le4(size) + le4(size) + le2(1) + le2(24) + le4(0) +
      le4(imgBytes) + le4(0) + le4(0) + le4(0) + le4(0)
    // Column `/` is DOUBLE division in Spark SQL; every index here must
    // divide integrally (floor of a non-negative exact ratio)
    def idiv(a: Column, b: Int): Column = floor(a / b).cast("long")
    val pix = transform(sequence(lit(0), lit(imgBytes - 1)), j => {
      val y    = lit(size - 1) - idiv(j, rowBytes) // BMP rows store bottom-up
      val x    = idiv(j % rowBytes, 3)
      val chan = j % 3 // 24-bpp byte order within a pixel is B, G, R
      val xx = idiv(x * 8, size)
      val yy = idiv(y * 8, size)
      val base = pixelId * 31 + yy * 19 + xx * 7 +
        (when(noisy && xx === 1 && yy === 2, 40)
          .when(noisy && xx === 5 && yy === 6, 60)
          .otherwise(0))
      val v = when(chan === 0, base % 256)
        .when(chan === 1, (base * 3 + 11) % 256)
        .otherwise((base * 7 + 23) % 256)
      lpad(hex(v), 2, "0")
    })
    unhex(concat(lit(header), concat_ws("", pix)))
  }

  // ---- real audio decode tier (RIFF/WAV PCM) ---------------------------

  /** Decoded PCM audio: per-frame MIXDOWN samples (the exact integer SUM
    * across channels — not the mean, which would need a rounding-mode
    * convention), 16-bit signed range per channel. Sum keeps every
    * downstream stat exact-integer, so SQL oracles recompute them
    * bit-identically.
    */
  final case class WavPcm(sampleRate: Int, channels: Int, bits: Int,
      samples: Array[Int])

  /** Zero-dependency RIFF/WAV parser, bytes -> PCM, or None for an
    * undecodable payload (route-then-decode sends plausible audio here,
    * and a corrupt straggler must not fail a 100 TB job): walks the
    * chunk list (tolerating LIST/INFO/fact chunks and odd-size pad bytes
    * per the RIFF spec, so real-world encoder output parses — not just
    * the 44-byte canonical layout), requires PCM (format 1) at 8 or 16
    * bits, and clamps the data chunk to the bytes actually present
    * (truncated tail frames drop). 8-bit WAV samples are unsigned,
    * centered by -128.
    */
  object WavDecoder {
    def decode(bytes: Array[Byte]): Option[WavPcm] = {
      if (bytes == null || bytes.length < 12) return None
      def u8(i: Int): Int = bytes(i) & 0xff
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int): Long =
        (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
          (u8(i + 3).toLong << 24)
      def tag(i: Int): String =
        new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      try {
        if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
        var fmt: Option[(Int, Int, Int, Int)] = None // format, ch, rate, bits
        var data: Option[(Int, Int)] = None          // offset, len
        var p = 12
        while (p + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
          val id = tag(p)
          val sz = math.min(le32(p + 4), (bytes.length - p - 8).toLong).toInt
          if (id == "fmt " && sz >= 16)
            fmt = Some((le16(p + 8), le16(p + 10), le32(p + 12).toInt,
              le16(p + 22)))
          else if (id == "data") data = Some((p + 8, sz))
          p += 8 + sz + (sz & 1) // chunks are word-aligned
        }
        for {
          (format, ch, rate, bits) <- fmt
          if format == 1 && (bits == 8 || bits == 16) && ch >= 1 && rate > 0
          (off, len) <- data
        } yield {
          val bytesPerSample = bits / 8
          val blockAlign = ch * bytesPerSample
          val frames = len / blockAlign
          val out = new Array[Int](frames)
          var f = 0
          while (f < frames) {
            var s = 0
            var c = 0
            while (c < ch) {
              val i = off + f * blockAlign + c * bytesPerSample
              s += (if (bits == 16) (u8(i) | (u8(i + 1) << 8)).toShort.toInt
                    else u8(i) - 128)
              c += 1
            }
            out(f) = s
            f += 1
          }
          WavPcm(rate, ch, bits, out)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Energy-gradient audio fingerprint — [[dHash64]]'s recipe on the time
    * axis: split the mixdown into 65 flooring windows
    * (`[j*n/65, (j+1)*n/65)`), take each window's exact |sample| sum, set
    * bit j when window j is louder than window j+1. Gradient direction is
    * volume-invariant by construction (`|c*v| = c*|v|` for gain c > 0, so
    * a louder copy of the same audio compares every window pair
    * identically and hashes the same), and the integer sums make the 64
    * bits SQL-recomputable.
    */
  def audioFingerprint64(samples: Array[Int]): Long = {
    val n = samples.length
    val e = new Array[Long](65)
    var j = 0
    while (j < 65) {
      var k = j * n / 65
      val end = (j + 1) * n / 65
      var s = 0L
      while (k < end) { s += math.abs(samples(k)); k += 1 }
      e(j) = s
      j += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) { if (e(i) > e(i + 1)) hash |= 1L << i; i += 1 }
    hash
  }

  final case class DecodedAudio(asset_id: Long, sample_rate: Int,
      channels: Int, n_samples: Long, abs_sum: Long, peak: Int, afp: Long)

  /** The real audio codec pass, [[decodeImages]]' twin: parse every
    * payload scan-local (mapPartitions, payloads never shuffled) into
    * loudness stats + the energy fingerprint; undecodable payloads DROP.
    * Only narrow (id, format, stats, 64-bit hash) rows flow on.
    */
  def decodeAudio(assets: DataFrame): Dataset[DecodedAudio] = {
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx = assets.schema.fieldIndex("asset_id")
    val cIdx  = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        WavDecoder.decode(r.getAs[Array[Byte]](cIdx)).map { pcm =>
          var sum = 0L
          var peak = 0
          var k = 0
          while (k < pcm.samples.length) {
            val a = math.abs(pcm.samples(k))
            sum += a
            if (a > peak) peak = a
            k += 1
          }
          DecodedAudio(r.getLong(idIdx), pcm.sampleRate, pcm.channels,
            pcm.samples.length.toLong, sum, peak,
            audioFingerprint64(pcm.samples))
        }
      }
    }
  }

  final case class AudioWindow(asset_id: Long, window_id: Int, energy: Long,
      total_abs: Long, n_windows: Int)

  /** Per-window loudness rows — the decode pass [[audioSegments]] runs
    * on: the same 65 flooring |sample|-sum windows as
    * [[audioFingerprint64]] (one narrow row per window, each carrying
    * the asset's total so thresholds stay single-pass), emitted
    * scan-local like every decode here.
    */
  def audioWindows(assets: DataFrame): Dataset[AudioWindow] = {
    val nWindows = 65
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx = assets.schema.fieldIndex("asset_id")
    val cIdx  = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        WavDecoder.decode(r.getAs[Array[Byte]](cIdx)).toSeq.flatMap { pcm =>
          val n = pcm.samples.length
          val e = new Array[Long](nWindows)
          var total = 0L
          var j = 0
          while (j < nWindows) {
            var k = j * n / nWindows
            val end = (j + 1) * n / nWindows
            var s = 0L
            while (k < end) { s += math.abs(pcm.samples(k)); k += 1 }
            e(j) = s
            total += s
            j += 1
          }
          val id = r.getLong(idIdx)
          (0 until nWindows).map(w =>
            AudioWindow(id, w, e(w), total, nWindows))
        }
      }
    }
  }

  /** Silence-based audio segmentation over [[audioWindows]] output — the
    * VAD-ish pre-chunking an ASR/audio training pipeline runs before
    * transcription: a window is SILENT when its energy falls under
    * `silencePctOfMean`% of the asset's mean window energy (the compare
    * is exact-integer — `energy * n_windows * 100 < pct * total_abs` —
    * so engines agree bit-for-bit), and each maximal run of non-silent
    * windows becomes one segment row with its span and loudness. Two
    * window passes over one (asset_id) shuffle, no self-join.
    */
  def audioSegments(windows: DataFrame,
      silencePctOfMean: Int = 25): DataFrame = {
    require(silencePctOfMean >= 0 && silencePctOfMean <= 100,
      "silencePctOfMean is a percentage")
    val silent = col("energy") * col("n_windows") * 100 <
      lit(silencePctOfMean) * col("total_abs")
    val w = Window.partitionBy(col("asset_id")).orderBy(col("window_id"))
    val opens = (!silent) &&
      coalesce(lag(silent, 1).over(w), lit(true)) // loud after silence/start
    windows
      .withColumn("__open", when(opens, 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__open")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(!silent)
      .groupBy(col("asset_id"), col("__seg").as("seg_id"))
      .agg(min(col("window_id")).as("start_window"),
        max(col("window_id")).as("end_window"),
        count(lit(1)).as("n_windows_seg"),
        sum(col("energy")).as("energy_sum"))
  }

  /** Collapse identical fingerprints into one representative row:
    * (id = min asset_id of the clique, hash, clique = member count). A
    * single key-sized groupBy exchange — the pre-pass that makes pair
    * output linear in DISTINCT fingerprints instead of quadratic in
    * clique size. Public so callers can read the clique table itself
    * (members of a clique ARE mutual hamming-0 near-dups; `clique > 1`
    * rows are the exact-duplicate groups). Ids come from the `asset_id`
    * column of [[decodeImages]]/[[decodeAudio]] output.
    *
    * To recover per-member exact-dup EDGES (what the pre-collapse pair
    * output used to carry), read this table with `clique > 1`: every
    * member of a group is a hamming-0 dup of its representative `id`.
    * Keep the full member list with
    * `hashed.groupBy(hashCol).agg(min(asset_id) as "id", collect_list(asset_id))`
    * when ids themselves are needed rather than counts.
    */
  def collapseByFingerprint(hashed: DataFrame, hashCol: String): DataFrame =
    hashed.groupBy(col(hashCol))
      .agg(min(col("asset_id")).as("id"), count(lit(1)).as("clique"))

  /** Banded hamming near-dup pairs over any 64-bit fingerprint column —
    * the shared engine behind [[imageNearDups]] and [[audioNearDups]]:
    * block on the hash's 4×16-bit bands (pigeonhole: recall EXACT for
    * maxHamming <= 3; `wideRecall` probes each band's 1-bit ball for
    * exact recall <= 7, see [[HammingBands]]), verify with true hamming. The
    * only exchange is the (band, key) equi-join over narrow
    * (id, hash) rows.
    *
    * `collapseIdentical` (the DEFAULT — the clique-safe path) first
    * collapses identical fingerprints via [[collapseByFingerprint]] and
    * bands over REPRESENTATIVES only, emitting
    * (a, b, hamming, clique_a, clique_b) — a/b are clique
    * representatives (min asset_id) and clique_a/clique_b the member
    * counts they stand for. Raw pair output is quadratic in
    * identical-fingerprint clique size: m assets sharing one hash
    * (blank pages, boilerplate thumbnails) emit m(m-1)/2 pairs —
    * measured at 1M assets degenerating to ~500 cliques, the raw form
    * emits ~2B rows and fills the disk, while the collapsed form
    * answers in ~1s. Within-clique members are hamming-0 near-dups BY
    * CONSTRUCTION; the clique counts carry that information without
    * materializing the quadratic pair set. `collapseIdentical = false`
    * keeps the raw per-asset pair form (clique_a = clique_b = 1, every
    * within-clique pair emitted) for bounded-multiplicity corpora.
    *
    * `maxBucketSize` is [[Dedup.nearDupPairsSimhash]]'s hot-bucket cap,
    * carried here: the collapse handles IDENTICAL fingerprints, but a
    * family of near-identical distinct fps (boilerplate thumbnails with
    * a counter burned in) still piles one band bucket onto one reducer
    * with quadratic OUTPUT — the cap degrades that bucket to a bounded
    * skip. Deliberately NO occupancy refusal (the embedding-band rule
    * was probed and does not transfer — uniform occupancy stayed
    * near-linear through ~488 rows/bucket because hamming verification
    * is join-local codegen; see [[Dedup.nearDupPairsSimhash]] and
    * BENCHNOTES r17).
    */
  private[graft] def bandedHammingPairs(hashed: DataFrame, hashCol: String,
      maxHamming: Int, wideRecall: Boolean = false,
      collapseIdentical: Boolean = true,
      maxBucketSize: Int = 0): DataFrame = {
    HammingBands.requireRecall(maxHamming, wideRecall)
    val members =
      if (collapseIdentical) collapseByFingerprint(hashed, hashCol)
      else hashed.select(col("asset_id").as("id"), col(hashCol),
        lit(1L).as("clique"))
    val (anchor, probe) = HammingBands.withoutHotBuckets(HammingBands.sides(
      members.select(col("id"), col(hashCol), col("clique")), hashCol,
      wideRecall), maxBucketSize)
    anchor.as("l").join(probe.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        Dedup.hamming64(col(s"l.$hashCol"), col(s"r.$hashCol")).as("hamming"),
        col("l.clique").as("clique_a"), col("r.clique").as("clique_b"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Energy-fingerprint audio near-dup pairs over [[decodeAudio]] output —
    * volume-shifted copies land at hamming 0, lightly-edited copies within
    * a few bits. Same banded shape as [[imageNearDups]]; `wideRecall`
    * probes 1-bit band balls for 4..7-bit recall ([[HammingBands]]).
    * MIGRATION: the `collapseIdentical = true` default changed the pair
    * output exactly as documented on [[imageNearDups]] — exact-dup
    * members now ride [[collapseByFingerprint]], not (a, b).
    */
  def audioNearDups(decoded: DataFrame, maxHamming: Int = 3,
      wideRecall: Boolean = false,
      collapseIdentical: Boolean = true): DataFrame =
    bandedHammingPairs(decoded, "afp", maxHamming, wideRecall,
      collapseIdentical)

  /** Deterministic 16-bit (or 8-bit) mono PCM WAV fixture, built entirely
    * in Catalyst like [[bmpContent]]: a real RIFF file [[WavDecoder]]
    * parses through the REAL chunk-walking path, whose samples an oracle
    * regenerates from the id arithmetic alone. The sawtooth STEP is
    * id-dependent — `t = sampleId*31 + k*(7 + sampleId%97)` — so distinct
    * ids get distinct waveform frequencies, not phase shifts of one
    * waveform (a fixed step makes every id's energy profile near-equal
    * and the near-dup test degenerate). 16-bit sample k is
    * `(t % 2048) - 1024` (+300 over the `[n/4, n/4 + n/16)` window when
    * `noisy`), all times `gain` — the bump precedes the gain so a gain-2
    * copy is an EXACT 2x rescale and must fingerprint identically. 8-bit
    * sample k stores the unsigned byte `t % 256` (gain/noisy
    * unsupported — the clamp-free guarantee holds only for 16-bit
    * headroom). The header declares an 8 kHz sample rate.
    */
  def wavContent(sampleId: Column, nSamples: Int, gain: Int = 1,
      noisy: Column = lit(false), bits: Int = 16,
      mute: Column = lit(false)): Column = {
    val sampleRate = 8000
    require(nSamples > 0, "nSamples must be positive")
    require(bits == 16 || bits == 8, "PCM fixture supports 8/16-bit only")
    require(bits == 16 || (gain == 1), "gain needs 16-bit headroom")
    require(gain >= 1 && gain <= 2, "gain beyond 2 risks 16-bit clamp")
    val bytesPerSample = bits / 8
    val dataBytes = nSamples * bytesPerSample
    def le4(v: Int): String =
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X${(v >> 16) & 0xff}%02X${(v >> 24) & 0xff}%02X"
    def le2(v: Int): String = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    // RIFF + fmt (PCM, mono) + data chunk headers, all little-endian
    val header = "52494646" + le4(36 + dataBytes) + "57415645" +
      "666D7420" + le4(16) + le2(1) + le2(1) + le4(sampleRate) +
      le4(sampleRate * bytesPerSample) + le2(bytesPerSample) + le2(bits) +
      "64617461" + le4(dataBytes)
    val noiseLo = nSamples / 4
    val noiseHi = noiseLo + nSamples / 16
    // `mute` zeroes the third quarter ([n/2, 3n/4)) — a silent gap for
    // the [[audioSegments]] shape
    val muteLo = nSamples / 2
    val muteHi = muteLo + nSamples / 4
    val pcm = transform(sequence(lit(0), lit(nSamples - 1)), k => {
      val muted = mute && k >= muteLo && k < muteHi
      val base = (sampleId * 31 + k * (lit(7) + sampleId % 97)) %
        (if (bits == 16) 2048 else 256)
      if (bits == 8) lpad(hex(when(muted, 128).otherwise(base)), 2, "0")
      else {
        val bump = when(noisy && k >= noiseLo && k < noiseHi, 300)
          .otherwise(0)
        val v = when(muted, 0).otherwise((base - 1024 + bump) * gain)
        // two's-complement 16-bit, little-endian byte order
        val h = lpad(hex(pmod(v, lit(65536))), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
    })
    unhex(concat(lit(header), concat_ws("", pcm)))
  }

  // ---- real video demux tier (RIFF/AVI, raw-DIB frames) ----------------

  /** Demuxed uncompressed video: dimensions, frame cadence, and the raw
    * per-frame DIB payloads (bottom-up BGR rows, the AVI '00db' wire
    * format) in stream order.
    */
  final case class AviVideo(width: Int, height: Int, usPerFrame: Int,
      frames: Array[Array[Byte]])

  /** Zero-dependency RIFF/AVI demuxer, [[WavDecoder]]'s container walk
    * one level deeper: RIFF('AVI ') -> LIST(hdrl) -> avih for dims and
    * cadence, LIST(strl) -> strf BITMAPINFOHEADER (requires 24-bpp
    * BI_RGB — uncompressed DIB frames), LIST(movi) -> '00db'/'00dc'
    * chunk payloads in order. Unknown chunks skip, odd sizes pad,
    * declared sizes clamp to the bytes present (a truncated tail frame
    * drops, not the file).
    */
  object AviDemuxer extends Serializable {
    def demux(bytes: Array[Byte]): Option[AviVideo] = {
      if (bytes == null || bytes.length < 12) return None
      def u8(i: Int): Int = bytes(i) & 0xff
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int): Long =
        (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
          (u8(i + 3).toLong << 24)
      def tag(i: Int): String =
        new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      def clamp(p: Int, declared: Long): Int =
        math.min(declared, (bytes.length - p).toLong).toInt
      try {
        if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
        var dims: Option[(Int, Int, Int)] = None // w, h, usPerFrame
        var bpp = -1
        var compression = -1L
        val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        // walk(p, end): iterate the chunk list in [p, end)
        def walk(p0: Int, end: Int): Unit = {
          var p = p0
          while (p + 8 <= end) {
            val id = tag(p)
            val sz = clamp(p + 8, le32(p + 4))
            val body = p + 8
            if (id == "LIST" && sz >= 4) {
              val kind = tag(body)
              if (kind == "hdrl" || kind == "strl" || kind == "movi")
                walk(body + 4, body + sz)
            } else if (id == "avih" && sz >= 40) {
              dims = Some((le32(body + 32).toInt, le32(body + 36).toInt,
                le32(body).toInt))
            } else if (id == "strf" && sz >= 40) {
              bpp = le16(body + 14)
              compression = le32(body + 16)
            } else if ((id == "00db" || id == "00dc") && sz > 0) {
              frames += java.util.Arrays.copyOfRange(bytes, body, body + sz)
            }
            p = body + sz + (sz & 1)
          }
        }
        walk(12, bytes.length)
        for ((w, h, us) <- dims
             if w > 0 && h > 0 && bpp == 24 && compression == 0L)
          yield AviVideo(w, h, us, frames.toArray)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  final case class DecodedFrame(asset_id: Long, frame_id: Int, width: Int,
      height: Int, gray_sum: Long, dhash: Long)

  /** The video codec pass: demux every payload scan-local, decode each
    * raw-DIB frame through the same integer luma map as
    * [[ImageIoDecoder]] (bottom-up BGR rows — nothing format-side to
    * re-derive), and emit one narrow (id, frame, stats, dHash) row per
    * frame. Undecodable assets DROP; a frame whose payload doesn't match
    * the declared geometry drops alone (one torn frame must not kill the
    * video, let alone the job).
    */
  def decodeVideoFrames(assets: DataFrame): Dataset[DecodedFrame] = {
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx = assets.schema.fieldIndex("asset_id")
    val cIdx  = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        AviDemuxer.demux(r.getAs[Array[Byte]](cIdx)).toSeq.flatMap { v =>
          val rowBytes = (v.width * 3 + 3) & ~3 // DIB rows pad to 4 bytes
          v.frames.iterator.zipWithIndex.collect {
            case (f, i) if f.length >= rowBytes * v.height =>
              val luma = new Array[Int](v.width * v.height)
              var sum = 0L
              var y = 0
              while (y < v.height) {
                var x = 0
                while (x < v.width) {
                  val o = (v.height - 1 - y) * rowBytes + x * 3 // bottom-up
                  val l = (299 * (f(o + 2) & 0xff) + 587 * (f(o + 1) & 0xff) +
                    114 * (f(o) & 0xff)) / 1000
                  luma(y * v.width + x) = l
                  sum += l
                  x += 1
                }
                y += 1
              }
              DecodedFrame(id, i, v.width, v.height, sum,
                dHash64(v.width, v.height, luma))
          }.toSeq
        }
      }
    }
  }

  /** Video near-dup pairs over [[decodeVideoFrames]] output: band each
    * frame's dHash ([[bandedHammingPairs]]' pigeonhole; 4×16-bit bands,
    * recall-exact for `maxHamming` <= 3, `wideRecall` 1-bit band probing
    * for 4..7 per [[HammingBands]]) WITHIN its frame slot, count frame slots whose
    * hashes sit within `maxHamming`, and keep pairs where at least
    * `minMatchPct` percent of the LONGER video's frames match — integer
    * arithmetic end to end, so oracles recompute it exactly. The only
    * exchange is the (frame, band, key) self-join over narrow rows;
    * payloads and lumas never reach it. Frame slots align absolutely
    * (near-dup = same cut, re-encoded/touched-up; a trimmed copy is a
    * different cut by this definition).
    *
    * `collapseIdentical` (the DEFAULT — the clique-safe path, the video
    * twin of [[bandedHammingPairs]]' collapse): videos whose ENTIRE
    * ordered frame-hash sequence is identical (byte-identical copies,
    * re-containered re-uploads) collapse first — one key-sized groupBy
    * per video plus one groupBy on the sequence — and only one
    * representative per clique enters the frame join. Without it, m
    * identical copies make every matching frame slot an m-member
    * bucket and the pair output goes m² — the same measured
    * disk-filling failure mode as the raw image path. Output gains
    * `clique_a`/`clique_b` (member counts the representatives stand
    * for; 1s when `collapseIdentical = false`). MIGRATION: same (a, b)
    * contract change as [[imageNearDups]] — clique members come from
    * the sequence-collapse groups, not the pair set.
    */
  def videoNearDups(frames: DataFrame, maxHamming: Int = 3,
      minMatchPct: Int = 80, wideRecall: Boolean = false,
      collapseIdentical: Boolean = true): DataFrame = {
    HammingBands.requireRecall(maxHamming, wideRecall)
    require(minMatchPct >= 1 && minMatchPct <= 100,
      "minMatchPct is a percentage")
    // sequence signature = the ordered (frame_id, dhash) list: total
    // order per video (frame ids are unique), so identical copies —
    // and only they — share it. n_frames rides the collapse aggregate
    // (the signature's size IS the frame count) and, raw, a window
    // count — every frame row then carries its video's length into the
    // band join, so the minMatchPct filter needs NO per-video-sized
    // join (let alone broadcast) onto the pair set.
    val fr =
      if (!collapseIdentical)
        frames.withColumn("clique", lit(1L)).withColumn("n_frames",
          count(lit(1)).over(Window.partitionBy(col("asset_id"))))
      else {
        val cliques = frames
          .groupBy(col("asset_id"))
          .agg(sort_array(collect_list(struct(col("frame_id"),
            col("dhash")))).as("__sig"))
          .groupBy(col("__sig"))
          .agg(min(col("asset_id")).as("asset_id"),
            count(lit(1)).as("clique"))
          .select(col("asset_id"), col("clique"),
            size(col("__sig")).cast("long").as("n_frames"))
        frames.join(cliques, Seq("asset_id"))
      }
    val (banded, probed) = HammingBands.sides(
      fr.select(col("asset_id").as("id"), col("frame_id"), col("dhash"),
        col("clique"), col("n_frames")), "dhash", wideRecall)
    val framePairs = banded.as("l").join(probed.as("r"),
        col("l.frame_id") === col("r.frame_id") &&
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"), col("l.frame_id"),
        Dedup.hamming64(col("l.dhash"), col("r.dhash")).as("hamming"),
        col("l.clique").as("clique_a"), col("r.clique").as("clique_b"),
        col("l.n_frames").as("n_a"), col("r.n_frames").as("n_b"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    framePairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_matched"),
        max(col("clique_a")).as("clique_a"),
        max(col("clique_b")).as("clique_b"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .filter(col("n_matched") * 100 >=
        lit(minMatchPct) * greatest(col("n_a"), col("n_b")))
      .select(col("a"), col("b"), col("n_matched"), col("n_a"), col("n_b"),
        col("clique_a"), col("clique_b"))
  }

  /** Scene-change detection over [[decodeVideoFrames]] output — keyframe
    * extraction for a video training pipeline: a frame whose dHash sits
    * more than `maxHamming` bits from its predecessor opens a new scene
    * (frame 0 always does). One shuffle on the video id (the lag window);
    * payloads never reach it. Emits every frame with its distance-to-
    * previous and cut verdict — `filter(is_cut)` IS the keyframe set,
    * and `sum(is_cut) over (order frame_id)` numbers the scenes.
    */
  def sceneChanges(frames: DataFrame, maxHamming: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("asset_id")).orderBy(col("frame_id"))
    val prev = lag(col("dhash"), 1).over(w)
    frames.select(col("asset_id"), col("frame_id"), col("dhash"),
        when(prev.isNotNull,
          Dedup.hamming64(col("dhash"), prev)).as("hamming_prev"))
      .withColumn("is_cut",
        col("hamming_prev").isNull || col("hamming_prev") > maxHamming)
  }

  /** Deterministic uncompressed AVI fixture, built entirely in Catalyst
    * like [[bmpContent]]/[[wavContent]]: a real RIFF container
    * [[AviDemuxer]] walks through the REAL parse path — hdrl/avih,
    * strl/strh/strf, movi with one '00db' raw-DIB chunk per frame —
    * whose pixels an oracle regenerates from the id arithmetic alone.
    * Frame f's pixels reuse [[bmpContent]]'s cell formula with per-frame
    * pixel id `videoId*131 + (f/sceneLen)*17` — `sceneLen` > 1 groups
    * consecutive frames into static SCENES (identical pixels within,
    * a jump at each boundary), the [[sceneChanges]] test shape; the
    * default 1 gives every frame distinct pixels. When `noisy`, frames
    * with `f%5 == 0` get the two-cell luma bump (most frame slots still
    * hash-match — the touched-up-copy shape [[videoNearDups]] exists to
    * catch). `size` must be a multiple of 8 (exact 8x8 cells; rows stay
    * 4-byte aligned so the raw DIB needs no padding arithmetic).
    */
  def aviContent(videoId: Column, nFrames: Int, size: Int,
      noisy: Column = lit(false), sceneLen: Int = 1): Column = {
    require(nFrames > 0, "nFrames must be positive")
    require(sceneLen > 0, "sceneLen must be positive")
    require(size > 0 && size % 8 == 0, "size must be a positive multiple of 8")
    val rowBytes = size * 3
    val frameBytes = rowBytes * size
    def le4(v: Int): String =
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X${(v >> 16) & 0xff}%02X${(v >> 24) & 0xff}%02X"
    def le2(v: Int): String = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    def fourcc(s: String): String =
      s.getBytes("US-ASCII").map(b => f"$b%02X").mkString
    // avih: usPerFrame 40ms, maxBytesPerSec/padding/flags 0, totalFrames,
    // initialFrames 0, streams 1, suggestedBuf, width, height, reserved
    val avih = fourcc("avih") + le4(56) + le4(40000) + le4(0) + le4(0) +
      le4(0) + le4(nFrames) + le4(0) + le4(1) + le4(frameBytes) +
      le4(size) + le4(size) + le4(0) * 4
    // strh: vids/DIB, flags/prio/lang/initial 0, scale 1 rate 25,
    // start 0, length nFrames, bufSize, quality 0, sampleSize, rcFrame
    val strh = fourcc("strh") + le4(56) + fourcc("vids") + fourcc("DIB ") +
      le4(0) + le2(0) + le2(0) + le4(0) + le4(1) + le4(25) + le4(0) +
      le4(nFrames) + le4(frameBytes) + le4(0) + le4(frameBytes) +
      le2(0) + le2(0) + le2(size) + le2(size)
    // strf: BITMAPINFOHEADER — 24-bpp BI_RGB, the raw-DIB contract
    val strf = fourcc("strf") + le4(40) + le4(40) + le4(size) + le4(size) +
      le2(1) + le2(24) + le4(0) + le4(frameBytes) + le4(0) * 4
    val strl = fourcc("LIST") + le4(4 + strh.length / 2 + strf.length / 2) +
      fourcc("strl") + strh + strf
    val hdrl = fourcc("LIST") + le4(4 + avih.length / 2 + strl.length / 2) +
      fourcc("hdrl") + avih + strl
    val moviSize = 4 + nFrames * (8 + frameBytes)
    val riffSize = 4 + hdrl.length / 2 + 8 + moviSize
    val prefix = fourcc("RIFF") + le4(riffSize) + fourcc("AVI ") + hdrl +
      fourcc("LIST") + le4(moviSize) + fourcc("movi")
    def idiv(a: Column, b: Int): Column = floor(a / b).cast("long")
    val frames = transform(sequence(lit(0), lit(nFrames - 1)), f => {
      val pid = videoId * 131 + floor(f / sceneLen).cast("long") * 17
      val bumped = noisy && f % 5 === 0
      val pix = transform(sequence(lit(0), lit(frameBytes - 1)), j => {
        val y    = lit(size - 1) - idiv(j, rowBytes) // DIB rows bottom-up
        val x    = idiv(j % rowBytes, 3)
        val chan = j % 3 // B, G, R
        val xx = idiv(x * 8, size)
        val yy = idiv(y * 8, size)
        val base = pid * 31 + yy * 19 + xx * 7 +
          (when(bumped && xx === 1 && yy === 2, 40)
            .when(bumped && xx === 5 && yy === 6, 60)
            .otherwise(0))
        val v = when(chan === 0, base % 256)
          .when(chan === 1, (base * 3 + 11) % 256)
          .otherwise((base * 7 + 23) % 256)
        lpad(hex(v), 2, "0")
      })
      concat(lit(fourcc("00db") + le4(frameBytes)), concat_ws("", pix))
    })
    unhex(concat(lit(prefix), concat_ws("", frames)))
  }

  def resizeStub(assets: DataFrame, maxBytes: Int = 64): Dataset[AssetThumb] = {
    require(maxBytes > 0, "maxBytes must be positive")
    val spark = assets.sparkSession
    import spark.implicits._
    val idIdx = assets.schema.fieldIndex("asset_id")
    val cIdx  = assets.schema.fieldIndex("content")
    assets.mapPartitions { (it: Iterator[Row]) =>
      it.map { r =>
        val id     = r.getLong(idIdx)
        val bytes  = r.getAs[Array[Byte]](cIdx)
        val len    = bytes.length.toLong
        val stride = if (len == 0) 1L else (len + maxBytes - 1) / maxBytes
        var s = 0L
        var n = 0L
        var j = 0L
        while (j < len) { s += (bytes(j.toInt) & 0xff); n += 1; j += stride }
        AssetThumb(id, len, stride, n, s)
      }
    }
  }
}
