package graft.pipelines

import java.io.File

import org.apache.spark.sql.SparkSession

/** ≥100 MB binary-asset fixture for the multimodal surface: media
  * payloads + typed metadata, written with explicit row-group sizing so
  * the binary column chunks are scan-friendly.
  *
  * Since round 8 the image and audio assets are GENUINE containers —
  * real 24-bpp BMPs and PCM WAVs (sources.MediaBinary) whose pixel/
  * sample content is the deterministic LCG byte stream (incompressible,
  * like real encoded media) — so the decode path parses actual headers
  * and extracts actual content. Round 9 closes the last modality:
  * video assets are genuine RIFF/AVI containers of uncompressed 24-bpp
  * DIB frames (the same LCG stream as frame pixels), so frame sampling
  * seeks a real container index instead of slicing raw bytes. Container
  * sizes remain pure arithmetic ([[containerLen]]) so tests recompute
  * expected totals without materializing payloads.
  *
  * Generated DISTRIBUTED (range → mapPartitions), never on the driver:
  * the same code path writes 100 TB of assets on a cluster.
  */
object MultimodalFixture {

  val root: String =
    sys.env.getOrElse("SPARK_GRAFT_MM_DIR", "/root/repo/data/mm")
  def assetsPath: String = s"$root/assets.parquet"

  val nAssets = 2000

  /** Payload length for an asset id: 32 KiB + id-keyed spread up to
    * 96 KiB (avg ~64 KiB → ~128 MB total). Pure arithmetic so tests can
    * recompute expected totals without materializing payloads.
    */
  def payloadLen(id: Long): Int =
    32768 + (((mix(id) >>> 17) % 65536L).toInt)

  private def mix(id: Long): Long = {
    var x = id * 6364136223846793005L + 1442695040888963407L
    x ^= (x >>> 33); x *= -49064778989728563L; x ^= (x >>> 29) // Stafford mix
    x
  }

  /** Deterministic payload bytes for an asset. */
  def payload(id: Long): Array[Byte] = {
    val n = payloadLen(id)
    val out = new Array[Byte](n)
    var s = mix(id ^ 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      out(i) = (s >>> 56).toByte
      i += 1
    }
    out
  }

  def mediaType(id: Long): String = Seq("image", "audio", "video")((id % 3).toInt)

  /** Image geometry: width 96 (stride 96·3 = 288 is 4-byte aligned —
    * no BMP row padding, so pixel bytes = payload prefix exactly),
    * height = how many full rows the payload supplies.
    */
  val BmpWidth = 96
  private val BmpRow = BmpWidth * 3
  /** Audio format: 16 kHz stereo 16-bit PCM → 4-byte frames. */
  val WavRate = 16000; val WavChannels = 2; val WavBits = 16
  private val WavFrame = WavChannels * WavBits / 8

  /** Video geometry: 96×32 frames (stride 288 — 4-byte aligned, no DIB
    * row padding, so frame pixel bytes = consecutive payload slices
    * exactly) at 25 fps; frames = how many full frames the payload
    * supplies. Canonical encoder layout: 224-byte header tree, then
    * (8 + 9216)-byte `00db` chunks.
    */
  val AviWidth = 96; val AviHeight = 32; val AviUsPerFrame = 40000
  private val AviFrameBytes = AviWidth * AviHeight * 3

  /** On-disk media length for an asset id — pure arithmetic (the
    * payloadLen contract, now per container): BMP = 54-byte header +
    * whole pixel rows; WAV = 44-byte header + whole sample frames;
    * video = the raw payload.
    */
  def containerLen(id: Long): Int = mediaType(id) match {
    case "image" => 54 + (payloadLen(id) / BmpRow) * BmpRow
    case "audio" => 44 + (payloadLen(id) / WavFrame) * WavFrame
    case _ => 224 + (payloadLen(id) / AviFrameBytes) * (8 + AviFrameBytes)
  }

  /** The asset's media bytes: a genuine container around the
    * deterministic payload — BMP, WAV, or AVI by modality.
    */
  def media(id: Long): Array[Byte] = {
    val p = payload(id)
    mediaType(id) match {
      case "image" =>
        val h = p.length / BmpRow
        graft.sources.MediaBinary.encodeBmp(BmpWidth, h,
          java.util.Arrays.copyOf(p, h * BmpRow))
      case "audio" =>
        val n = (p.length / WavFrame) * WavFrame
        graft.sources.MediaBinary.encodeWav(WavRate, WavChannels, WavBits,
          java.util.Arrays.copyOf(p, n))
      case _ =>
        val n = p.length / AviFrameBytes
        graft.sources.MediaBinary.encodeAvi(AviWidth, AviHeight, AviUsPerFrame,
          Array.tabulate(n)(k => java.util.Arrays.copyOfRange(p,
            k * AviFrameBytes, (k + 1) * AviFrameBytes)))
    }
  }

  // --- baseline-JPEG asset set (round 10) -----------------------------
  // A SEPARATE table (jpeg.parquet) rather than a fourth modality inside
  // assets.parquet: the m1-m7 oracles walk BMP/WAV/AVI layouts at fixed
  // offsets, and compressed payloads would poison those mirrors. The
  // jpeg set gets its own audit query (m8) whose oracle parses the SOF0
  // header out of hex(media).
  def jpegPath: String = s"$root/jpeg.parquet"
  val nJpegs = 40

  /** JPEG geometry — strides 13/9 are coprime to 8, so most of the 40
    * assets have non-multiple-of-8 edges and the m7/m8 integration path
    * genuinely covers partial MCU blocks (the round-10 strides 16/8
    * were always multiples of 8, leaving partial edges to the unit spec
    * only — ADVICE r10): 64..116 × 48..102.
    */
  def jpegDims(id: Long): (Int, Int) =
    (64 + ((id % 5) * 13).toInt, 48 + ((id % 7) * 9).toInt)

  /** Deterministic STRUCTURED pixels (BGR top-down): per-id gradients +
    * a keyed rectangle — smooth content a DCT codec actually compresses
    * (LCG noise would be pathological for JPEG and hide codec bugs
    * behind quantization saturation).
    */
  def jpegPixels(id: Long): Array[Byte] = {
    val (w, h) = jpegDims(id)
    val out = new Array[Byte](w * h * 3)
    val m = mix(id)
    val (rx, ry) = (((m >>> 8) % w).toInt, ((m >>> 24) % h).toInt)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        val inRect = x >= rx / 2 && x < (rx / 2 + w / 3) &&
          y >= ry / 2 && y < (ry / 2 + h / 3)
        out(o) = ((x * 255 / w + (m & 0x3f)).min(255)).toByte
        out(o + 1) = ((y * 255 / h + ((m >>> 6) & 0x3f)).min(255)).toByte
        out(o + 2) = (if (inRect) 200 else 40 + ((m >>> 12) & 0x1f)).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** The jpeg asset's media bytes — a genuine baseline JFIF stream. */
  def jpegMedia(id: Long): Array[Byte] = {
    val (w, h) = jpegDims(id)
    graft.sources.JpegBinary.encodeJpeg(w, h, jpegPixels(id))
  }

  // --- PNG asset set (round 11) ---------------------------------------
  // Like the jpeg set, a SEPARATE table (png.parquet) with its own audit
  // query (m9). PNG is LOSSLESS, so unlike m8 (header fields only) the
  // m9 oracle can check the DECODED CONTENT end-to-end: the pixel
  // generator below uses only engine-replicable arithmetic (md5-derived
  // per-id constants, integer division, min), and the oracle recomputes
  // the exact per-channel pixel sums the Spark side reads out of the
  // decoded bytes — a bit-exact round trip through DEFLATE + the five
  // scanline filters.
  def pngPath: String = s"$root/png.parquet"
  val nPngs = 40

  /** PNG geometry — 56..111 × 40..94 (no block-alignment concerns:
    * PNG filters are per-scanline).
    */
  def pngDims(id: Long): (Int, Int) =
    (56 + ((id % 6) * 11).toInt, 40 + ((id % 7) * 9).toInt)

  /** Per-id constants from md5 of the DECIMAL id string — the one hash
    * both engines compute identically (DuckDB `md5(CAST(id AS VARCHAR))`
    * == Spark/JVM md5 of the same string): four 16-bit hex fields.
    */
  def pngConsts(id: Long): (Int, Int, Int, Int) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def c(o: Int) = Integer.parseInt(hex.substring(o, o + 4), 16)
    (c(0), c(4), c(8), c(12))
  }

  /** Deterministic structured pixels (BGR top-down): per-id gradients +
    * a keyed rectangle, all arithmetic integer-exact and expressible in
    * SQL (x·255/w etc. with integer division) so the m9 oracle
    * recomputes channel sums independently of the codec.
    */
  def pngPixels(id: Long): Array[Byte] = {
    val (w, h) = pngDims(id)
    val (a0, a1, a2, a3) = pngConsts(id)
    val (rx, ry) = (a2 % w, a3 % h)
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        val inRect = x >= rx / 2 && x < (rx / 2 + w / 3) &&
          y >= ry / 2 && y < (ry / 2 + h / 3)
        out(o) = math.min(255, x * 255 / w + a0 % 64).toByte
        out(o + 1) = math.min(255, y * 255 / h + a1 % 64).toByte
        out(o + 2) = (if (inRect) 200 else 40 + a2 % 32).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** The png asset's media bytes — a genuine RFC 2083 stream (filter
    * types cycling 0..4 by row, one ancillary tEXt chunk).
    */
  def pngMedia(id: Long): Array[Byte] = {
    val (w, h) = pngDims(id)
    graft.sources.PngBinary.encodePng(w, h, pngPixels(id))
  }

  // --- GIF asset set (round 11) ---------------------------------------
  // The PALETTE-image rung: pixels quantized to web-safe channel steps
  // (multiples of 51) so each asset's distinct-color count stays well
  // under GIF's 256 and — GIF being lossless for palette-safe content —
  // the m10 oracle recomputes exact decoded channel sums from this
  // generator, the m9 pattern over a REAL LZW entropy decode.
  def gifPath: String = s"$root/gif.parquet"
  val nGifs = 40

  def gifDims(id: Long): (Int, Int) =
    (48 + ((id % 5) * 13).toInt, 36 + ((id % 6) * 11).toInt)

  /** Deterministic web-safe pixels (BGR top-down): 6-step gradients +
    * a keyed rectangle, all integer arithmetic (md5-derived constants,
    * the [[pngConsts]] rule) so the m10 oracle replays it in SQL.
    */
  def gifPixels(id: Long): Array[Byte] = {
    val (w, h) = gifDims(id)
    val (a0, a1, a2, a3) = pngConsts(id)
    val (rx, ry) = (a2 % w, a3 % h)
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        val inRect = x >= rx / 2 && x < (rx / 2 + w / 3) &&
          y >= ry / 2 && y < (ry / 2 + h / 3)
        out(o) = (51 * math.min(5, x * 6 / w + a0 % 2)).toByte
        out(o + 1) = (51 * math.min(5, y * 6 / h + a1 % 2)).toByte
        out(o + 2) = (if (inRect) 204 else 51 * (a2 % 3)).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** The gif asset's media bytes — a genuine GIF89a stream (global
    * palette of the image's distinct colors, real LZW).
    */
  def gifMedia(id: Long): Array[Byte] = {
    val (w, h) = gifDims(id)
    graft.sources.GifBinary.encodeGif(w, h, gifPixels(id))
  }

  // --- MJPEG-in-AVI asset set (round 12) --------------------------------
  // The COMPRESSED-video rung: genuine RIFF/AVI containers whose movi
  // chunks are baseline-JPEG streams (biCompression 'MJPG'), composing
  // the existing JpegBinary encoder with the existing RIFF grammar. A
  // separate table (the jpeg.parquet precedent): assets.parquet's m1-m7
  // oracles walk the uncompressed layouts at fixed offsets. media_type
  // stays "video" so the frame-sampling operator path is shared; ids
  // offset by 30000 so the m3 union's id space stays disjoint. Frame
  // pixels are structured gradients with a per-(id, frame) keyed
  // rectangle (smooth content a DCT codec actually compresses — the
  // jpegPixels rationale), dims with non-multiple-of-8 edges so the
  // per-frame entropy decode covers partial MCU blocks.
  def mjpegPath: String = s"$root/mjpeg.parquet"
  val nMjpegs = 12
  val MjpegIdOffset = 30000L

  def mjpegDims(id: Long): (Int, Int) =
    (68 + ((id % 4) * 13).toInt, 36 + ((id % 3) * 9).toInt)

  def mjpegFrameCount(id: Long): Int = 2 + (id % 4).toInt

  /** Per-(id, frame) structured frame pixels: smooth TRIANGULAR WAVES
    * with id-keyed spatial frequency and phase per channel, plus a keyed
    * rectangle. Waves (not plain gradients) because the round-13
    * perceptual-video operator (m14) needs unrelated clips to sit FAR
    * apart in dHash space: a gradient's adjacent-block ordering is the
    * same for every id (only the rect differed — unrelated clips
    * measured as close as 2 bits), while per-id frequencies/phases
    * reorder the block means richly (unrelated clips ≥ ~20 bits,
    * cross-codec re-encodes of the same frame ≤ ~4 — the separation the
    * banding radius lives inside). Still smooth content a DCT codec
    * compresses well (periods ≥ w/4 ≥ 17 px).
    */
  def mjpegFramePixels(id: Long, k: Int): Array[Byte] = {
    val (w, h) = mjpegDims(id)
    val out = new Array[Byte](w * h * 3)
    val m = mix(id * 131 + k + 7)
    val (rx, ry) = (((m >>> 8) % w).toInt, ((m >>> 24) % h).toInt)
    val fx = 1 + (m & 3L).toInt; val fy = 1 + ((m >>> 2) & 3L).toInt
    val px0 = ((m >>> 4) & 0xffL).toInt; val py0 = ((m >>> 12) & 0xffL).toInt
    // 0..254 triangle wave over a 256-step period
    def tri(t: Int): Int = { val u = t & 0xff; if (u < 128) 2 * u else 2 * (255 - u) }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        val inRect = x >= rx / 2 && x < (rx / 2 + w / 3) &&
          y >= ry / 2 && y < (ry / 2 + h / 3)
        out(o) = tri(x * fx * 256 / w + px0).toByte
        out(o + 1) = tri(y * fy * 256 / h + py0).toByte
        out(o + 2) = (if (inRect) 200 else 40 + ((m >>> 20) & 0x1f)).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** The mjpeg asset's media bytes — a genuine MJPEG-in-AVI stream. */
  def mjpegMedia(id: Long): Array[Byte] = {
    val (w, h) = mjpegDims(id)
    graft.sources.MediaBinary.encodeAviMjpeg(w, h, AviUsPerFrame,
      Array.tabulate(mjpegFrameCount(id))(k =>
        graft.sources.JpegBinary.encodeJpeg(w, h, mjpegFramePixels(id, k))))
  }

  def buildMjpeg(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nMjpegs.toLong, 1, 4)
      .map(id => graft.operators.Multimodal.Asset(id + MjpegIdOffset, "video",
        mjpegMedia(id)))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(mjpegPath)
    new File(s"$mjpegPath/$mjpegAviMarker").createNewFile()
  }

  // --- perceptual-dedup asset set (round 12) ---------------------------
  // CROSS-FORMAT duplicates: each GIF asset's EXACT pixels re-encoded as
  // PNG (both codecs lossless), ids offset by PercIdOffset. A byte-chunk
  // fingerprint dedup (the m4 pipeline) provably shares zero chunks
  // across such a pair — different container, different entropy coding —
  // while the perceptual dHash (m11) is bit-identical; the pair set over
  // gif.parquet ∪ perc.parquet is the planted ground truth, and the
  // pixels are gifPixels', so the m11 oracle replays both sides from the
  // generator.
  def percPath: String = s"$root/perc.parquet"
  val PercIdOffset = 20000L

  /** The perc asset's media bytes — a genuine PNG of the gif asset's
    * exact pixels.
    */
  def percMedia(gifId: Long): Array[Byte] = {
    val (w, h) = gifDims(gifId)
    graft.sources.PngBinary.encodePng(w, h, gifPixels(gifId))
  }

  /** Edit variants of the perc pictures — the dHash ROBUSTNESS ENVELOPE
    * probes (VERDICT r12 missing-d): what the radius-7 banding catches
    * and what it provably does not. Not part of the declared m11 corpus:
    * the requality variant's pair memberships against the gradient-dense
    * corpus are not SQL-replayable (the lossy-codec lesson m12/m14
    * codified), and the crop variant exists precisely to demonstrate
    * distances BEYOND the radius — PerceptualDedupSpec pins the measured
    * envelope instead.
    */
  def percBrightMedia(gifId: Long, delta: Int = 16): Array[Byte] = {
    val (w, h) = gifDims(gifId)
    val px = gifPixels(gifId)
    val out = px.map(b => math.min(255, (b & 0xff) + delta).toByte)
    graft.sources.PngBinary.encodePng(w, h, out)
  }

  /** Inner (1-2·frac) crop — 10% off each edge by default. */
  def percCropMedia(gifId: Long, frac: Double = 0.1): Array[Byte] = {
    val (w, h) = gifDims(gifId)
    val px = gifPixels(gifId)
    val (x0, y0) = ((w * frac).toInt, (h * frac).toInt)
    val (cw, chh) = (w - 2 * x0, h - 2 * y0)
    val out = new Array[Byte](cw * chh * 3)
    var y = 0
    while (y < chh) {
      System.arraycopy(px, ((y + y0) * w + x0) * 3, out, y * cw * 3, cw * 3)
      y += 1
    }
    graft.sources.PngBinary.encodePng(cw, chh, out)
  }

  /** Same pixels through the lossy JPEG encoder (quality 75). */
  def percRequalityMedia(gifId: Long): Array[Byte] = {
    val (w, h) = gifDims(gifId)
    graft.sources.JpegBinary.encodeJpeg(w, h, gifPixels(gifId))
  }

  def buildPerc(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nGifs.toLong, 1, 4)
      .map(id => graft.operators.Multimodal.Asset(id + PercIdOffset, "png",
        percMedia(id)))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(percPath)
    new File(s"$percPath/$percMarker").createNewFile()
  }

  // --- perceptual VIDEO dedup asset set (round 13) ----------------------
  // The m14 corpus alongside mjpeg.parquet: the SAME mjpegFramePixels
  // frames as (a) lossless uncompressed-DIB clips (ids +VPercDibOffset)
  // and (b) 2× nearest-neighbor DOWNSCALED DIB clips (ids
  // +VPercDownOffset). Lane (a) vs mjpeg.parquet is the planted
  // CROSS-CODEC pair the byte-chunk domain provably misses (different
  // codec, zero shared chunks, near-identical frame dHashes); lane (b)
  // is the cross-REPRESENTATION pair whose pixels the m14 oracle can
  // replay bit-exactly from hex(media) (DIB is lossless — the hex walk
  // reads the actual downscaled pixels, no resample replay needed).
  def vpercPath: String = s"$root/vperc.parquet"
  val VPercDibOffset = 40000L
  val VPercDownOffset = 50000L

  /** Lossless DIB twin of the mjpeg clip: identical pre-encode frames. */
  def vpercDibMedia(i: Long): Array[Byte] = {
    val (w, h) = mjpegDims(i)
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame,
      Array.tabulate(mjpegFrameCount(i))(k => mjpegFramePixels(i, k)))
  }

  /** 2× nearest-neighbor downscale of the same frames (the resize
    * convention: src x = x·w/dw, integer division), DIB-encoded.
    */
  def vpercDownMedia(i: Long): Array[Byte] = {
    val (w, h) = mjpegDims(i)
    val dw = w / 2; val dh = h / 2
    def down(px: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](dw * dh * 3)
      var y = 0
      while (y < dh) {
        val sy = y * h / dh
        var x = 0
        while (x < dw) {
          val sx = x * w / dw
          val s = (sy * w + sx) * 3; val d = (y * dw + x) * 3
          out(d) = px(s); out(d + 1) = px(s + 1); out(d + 2) = px(s + 2)
          x += 1
        }
        y += 1
      }
      out
    }
    graft.sources.MediaBinary.encodeAvi(dw, dh, AviUsPerFrame,
      Array.tabulate(mjpegFrameCount(i))(k => down(mjpegFramePixels(i, k))))
  }

  // --- fps-variant video asset set (round 14) ---------------------------
  // The m18 corpus: each mjpeg clip's frames re-encoded as a
  // FRAME-DUPLICATED DOUBLE-RATE DIB clip (every frame twice at half
  // usPerFrame — the classic pulldown/upsample re-encode: same duration,
  // same content timeline, twice the frame count). Against the vperc DIB
  // lane this is the planted DIFFERING-FRAME-COUNT pair the round-13
  // equal-slot-count rule made invisible (VERDICT r13 #2): under
  // duration-fraction slot sampling, slot i of both encodings lands on
  // the SAME content frame (floor(floor(2nf·i/k)/2) = floor(nf·i/k)), so
  // per-slot distance is exactly 0 while the bytes share nothing. All
  // DIB — every lane of the m18 oracle replays bit-exactly from
  // hex(media), no planted arm.
  def vperc2Path: String = s"$root/vperc2.parquet"
  val VPerc2xOffset = 55000L

  /** Frame-duplicated 2×-rate DIB re-encode of the mjpeg clip's frames. */
  def vperc2xMedia(i: Long): Array[Byte] = {
    val (w, h) = mjpegDims(i)
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame / 2,
      Array.tabulate(2 * mjpegFrameCount(i))(k => mjpegFramePixels(i, k / 2)))
  }

  def buildVPerc2(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nMjpegs.toLong, 1, 4)
      .map(i => graft.operators.Multimodal.Asset(i + VPerc2xOffset, "video",
        vperc2xMedia(i)))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(vperc2Path)
    new File(s"$vperc2Path/$vperc2Marker").createNewFile()
  }

  def buildVPerc(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nMjpegs.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + VPercDibOffset, "video",
          vpercDibMedia(i)),
        graft.operators.Multimodal.Asset(i + VPercDownOffset, "video",
          vpercDownMedia(i))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(vpercPath)
    new File(s"$vpercPath/$vpercMarker").createNewFile()
  }

  // --- crop-perceptual image asset set (round 14) -----------------------
  // The m17 corpus: SMOOTH STRUCTURED pictures (per-id cloud textures —
  // see cpercBasePixels; crops of structured content are the class the
  // global dHash provably misses, PerceptualDedupSpec's envelope)
  // planted with two crops each: the inner-10% center crop and a same-size
  // TL-anchored crop, BOTH generated with the REGION-GRID integer
  // arithmetic (x0 = w/10 — Multimodal.regionWindows regions 1 and 3),
  // so each crop's pixel surface IS one of its base's family windows
  // and the region pair scores Hamming 0. All three lanes are 24-bpp
  // BMP — raw pixels in the container, so the m17 oracle replays every
  // hash bit-exactly from hex(media) (the m7 walk), no generator replay
  // and no planted arm.
  def cpercPath: String = s"$root/cperc.parquet"
  val CPercBaseOffset = 80000L
  val CPercCenterOffset = 81000L
  val CPercTlOffset = 82000L

  private val CGrid = 6 // coarse cells per axis (7×7 corner values)

  /** The crop-corpus base picture: a smooth per-id "cloud" texture —
    * an id-keyed random 7×7 coarse grid bilinearly interpolated to the
    * clip dims, per channel, in pure integer arithmetic. Smooth like
    * photographic content (adjacent pixels drift slowly) yet
    * id-DISTINCT at region scale: block means sample the random coarse
    * field, so unrelated assets sit far apart under ANY region pairing
    * — which the m14 wave frames are NOT (periodic content repeats
    * block orderings across windows and ids, and the
    * min-over-49-region-pairs rule then surfaces coincidental
    * 0-distance pairs between different pictures; measured before this
    * generator replaced them).
    */
  def cpercBasePixels(i: Long): (Int, Int, Array[Byte]) = {
    val (w, h) = mjpegDims(i)
    (w, h, cloudPixels(i * 1315423911L, w, h))
  }

  /** The cloud-texture surface for an arbitrary seed — the [[cpercBasePixels]]
    * generator factored (round 15) so the video-trim and orientation
    * corpora draw from the same smooth-but-key-distinct content class:
    * a seed-keyed random 7×7 coarse grid bilinearly interpolated to
    * (w, h) per channel, pure integer arithmetic. cperc keeps its exact
    * round-14 bytes (seed = i·1315423911).
    */
  def cloudPixels(seed: Long, w: Int, h: Int): Array[Byte] = {
    val g = CGrid
    val corners = Array.tabulate(3, g + 1, g + 1) { (c, gy, gx) =>
      ((mix(seed + c * 2654435761L + gy * 97L + gx) >>> 56) & 0xff).toInt
    }
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val v = y * g * 256 / h
      val gy = v >> 8; val fy = v & 255
      var x = 0
      while (x < w) {
        val u = x * g * 256 / w
        val gx = u >> 8; val fx = u & 255
        var c = 0
        while (c < 3) {
          val top = corners(c)(gy)(gx) * (256 - fx) +
            corners(c)(gy)(gx + 1) * fx
          val bot = corners(c)(gy + 1)(gx) * (256 - fx) +
            corners(c)(gy + 1)(gx + 1) * fx
          out((y * w + x) * 3 + c) = ((top * (256 - fy) + bot * fy) >> 16).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  def cpercBaseMedia(i: Long): Array[Byte] = {
    val (w, h, px) = cpercBasePixels(i)
    graft.sources.MediaBinary.encodeBmp(w, h, px)
  }

  private def cropWindow(w: Int, px: Array[Byte],
      rx: Int, ry: Int, cw: Int, ch: Int): Array[Byte] = {
    val out = new Array[Byte](cw * ch * 3)
    var y = 0
    while (y < ch) {
      System.arraycopy(px, ((ry + y) * w + rx) * 3, out, y * cw * 3, cw * 3)
      y += 1
    }
    out
  }

  /** Inner-10% center crop (region-1 window of the base). */
  def cpercCenterMedia(i: Long): Array[Byte] = {
    val (w, h, px) = cpercBasePixels(i)
    val (x0, y0) = (w / 10, h / 10)
    val (cw, ch) = (w - 2 * x0, h - 2 * y0)
    graft.sources.MediaBinary.encodeBmp(cw, ch,
      cropWindow(w, px, x0, y0, cw, ch))
  }

  /** TL-anchored crop at the same scale (region-3 window of the base). */
  def cpercTlMedia(i: Long): Array[Byte] = {
    val (w, h, px) = cpercBasePixels(i)
    val (cw, ch) = (w - 2 * (w / 10), h - 2 * (h / 10))
    graft.sources.MediaBinary.encodeBmp(cw, ch,
      cropWindow(w, px, 0, 0, cw, ch))
  }

  def buildCPerc(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nMjpegs.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + CPercBaseOffset, "image",
          cpercBaseMedia(i)),
        graft.operators.Multimodal.Asset(i + CPercCenterOffset, "image",
          cpercCenterMedia(i)),
        graft.operators.Multimodal.Asset(i + CPercTlOffset, "image",
          cpercTlMedia(i))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(cpercPath)
    new File(s"$cpercPath/$cpercMarker").createNewFile()
  }

  // --- orientation-perceptual image asset set (round 15, m22) -----------
  // The m22 corpus: cloud-texture base pictures planted with a
  // 90°-clockwise-rotated twin and a horizontally-mirrored twin — the
  // two most common orientation edits, both pure integer pixel
  // permutations. A rotated/mirrored repost defeats the global dHash
  // AND the m17 region family alike (every window pools a permuted
  // picture; the spec measures both misses), while the 8-orientation
  // hash family matches by GROUP CLOSURE at exactly 0. All raw-pixel
  // BMP — the m22 oracle replays every orientation hash bit-exactly
  // from hex(media), no planted arm.
  def opercPath: String = s"$root/operc.parquet"
  val OPercBaseOffset = 85000L
  val OPercRotOffset = 86000L
  val OPercFlipOffset = 87000L
  val nOPercs = 10

  def opercBasePixels(i: Long): (Int, Int, Array[Byte]) = {
    val (w, h) = mjpegDims(i)
    (w, h, cloudPixels(mix(i * 1100087778366101931L + 17L) * 31L, w, h))
  }

  def opercBaseMedia(i: Long): Array[Byte] = {
    val (w, h, px) = opercBasePixels(i)
    graft.sources.MediaBinary.encodeBmp(w, h, px)
  }

  /** 90°-CW rotation as a pixel permutation: new (x', y') = old
    * (y', h−1−x'); rotated dims are h × w. Factored (round 16) so the
    * operc twins and the rcperc composed-edit twins share one map.
    */
  def rot90Pixels(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < w) {
      var x = 0
      while (x < h) {
        val s = ((h - 1 - x) * w + y) * 3
        val d = (y * h + x) * 3
        out(d) = px(s); out(d + 1) = px(s + 1); out(d + 2) = px(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Horizontal mirror as a pixel permutation: new (x', y') = old
    * (w−1−x', y').
    */
  def mirrorPixels(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val s = (y * w + (w - 1 - x)) * 3
        val d = (y * w + x) * 3
        out(d) = px(s); out(d + 1) = px(s + 1); out(d + 2) = px(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** 90°-CW-rotated twin. */
  def opercRotMedia(i: Long): Array[Byte] = {
    val (w, h, px) = opercBasePixels(i)
    graft.sources.MediaBinary.encodeBmp(h, w, rot90Pixels(w, h, px))
  }

  /** Horizontally mirrored twin. */
  def opercFlipMedia(i: Long): Array[Byte] = {
    val (w, h, px) = opercBasePixels(i)
    graft.sources.MediaBinary.encodeBmp(w, h, mirrorPixels(w, h, px))
  }

  def buildOPerc(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nOPercs.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + OPercBaseOffset, "image",
          opercBaseMedia(i)),
        graft.operators.Multimodal.Asset(i + OPercRotOffset, "image",
          opercRotMedia(i)),
        graft.operators.Multimodal.Asset(i + OPercFlipOffset, "image",
          opercFlipMedia(i))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(opercPath)
    new File(s"$opercPath/$opercMarker").createNewFile()
  }

  // --- rotated-crop composed-edit image asset set (round 16, m24) -------
  // The m24 corpus: cloud-texture bases planted with COMPOSED edits
  // that defeat the m17 region family and the m22 orientation family
  // INDIVIDUALLY — a repost that is rotated/mirrored AND cropped. Twin
  // 1 is the TL-corner family window (region 3) cut from the 90°-CW
  // rotation of the base; twin 2 the center-10% family window (region
  // 1) cut from the horizontal mirror. Both crops use the REGION-GRID
  // integer arithmetic on the ORIENTED dims, so each twin's full pixel
  // surface is exactly a dihedral view of one of the base's upright
  // family windows (family windows map to family windows under D4) and
  // the composed family pair scores Hamming 0. All raw-pixel BMP — the
  // m24 oracle replays every hash bit-exactly from hex(media).
  def rcpercPath: String = s"$root/rcperc.parquet"
  val RCPercBaseOffset = 95000L
  val RCPercRotTlOffset = 96000L
  val RCPercFlipCenterOffset = 97000L
  val nRCPercs = 10

  def rcpercBasePixels(i: Long): (Int, Int, Array[Byte]) = {
    val (w, h) = mjpegDims(i)
    (w, h, cloudPixels(mix(i * 2862933555777941757L + 23L) * 37L, w, h))
  }

  def rcpercBaseMedia(i: Long): Array[Byte] = {
    val (w, h, px) = rcpercBasePixels(i)
    graft.sources.MediaBinary.encodeBmp(w, h, px)
  }

  /** TL-corner family window (region 3, computed on the ROTATED dims)
    * of the 90°-CW rotation: crop ∘ rotation, the composition class.
    */
  def rcpercRotTlMedia(i: Long): Array[Byte] = {
    val (w, h, px) = rcpercBasePixels(i)
    val rp = rot90Pixels(w, h, px) // dims h × w
    val (w2, h2) = (h, w)
    val (cw, ch) = (w2 - 2 * (w2 / 10), h2 - 2 * (h2 / 10))
    graft.sources.MediaBinary.encodeBmp(cw, ch,
      cropWindow(w2, rp, 0, 0, cw, ch))
  }

  /** Center-10% family window (region 1) of the horizontal mirror:
    * crop ∘ mirror, the reflected arm of the composition class.
    */
  def rcpercFlipCenterMedia(i: Long): Array[Byte] = {
    val (w, h, px) = rcpercBasePixels(i)
    val mp = mirrorPixels(w, h, px)
    val (x0, y0) = (w / 10, h / 10)
    val (cw, ch) = (w - 2 * x0, h - 2 * y0)
    graft.sources.MediaBinary.encodeBmp(cw, ch,
      cropWindow(w, mp, x0, y0, cw, ch))
  }

  def buildRCPerc(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nRCPercs.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + RCPercBaseOffset, "image",
          rcpercBaseMedia(i)),
        graft.operators.Multimodal.Asset(i + RCPercRotTlOffset, "image",
          rcpercRotTlMedia(i)),
        graft.operators.Multimodal.Asset(i + RCPercFlipCenterOffset, "image",
          rcpercFlipCenterMedia(i))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(rcpercPath)
    new File(s"$rcpercPath/$rcpercMarker").createNewFile()
  }

  // --- trimmed-video asset set (round 15, m20) ---------------------------
  // The video analogue of atrim.parquet: a clipped intro/outro repost
  // shifts EVERY duration-fraction slot of videoDHash (m14/m18's
  // geometry — slots anchored to the full clip duration), so trimmed
  // re-uploads were the last documented-invisible video edit class.
  // Closed the m15c way: genuine DIB twins whose frames are a SPAN of
  // the base's, cut with the same integer arithmetic the span family
  // uses (frame [nf·a/100, nf·b/100)), so the base's span slots land on
  // the twin's full-span slots frame-for-frame. Content is per-(id,
  // frame) cloud textures — INDEPENDENT across frames (and ids), so
  // the full-duration slot geometry provably misses the trims (its
  // slots land on different frames) while unrelated clips stay far
  // under any span pairing. Base clips carry 40-72 frames (the 2-5
  // frame wave clips make 5%/10% trims degenerate — floor(nf·5/100)=0
  // below nf=20). All DIB — the m20 oracle replays every (span, slot)
  // hash bit-exactly from hex(media), no planted arm.
  def vtrimPath: String = s"$root/vtrim.parquet"
  val VTrimBaseOffset = 90000L
  val VTrimBothOffset = 91000L
  val VTrimHeadOffset = 92000L
  val nVTrims = 10

  def vtrimDims(i: Long): (Int, Int) =
    (48 + (i % 4).toInt * 8, 32 + (i % 3).toInt * 8)

  def vtrimFrameCount(i: Long): Int = 40 + (i % 5).toInt * 8

  /** Per-(id, frame) cloud texture — frames independent by seed. */
  def vtrimFramePixels(i: Long, k: Int): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    cloudPixels(mix(i * 2862933555777941757L + k) * 31L, w, h)
  }

  def vtrimBaseMedia(i: Long): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame,
      Array.tabulate(vtrimFrameCount(i))(k => vtrimFramePixels(i, k)))
  }

  /** Frames [nf·a/100, nf·b/100) of the base — the span-grid cut. */
  def vtrimSpanMedia(i: Long, a: Int, b: Int): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    val nf = vtrimFrameCount(i)
    val f0 = (nf.toLong * a / 100).toInt
    val f1 = (nf.toLong * b / 100).toInt
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame,
      Array.tabulate(f1 - f0)(k => vtrimFramePixels(i, f0 + k)))
  }

  def buildVTrim(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nVTrims.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + VTrimBaseOffset, "video",
          vtrimBaseMedia(i)),
        graft.operators.Multimodal.Asset(i + VTrimBothOffset, "video",
          vtrimSpanMedia(i, 5, 95)),
        graft.operators.Multimodal.Asset(i + VTrimHeadOffset, "video",
          vtrimSpanMedia(i, 10, 100))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(vtrimPath)
    new File(s"$vtrimPath/$vtrimMarker").createNewFile()
  }

  // --- frame-DROP video asset set (round 16, m25) ------------------------
  // The m18 honest boundary promoted to a content-class lane (VERDICT
  // r15 #7): a DOWNSAMPLED re-encode (every other frame dropped, frame
  // duration doubled — same content timeline, half the frames) of
  // TEMPORALLY-CORRELATED content. Bases are a static per-id cloud
  // background with a slowly moving rectangle (adjacent frames differ
  // by a ≤1-px rectangle edge — real footage's frame-to-frame
  // coherence), nf ≡ 0 (mod 8), so the duration-fraction slot frames
  // ⌊nf·i/4⌋ of the base are all EVEN and the half-rate twin's slot
  // frames 2·⌊(nf/2)·i/4⌋ land on the IDENTICAL retained frames: the
  // planted pairs sit at per-slot distance exactly 0, hex-replayable,
  // no planted arm. The boundary that REMAINS (measured in
  // VideoAudioPerceptualSpec): a phase-shifted drop (keep odd frames)
  // puts every slot one frame off — within the radius on this
  // correlated class, far beyond it on vtrim's per-frame-independent
  // textures, which is the m18 scaladoc's content-class claim made a
  // measured artifact.
  def vdropPath: String = s"$root/vdrop.parquet"
  val VDropBaseOffset = 93000L
  val VDropHalfOffset = 94000L
  val nVDrops = 10

  def vdropFrameCount(i: Long): Int = 40 + (i % 5).toInt * 8

  /** Per-(id, frame) TEMPORALLY-CORRELATED pixels: a static per-id
    * cloud background with a w/3 × h/3 rectangle whose top-left
    * advances ⌊k·(dim − dim/3)/nf⌋ — under 1 px per frame.
    */
  def vdropFramePixels(i: Long, k: Int): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    val nf = vdropFrameCount(i)
    val out = cloudPixels(mix(i * 6364136223846793005L + 11L) * 29L, w, h)
    val (rw, rh) = (w / 3, h / 3)
    val rx = k * (w - rw) / nf
    val ry = k * (h - rh) / nf
    val fill = (64 + ((mix(i + 97L) >>> 40) & 0x7fL)).toInt
    var y = ry
    while (y < ry + rh) {
      var x = rx
      while (x < rx + rw) {
        out((y * w + x) * 3 + 2) = fill.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  def vdropBaseMedia(i: Long): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame,
      Array.tabulate(vdropFrameCount(i))(k => vdropFramePixels(i, k)))
  }

  /** The half-rate twin: frames `phase, phase+2, …` at doubled frame
    * duration (same content timeline). The declared lane plants
    * phase 0 (exact slot alignment at nf ≡ 0 mod 8); the spec measures
    * phase 1 — every slot one frame off, the content-class envelope.
    */
  def vdropHalfMedia(i: Long, phase: Int = 0): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    val nf = vdropFrameCount(i)
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame * 2,
      Array.tabulate((nf - phase + 1) / 2)(j =>
        vdropFramePixels(i, phase + 2 * j)))
  }

  def buildVDrop(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nVDrops.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + VDropBaseOffset, "video",
          vdropBaseMedia(i)),
        graft.operators.Multimodal.Asset(i + VDropHalfOffset, "video",
          vdropHalfMedia(i))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(vdropPath)
    new File(s"$vdropPath/$vdropMarker").createNewFile()
  }

  // --- COMPOSED-edit video asset set: trim ∘ frame-drop (round 16, m27) --
  // The video analogue of m24's composition question, answered the
  // OTHER way: the span-slot family needs no new construction, because
  // BOTH edit axes are duration-fraction geometry — the span grid
  // absorbs the trim and the rate-free slot fractions absorb the drop.
  // Twins are the (10,90) span of the base downsampled to half rate
  // (even kept frames, doubled frame duration). With nf ≡ 0 (mod 10)
  // the span holds nfs = 4nf/5 frames, divisible by 8, so the base's
  // span-2 slot offsets ⌊nfs·i/4⌋ = nfs·i/4 are even and equal
  // 2·⌊(nfs/2)·i/4⌋ — the twin's full-span slots land on the
  // IDENTICAL base frames and the planted compositions sit at per-slot
  // distance exactly 0 through the (span 2, span 0) pair. Frames are
  // per-id-and-frame INDEPENDENT cloud textures (the vtrim class), so
  // the full-duration family's miss is maximal and every non-aligned
  // span pair is far. All DIB — the m27 oracle replays the complete
  // pair set from hex(media) via the factored span walk, no planted
  // arm.
  def vtdPath: String = s"$root/vtd.parquet"
  val VTDBaseOffset = 98000L
  val VTDDropOffset = 99000L
  val nVTDs = 10

  /** nf ≡ 0 (mod 10): the (10,90) span cut is exact and its length
    * 4nf/5 is divisible by 8 (the slot-alignment condition above).
    */
  def vtdFrameCount(i: Long): Int = 40 + (i % 5).toInt * 10

  /** Per-(id, frame) cloud texture — frames independent by seed. */
  def vtdFramePixels(i: Long, k: Int): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    cloudPixels(mix(i * 3935559000370003845L + k) * 37L, w, h)
  }

  def vtdBaseMedia(i: Long): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame,
      Array.tabulate(vtdFrameCount(i))(k => vtdFramePixels(i, k)))
  }

  /** The composed twin: even frames of base frames [nf/10, 9nf/10) at
    * doubled frame duration — a clipped re-upload that was ALSO
    * re-encoded at half rate.
    */
  def vtdDropMedia(i: Long): Array[Byte] = {
    val (w, h) = vtrimDims(i)
    val nf = vtdFrameCount(i)
    val f0 = nf / 10
    val nfs = nf * 8 / 10
    graft.sources.MediaBinary.encodeAvi(w, h, AviUsPerFrame * 2,
      Array.tabulate(nfs / 2)(j => vtdFramePixels(i, f0 + 2 * j)))
  }

  def buildVTD(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nVTDs.toLong, 1, 4)
      .flatMap(i => Seq(
        graft.operators.Multimodal.Asset(i + VTDBaseOffset, "video",
          vtdBaseMedia(i)),
        graft.operators.Multimodal.Asset(i + VTDDropOffset, "video",
          vtdDropMedia(i))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(vtdPath)
    new File(s"$vtdPath/$vtdMarker").createNewFile()
  }

  // --- perceptual AUDIO dedup asset set (round 13) ----------------------
  // Edited twins of the first nAPercBases audio assets: gain-halved
  // (every sample ÷2, ids +APercGainOffset) and requantized-to-12-bit
  // (low 4 bits zeroed, ids +APercQuantOffset) — both genuine PCM WAVs
  // whose BYTES share nothing with the originals while the 65-window
  // amplitude-delta SIGN structure (Multimodal.audioDHash) is all but
  // unchanged. Everything is oracle-replayable: the edits happened at
  // build time, so the m15 oracle just reads each lane's samples out of
  // hex(media) — no transform replay needed.
  def apercPath: String = s"$root/aperc.parquet"
  val APercGainOffset = 60000L
  val APercQuantOffset = 70000L
  val nAPercBases = 10

  /** The first [[nAPercBases]] audio asset ids of assets.parquet. */
  def apercBaseIds: Seq[Long] =
    (0L until nAssets.toLong).filter(mediaType(_) == "audio")
      .take(nAPercBases)

  private def transformWav(bytes: Array[Byte], f: Int => Int): Array[Byte] = {
    val w = graft.sources.MediaBinary.decodeWav(bytes)
      .getOrElse(sys.error("aperc base is not a WAV"))
    val d = w.data.clone()
    var o = 0
    while (o + 1 < d.length) {
      val v = ((d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)).toShort.toInt
      val t = f(v)
      d(o) = (t & 0xff).toByte
      d(o + 1) = ((t >> 8) & 0xff).toByte
      o += 2
    }
    graft.sources.MediaBinary.encodeWav(w.sampleRate, w.channels,
      w.bitsPerSample, d)
  }

  def apercGainMedia(baseId: Long): Array[Byte] =
    transformWav(media(baseId), _ / 2)

  def apercQuantMedia(baseId: Long): Array[Byte] =
    transformWav(media(baseId), v => v & ~0xf)

  // Negative-envelope probe variants (round 14 — spec-only, the
  // percBright/percCrop pattern for audio): what the sign hash does
  // NOT survive must be MEASURED, not guessed
  // (VideoAudioPerceptualSpec pins the table). Not part of any
  // declared corpus.

  /** Frame-level window over the decoded data chunk, re-encoded. */
  private def sliceWav(bytes: Array[Byte], keep: (Int, Int) => Boolean,
      rate: Int => Int): Array[Byte] = {
    val w = graft.sources.MediaBinary.decodeWav(bytes)
      .getOrElse(sys.error("aperc base is not a WAV"))
    val bpf = w.channels * w.bitsPerSample / 8
    val nf = w.data.length / bpf
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < nf) {
      if (keep(f, nf)) out.write(w.data, f * bpf, bpf)
      f += 1
    }
    graft.sources.MediaBinary.encodeWav(rate(w.sampleRate), w.channels,
      w.bitsPerSample, out.toByteArray)
  }

  /** 2× downsample: every other frame kept, rate halved (16→8 kHz). */
  def apercResampleMedia(baseId: Long): Array[Byte] =
    sliceWav(media(baseId), (f, _) => f % 2 == 0, _ / 2)

  /** Trim `frac` of the duration off EACH end (±5% default). */
  def apercTrimMedia(baseId: Long, frac: Double = 0.05): Array[Byte] =
    sliceWav(media(baseId),
      (f, nf) => f >= (nf * frac).toInt && f < nf - (nf * frac).toInt,
      identity)

  /** Deterministic additive noise of ±`amp` per sample (clamped). */
  def apercNoiseMedia(baseId: Long, amp: Int = 512): Array[Byte] = {
    var k = -1
    transformWav(media(baseId), v => {
      k += 1
      val nz = ((mix(baseId * 7919L + k) >>> 40) % (2L * amp + 1)).toInt - amp
      math.max(Short.MinValue.toInt, math.min(Short.MaxValue.toInt, v + nz))
    })
  }

  // --- trimmed-audio asset set (round 14, m15c) --------------------------
  // The trim boundary the negative envelope pinned (±5% trim = 26-39
  // sign-hash bits, NOT caught) closed the m17 way: a SPAN-OFFSET hash
  // family. These are genuine WAV twins whose frames are a SPAN of the
  // base's, cut with the same integer arithmetic the span family uses
  // (frame [nf·a/100, nf·b/100)), so one of the base's span hashes is
  // bit-identical to the twin's full hash. Everything hex-replayable.
  def atrimPath: String = s"$root/atrim.parquet"
  val ATrimBothOffset = 76000L
  val ATrimHeadOffset = 77000L

  /** Keep frames [nf·a/100, nf·b/100) of the base — integer-exact. */
  private def spanWav(baseId: Long, a: Int, b: Int): Array[Byte] =
    sliceWav(media(baseId),
      (f, nf) => f >= nf.toLong * a / 100 && f < nf.toLong * b / 100,
      identity)

  /** Both ends trimmed 5% (the span-(5,95) twin). */
  def atrimBothMedia(baseId: Long): Array[Byte] = spanWav(baseId, 5, 95)

  /** Head trimmed 10% (the span-(10,100) twin). */
  def atrimHeadMedia(baseId: Long): Array[Byte] = spanWav(baseId, 10, 100)

  def buildATrim(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.sparkContext.parallelize(apercBaseIds, 4).toDF("base_id")
      .as[Long]
      .flatMap(b => Seq(
        graft.operators.Multimodal.Asset(b + ATrimBothOffset, "audio",
          atrimBothMedia(b)),
        graft.operators.Multimodal.Asset(b + ATrimHeadOffset, "audio",
          atrimHeadMedia(b))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(atrimPath)
    new File(s"$atrimPath/$atrimMarker").createNewFile()
  }

  def buildAPerc(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    val bases = apercBaseIds
    spark.sparkContext.parallelize(bases, 4).toDF("base_id")
      .as[Long]
      .flatMap(b => Seq(
        graft.operators.Multimodal.Asset(b + APercGainOffset, "audio",
          apercGainMedia(b)),
        graft.operators.Multimodal.Asset(b + APercQuantOffset, "audio",
          apercQuantMedia(b))))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(apercPath)
    new File(s"$apercPath/$apercMarker").createNewFile()
  }

  @volatile private var ready = false

  /** Fixture layout version marker: bumped when the on-disk content
    * contract changes (V2 = genuine BMP/WAV containers; V3 = genuine
    * AVI videos), so a stale pre-upgrade fixture rebuilds instead of
    * being served.
    */
  private val versionMarker = "_GRAFT_MEDIA_V3"
  private val jpegMarker = "_GRAFT_JPEG_V2" // V2 = odd-dim strides (partial MCU edges)
  private val pngMarker = "_GRAFT_PNG_V1"
  private val gifMarker = "_GRAFT_GIF_V1"
  private val percMarker = "_GRAFT_PERC_V1"
  private val mjpegAviMarker = "_GRAFT_MJPEG_AVI_V2" // V2 = wave generator (m14 separation)
  private val vpercMarker = "_GRAFT_VPERC_V1"
  private val vperc2Marker = "_GRAFT_VPERC2_V1"
  private val cpercMarker = "_GRAFT_CPERC_V2" // V2 = cloud textures (region distinctness)
  private val apercMarker = "_GRAFT_APERC_V1"
  private val atrimMarker = "_GRAFT_ATRIM_V1"
  private val vtrimMarker = "_GRAFT_VTRIM_V1"
  private val opercMarker = "_GRAFT_OPERC_V1"
  private val rcpercMarker = "_GRAFT_RCPERC_V1"
  private val vdropMarker = "_GRAFT_VDROP_V1"
  private val vtdMarker = "_GRAFT_VTD_V1"

  def ensure(spark: SparkSession): Unit = if (!ready) synchronized {
    if (ready) return
    if (!new File(s"$assetsPath/_SUCCESS").exists() ||
        !new File(s"$assetsPath/$versionMarker").exists()) build(spark)
    if (!new File(s"$jpegPath/_SUCCESS").exists() ||
        !new File(s"$jpegPath/$jpegMarker").exists()) buildJpeg(spark)
    if (!new File(s"$pngPath/_SUCCESS").exists() ||
        !new File(s"$pngPath/$pngMarker").exists()) buildPng(spark)
    if (!new File(s"$gifPath/_SUCCESS").exists() ||
        !new File(s"$gifPath/$gifMarker").exists()) buildGif(spark)
    if (!new File(s"$percPath/_SUCCESS").exists() ||
        !new File(s"$percPath/$percMarker").exists()) buildPerc(spark)
    if (!new File(s"$mjpegPath/_SUCCESS").exists() ||
        !new File(s"$mjpegPath/$mjpegAviMarker").exists()) buildMjpeg(spark)
    if (!new File(s"$vpercPath/_SUCCESS").exists() ||
        !new File(s"$vpercPath/$vpercMarker").exists()) buildVPerc(spark)
    if (!new File(s"$vperc2Path/_SUCCESS").exists() ||
        !new File(s"$vperc2Path/$vperc2Marker").exists()) buildVPerc2(spark)
    if (!new File(s"$cpercPath/_SUCCESS").exists() ||
        !new File(s"$cpercPath/$cpercMarker").exists()) buildCPerc(spark)
    if (!new File(s"$apercPath/_SUCCESS").exists() ||
        !new File(s"$apercPath/$apercMarker").exists()) buildAPerc(spark)
    if (!new File(s"$atrimPath/_SUCCESS").exists() ||
        !new File(s"$atrimPath/$atrimMarker").exists()) buildATrim(spark)
    if (!new File(s"$vtrimPath/_SUCCESS").exists() ||
        !new File(s"$vtrimPath/$vtrimMarker").exists()) buildVTrim(spark)
    if (!new File(s"$opercPath/_SUCCESS").exists() ||
        !new File(s"$opercPath/$opercMarker").exists()) buildOPerc(spark)
    if (!new File(s"$rcpercPath/_SUCCESS").exists() ||
        !new File(s"$rcpercPath/$rcpercMarker").exists()) buildRCPerc(spark)
    if (!new File(s"$vdropPath/_SUCCESS").exists() ||
        !new File(s"$vdropPath/$vdropMarker").exists()) buildVDrop(spark)
    if (!new File(s"$vtdPath/_SUCCESS").exists() ||
        !new File(s"$vtdPath/$vtdMarker").exists()) buildVTD(spark)
    ready = true
  }

  def buildGif(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nGifs.toLong, 1, 4)
      .map(id => graft.operators.Multimodal.Asset(id, "gif", gifMedia(id)))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(gifPath)
    new File(s"$gifPath/$gifMarker").createNewFile()
  }

  def buildJpeg(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nJpegs.toLong, 1, 4)
      .map(id => graft.operators.Multimodal.Asset(id, "jpeg", jpegMedia(id)))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(jpegPath)
    new File(s"$jpegPath/$jpegMarker").createNewFile()
  }

  def buildPng(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    spark.range(0, nPngs.toLong, 1, 4)
      .map(id => graft.operators.Multimodal.Asset(id, "png", pngMedia(id)))
      .toDF("asset_id", "media_type", "media")
      .repartition(2)
      .write.mode("overwrite").parquet(pngPath)
    new File(s"$pngPath/$pngMarker").createNewFile()
  }

  def build(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.Graft.tune(spark)
    val assets = spark.range(0, nAssets.toLong, 1, 16).map { id =>
      graft.operators.Multimodal.Asset(id, mediaType(id), media(id))
    }
    // 8 files ≈ 16 MB each; 32 MB row groups keep one group per file —
    // at 100 TB the same block size gives ~3 groups per 128 MB split, so
    // a binary column chunk never straddles a task boundary.
    assets.toDF("asset_id", "media_type", "media")
      .repartition(8)
      .write.mode("overwrite")
      .option("parquet.block.size", (32 * 1024 * 1024).toString)
      .parquet(assetsPath)
    new File(s"$assetsPath/$versionMarker").createNewFile()
  }
}
