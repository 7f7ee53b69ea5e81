package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}
import graft.pipelines.MultimodalFixture

/** The perceptual image near-dup contracts (m11): a cross-format
  * re-encode (same pixels as GIF and PNG) shares ZERO byte chunks — so
  * the m4 chunk-fingerprint pipeline provably misses it — while the
  * dHash is bit-identical; dHash is robust to rescaling; and the
  * declared m11 query finds every planted pair at distance 0 through
  * the banded-Hamming machinery.
  */
class PerceptualDedupSpec extends SparkSpec {

  private def chunkMd5s(bytes: Array[Byte], ch: Int = 1024): Set[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until (bytes.length + ch - 1) / ch).map { i =>
      val end = math.min(bytes.length, (i + 1) * ch)
      md.reset()
      md.digest(java.util.Arrays.copyOfRange(bytes, i * ch, end))
        .map("%02x".format(_)).mkString
    }.toSet
  }

  test("cross-format duplicate: zero shared byte chunks, identical dHash") {
    for (g <- Seq(0L, 3L, 17L, 39L)) {
      val gif = MultimodalFixture.gifMedia(g)
      val png = MultimodalFixture.percMedia(g)
      // the byte domain m4 lives in sees nothing in common...
      assert(chunkMd5s(gif).intersect(chunkMd5s(png)).isEmpty,
        s"gif/png encodings of asset $g should share no 1 KiB chunk md5s")
      // ...while the perceptual domain sees the same picture exactly
      val dg = Multimodal.decodeImageAny(gif).get
      val dp = Multimodal.decodeImageAny(png).get
      assert(dg._1 == dp._1 && dg._2 == dp._2 &&
        java.util.Arrays.equals(dg._3, dp._3),
        s"lossless decode of both formats must agree on asset $g")
      assert(Multimodal.dHash64(dg._1, dg._2, dg._3) ==
        Multimodal.dHash64(dp._1, dp._2, dp._3))
    }
  }

  test("lossy re-encode: the JPEG copy lands within the m11 radius") {
    // the production case: the SAME picture re-encoded through a LOSSY
    // codec — quantization perturbs pixels, the dHash moves a few bits
    // at most, and the radius-7 banding still pairs it with the
    // original (byte-chunk dedup is hopeless here for the same reason
    // as the lossless cross-format pair)
    for (g <- Seq(2L, 9L, 31L)) {
      val (w, h) = MultimodalFixture.gifDims(g)
      val px = MultimodalFixture.gifPixels(g)
      val orig = Multimodal.dHash64(w, h, px)
      val jpeg = graft.sources.JpegBinary.encodeJpeg(w, h, px)
      val (jw, jh, jpx) = Multimodal.decodeImageAny(jpeg).get
      assert(jw == w && jh == h)
      val d = java.lang.Long.bitCount(orig ^ Multimodal.dHash64(jw, jh, jpx))
      assert(d <= 7, s"JPEG re-encode of asset $g drifted $d dHash bits")
      assert(chunkMd5s(MultimodalFixture.gifMedia(g))
        .intersect(chunkMd5s(jpeg)).isEmpty)
    }
  }

  test("dHash is stable under 2x downscale") {
    for (g <- Seq(1L, 7L, 23L)) {
      val (w, h) = MultimodalFixture.gifDims(g)
      val px = MultimodalFixture.gifPixels(g)
      val full = Multimodal.dHash64(w, h, px)
      // 2x2 box downscale (the resize-path shape): a rescaled copy of
      // the same picture must stay within a small Hamming radius
      val (hw, hh) = (w / 2, h / 2)
      val half = new Array[Byte](hw * hh * 3)
      for (y <- 0 until hh; x <- 0 until hw; c <- 0 until 3) {
        val s = ((2 * y * w + 2 * x) * 3 + c, (2 * y * w + 2 * x + 1) * 3 + c,
          ((2 * y + 1) * w + 2 * x) * 3 + c, ((2 * y + 1) * w + 2 * x + 1) * 3 + c)
        half((y * hw + x) * 3 + c) = (((px(s._1) & 0xff) + (px(s._2) & 0xff) +
          (px(s._3) & 0xff) + (px(s._4) & 0xff)) / 4).toByte
      }
      val down = Multimodal.dHash64(hw, hh, half)
      val d = java.lang.Long.bitCount(full ^ down)
      assert(d <= 10, s"downscaled dHash drifted $d bits for asset $g")
    }
  }

  test("edit-robustness envelope: what radius-7 catches and what it provably does not") {
    // The measured planted-edit → dHash-distance table (VERDICT r12
    // missing-d), over BOTH fixture content classes (flat web-safe
    // palette gifs; structured m14 wave frames):
    //   - brightness +16 (clamped): CAUGHT at radius 7 on both classes
    //     (max 3 / 0) — a uniform shift moves both sides of each block
    //     comparison together; only 255-clamped blocks can flip.
    //   - JPEG requality (q75): MOSTLY caught — ~72% within radius 7
    //     and max 9 on hard palette edges; always ≤7 on smooth content.
    //   - 10%-crop: CONTENT-DEPENDENT, and not reliably caught — on
    //     structured content every block pools a different region and
    //     the hash moves far beyond the radius (mean ≈14 bits); on
    //     very flat content orderings often survive (mean ≈6). Crops
    //     break dHash for real-world detailed images — the method's
    //     honest boundary (crop-robust matching needs keypoint/patch
    //     hashes, not a global grid).
    // These variants stay OUT of the declared m11 corpus: the lossy
    // variant's pair memberships against the gradient-dense corpus are
    // not SQL-replayable (the m12/m14 lesson), and the crop exists to
    // demonstrate distances beyond the radius.
    def d(base: Long, edited: Array[Byte]): Int = {
      val (w, h) = MultimodalFixture.gifDims(base)
      val orig = Multimodal.dHash64(w, h, MultimodalFixture.gifPixels(base))
      val (ew, eh, epx) = Multimodal.decodeImageAny(edited).get
      java.lang.Long.bitCount(orig ^ Multimodal.dHash64(ew, eh, epx))
    }
    val all = 0L until MultimodalFixture.nGifs.toLong
    val bright = all.map(g => d(g, MultimodalFixture.percBrightMedia(g)))
    val requal = all.map(g => d(g, MultimodalFixture.percRequalityMedia(g)))
    val crop = all.map(g => d(g, MultimodalFixture.percCropMedia(g)))
    info(f"flat palette — brightness+16: max=${bright.max} mean=${bright.sum / 40.0}%.1f")
    info(f"flat palette — jpeg-requality: max=${requal.max} mean=${requal.sum / 40.0}%.1f")
    info(f"flat palette — 10%%-crop: min=${crop.min} max=${crop.max} mean=${crop.sum / 40.0}%.1f")
    // the same edits over STRUCTURED content (the m14 wave frames):
    // crop robustness is content-dependent, so the envelope must be
    // measured on both classes
    def dw(id: Long, edit: (Int, Int, Array[Byte]) => (Int, Int, Array[Byte])): Int = {
      val (w, h) = MultimodalFixture.mjpegDims(id)
      val px = MultimodalFixture.mjpegFramePixels(id, 0)
      val orig = Multimodal.dHash64(w, h, px)
      val (ew, eh, epx) = edit(w, h, px)
      java.lang.Long.bitCount(orig ^ Multimodal.dHash64(ew, eh, epx))
    }
    def cropEdit(w: Int, h: Int, px: Array[Byte]): (Int, Int, Array[Byte]) = {
      val (x0, y0) = (w / 10, h / 10)
      val (cw, chh) = (w - 2 * x0, h - 2 * y0)
      val out = new Array[Byte](cw * chh * 3)
      for (y <- 0 until chh)
        System.arraycopy(px, ((y + y0) * w + x0) * 3, out, y * cw * 3, cw * 3)
      (cw, chh, out)
    }
    val waves = 0L until MultimodalFixture.nMjpegs.toLong
    val wCrop = waves.map(i => dw(i, cropEdit))
    val wBright = waves.map(i => dw(i, (w, h, px) =>
      (w, h, px.map(b => math.min(255, (b & 0xff) + 16).toByte))))
    info(f"structured waves — brightness+16: max=${wBright.max}")
    info(f"structured waves — 10%%-crop: min=${wCrop.min} mean=${wCrop.sum.toDouble / wCrop.size}%.1f")
    // CAUGHT at radius 7: brightness on both content classes (a uniform
    // shift moves both sides of each block comparison together; only
    // 255-clamped blocks can flip)
    assert(bright.max <= 7 && wBright.max <= 7,
      s"brightness envelope grew: ${bright.max}/${wBright.max}")
    // MOSTLY caught: requality — measured ~72% within radius 7 and max
    // 9 on hard-edged palette content (quantization ringing at the
    // 6-step color edges), always ≤7 on smooth content (the 'lossy
    // re-encode' test above); the honest statement is 'radius 7
    // catches smooth-content re-encodes; palette edges can drift to
    // ~9, where radius-15/bands-16 (the m14 config) still catches
    // them'
    assert(requal.max <= 12, s"requality envelope grew: max=${requal.max}")
    assert(requal.count(_ <= 7) * 10 >= requal.size * 7,
      s"requality within radius collapsed below 70%")
    // NOT reliably caught: crop. On structured content a 10% crop
    // shifts every block's pooled region and the hash moves far beyond
    // any usable radius (measured mean ≈ 20 bits on the wave frames);
    // on very flat palette content the orderings often survive
    // (measured mean ≈ 6). Crops break dHash for real-world detailed
    // images — the method's honest boundary; crop-robust matching
    // needs keypoint/patch hashes, not a global grid.
    assert(wCrop.sum.toDouble / wCrop.size >= 10,
      s"structured-content crop distance collapsed: ${wCrop.mkString(",")}")
  }

  test("m17 declared query: planted crops caught at 0 via region windows; the global dHash provably misses every one") {
    // The crop rung (round 14): the global-grid hash cannot catch a
    // crop on structured content (the envelope test above), the
    // overlapping region-window family can — because the crop's full
    // pixel surface IS one of the base's family windows.
    val found = SparkEntry.queries("m17_crop_perceptual_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = MultimodalFixture.nMjpegs.toLong
    for (i <- 0L until n) {
      val base = MultimodalFixture.CPercBaseOffset + i
      // both planted crops pair with their base at EXACTLY 0
      for (crop <- Seq(MultimodalFixture.CPercCenterOffset + i,
          MultimodalFixture.CPercTlOffset + i))
        assert(found.get((base, crop)).contains(0L),
          s"planted crop pair ($base,$crop) missing or nonzero: ${found.get((base, crop))}")
      // ...while the SINGLE global dHash (the m11 operator) sits far
      // beyond the radius for the same pairs — the miss m17 closes
      val (w, h, px) = MultimodalFixture.cpercBasePixels(i)
      val gBase = Multimodal.dHash64(w, h, px)
      for (cropMedia <- Seq(MultimodalFixture.cpercCenterMedia(i),
          MultimodalFixture.cpercTlMedia(i))) {
        val (cw, ch, cpx) = Multimodal.decodeImageAny(cropMedia).get
        val d = java.lang.Long.bitCount(gBase ^ Multimodal.dHash64(cw, ch, cpx))
        assert(d > 7, s"global dHash caught the crop of asset $i at $d bits " +
          "- the m17 demonstration corpus lost its miss class")
      }
      // byte domain: crop vs base chunk Jaccard far below m4's threshold
      val cb = chunkMd5s(MultimodalFixture.cpercBaseMedia(i))
      val cc = chunkMd5s(MultimodalFixture.cpercCenterMedia(i))
      val inter = cb.intersect(cc).size
      assert(inter.toDouble / (cb.size + cc.size - inter) < 0.5,
        s"chunk Jaccard for asset $i crop reaches m4's threshold")
    }
    // no CROSS-PICTURE pair survives the radius: every reported pair
    // is a base/crop or crop/crop relation of ONE picture (the
    // crop-crop siblings are genuinely the same image — two windows of
    // it — and finding most of them through overlapping regions is the
    // operator working, not noise)
    for (((a, b), _) <- found)
      assert(a % 1000 == b % 1000,
        s"cross-picture pair ($a,$b) inside the radius")
  }

  test("m17 off-grid crops: region matching degrades with distance from the window grid — measured, not assumed") {
    // The region family's honest boundary: a crop cut EXACTLY on the
    // window grid reproduces a family window (distance 0, the m17
    // contract); a crop at an in-between offset/scale lands NEAR the
    // closest window, not on it. Measure the min-over-region-cross-
    // product distance for off-grid crops of the cloud textures.
    def regionHashes(w: Int, h: Int, px: Array[Byte]): Seq[Long] =
      Multimodal.regionWindows(w, h).collect {
        case (_, rx, ry, rw, rh) if rw >= 9 && rh >= 8 =>
          Multimodal.dHash64Region(w, px, rx, ry, rw, rh)
      }
    def minCross(a: Seq[Long], b: Seq[Long]): Int =
      (for (x <- a; y <- b) yield java.lang.Long.bitCount(x ^ y)).min
    def innerCrop(w: Int, h: Int, px: Array[Byte],
        num: Int, den: Int): (Int, Int, Array[Byte]) = {
      val (x0, y0) = (w * num / den, h * num / den)
      val (cw, ch) = (w - 2 * x0, h - 2 * y0)
      val out = new Array[Byte](cw * ch * 3)
      for (y <- 0 until ch)
        System.arraycopy(px, ((y + y0) * w + x0) * 3, out, y * cw * 3, cw * 3)
      (cw, ch, out)
    }
    val n = MultimodalFixture.nMjpegs.toLong
    def distsAt(num: Int, den: Int): Seq[Int] = (0L until n).map { i =>
      val (w, h, px) = MultimodalFixture.cpercBasePixels(i)
      val base = regionHashes(w, h, px)
      val (cw, ch, cpx) = innerCrop(w, h, px, num, den)
      minCross(base, regionHashes(cw, ch, cpx))
    }
    val on10 = distsAt(1, 10)   // ON the grid (region 1) — the contract
    val off7 = distsAt(7, 100)  // 7% inner crop — 3% of w off-grid
    val off13 = distsAt(13, 100) // 13% — between the 10% and 20% rungs
    val off16 = distsAt(16, 100) // 16% — 4% from the 20% rung
    info(s"on-grid 10%: max=${on10.max}")
    info(s"off-grid 7%: min=${off7.min} max=${off7.max} " +
      s"within7=${off7.count(_ <= 7)}/12")
    info(s"off-grid 13%: min=${off13.min} max=${off13.max} " +
      s"within7=${off13.count(_ <= 7)}/12")
    info(s"off-grid 16%: min=${off16.min} max=${off16.max} " +
      s"within7=${off16.count(_ <= 7)}/12")
    assert(on10.max == 0, s"grid-aligned crop drifted: max=${on10.max}")
    // pinned from measurement: on this smooth content class the
    // overlapping multi-scale family covers the ENTIRE 7-16% inner-crop
    // band within radius 7 (measured max 6 at every probe point — the
    // nearest window differs by ≤4% of the surface and block pooling
    // absorbs it). The honest caveat is CONTENT, not geometry: sharp
    // repetitive detail at the window boundary can flip more block
    // orderings than these textures do — keypoint anchoring remains
    // the rung above, for arbitrary-offset crops of arbitrary content.
    for ((name, ds) <- Seq(("7%", off7), ("13%", off13), ("16%", off16)))
      assert(ds.max <= 7,
        s"$name off-grid crops left radius 7: ${ds.mkString(",")}")
  }

  test("m22 declared query: rotated/mirrored reposts at exactly 0 by group closure; dHash misses them, the region family at best grazes the radius") {
    // o = 0 is the plain dHash by construction
    for (i <- 0L until MultimodalFixture.nOPercs.toLong) {
      val (w, h, px) = MultimodalFixture.opercBasePixels(i)
      assert(Multimodal.dHash64Oriented(w, h, px, 0) ==
        Multimodal.dHash64(w, h, px), s"orientation 0 of $i != dHash64")
    }
    // the misses m22 exists to close, MEASURED: the global dHash and
    // the m17 region family both pool a permuted picture for every
    // window — distances land far beyond any usable radius
    def regionHashes(w: Int, h: Int, px: Array[Byte]): Seq[Long] =
      Multimodal.regionWindows(w, h).collect {
        case (_, rx, ry, rw, rh) if rw >= 9 && rh >= 8 =>
          Multimodal.dHash64Region(w, px, rx, ry, rw, rh)
      }
    def minCross(a: Seq[Long], b: Seq[Long]): Int =
      (for (x <- a; y <- b) yield java.lang.Long.bitCount(x ^ y)).min
    def decode(m: Array[Byte]) =
      graft.sources.MediaBinary.decodeBmp(m).get
    var dHashMiss = Int.MaxValue
    var regionMiss = Int.MaxValue
    for (i <- 0L until MultimodalFixture.nOPercs.toLong) {
      val (w, h, px) = MultimodalFixture.opercBasePixels(i)
      for (tw <- Seq(MultimodalFixture.opercRotMedia(i),
          MultimodalFixture.opercFlipMedia(i))) {
        val t = decode(tw)
        dHashMiss = math.min(dHashMiss, java.lang.Long.bitCount(
          Multimodal.dHash64(w, h, px) ^
            Multimodal.dHash64(t.width, t.height, t.pixels)))
        regionMiss = math.min(regionMiss, minCross(
          regionHashes(w, h, px),
          regionHashes(t.width, t.height, t.pixels)))
      }
    }
    info(s"closest rot/flip twin: global dHash $dHashMiss bits, " +
      s"region-family min $regionMiss bits")
    assert(dHashMiss > 7, s"global dHash caught an orientation twin " +
      s"at $dHashMiss - the m22 demonstration corpus lost its miss class")
    // the region family has NO structural orientation robustness — its
    // closest twin measures exactly AT the demo radius (min 7, one
    // lucky smooth-texture window pair; every other twin is beyond
    // it), so relying on it for rotations would be content luck where
    // m22's group closure is an identity
    assert(regionMiss >= 6 && regionMiss <= 24,
      s"region-family orientation envelope moved: $regionMiss")
    // the declared query: every base/rot, base/flip AND rot/flip
    // sibling pair at EXACTLY 0 (group closure — the rot and flip of
    // one picture are dihedral-related to each other too), nothing else
    val found = SparkEntry.queries("m22_orient_perceptual_neardups")(spark, "")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    val expected = (0L until MultimodalFixture.nOPercs.toLong).flatMap { i =>
      Seq(
        ((MultimodalFixture.OPercBaseOffset + i,
          MultimodalFixture.OPercRotOffset + i), 0L),
        ((MultimodalFixture.OPercBaseOffset + i,
          MultimodalFixture.OPercFlipOffset + i), 0L),
        ((MultimodalFixture.OPercRotOffset + i,
          MultimodalFixture.OPercFlipOffset + i), 0L))
    }.toSet
    assert(found == expected,
      s"m22 mismatch: missing=${expected.diff(found).toSeq.sortBy(_._1).take(5)} " +
        s"extra=${found.diff(expected).toSeq.sortBy(_._1).take(5)}")
    // the orientation and re-encode axes COMPOSE: a rotated repost
    // re-encoded in a different LOSSLESS container (the m11 class on
    // top of the m22 class — BMP original, PNG rotated copy, zero
    // shared bytes) still matches at exactly 0, because orientDHash is
    // container-magic-sniffed and group closure is a pixel identity
    import spark.implicits._
    def orientHashes(media: Array[Byte]): Seq[Long] = {
      val ds = Seq(Multimodal.Asset(0L, "image", media)).toDS()
      Multimodal.orientDHash(ds).collect().map(_.dhash).toSeq
    }
    for (i <- Seq(0L, 4L, 9L)) {
      val rot = decode(MultimodalFixture.opercRotMedia(i))
      val rotPng = graft.sources.PngBinary.encodePng(
        rot.width, rot.height, rot.pixels)
      assert(minCross(orientHashes(MultimodalFixture.opercBaseMedia(i)),
        orientHashes(rotPng)) == 0,
        s"rotation+re-encode composition of picture $i not at 0")
    }
  }

  test("m24 declared query: rotated-crop compositions at exactly 0 via the union family; m17 and m22 each provably miss every one") {
    def decode(m: Array[Byte]) =
      graft.sources.MediaBinary.decodeBmp(m).get
    def regionHashes(w: Int, h: Int, px: Array[Byte]): Seq[Long] =
      Multimodal.regionWindows(w, h).collect {
        case (_, rx, ry, rw, rh) if rw >= 9 && rh >= 8 =>
          Multimodal.dHash64Region(w, px, rx, ry, rw, rh)
      }
    def orientHashes(w: Int, h: Int, px: Array[Byte]): Seq[Long] =
      (0 until 8).collect {
        case o if (if ((o & 1) == 0) w >= 9 && h >= 8
                   else h >= 9 && w >= 8) =>
          Multimodal.dHash64Oriented(w, h, px, o)
      }
    def minCross(a: Seq[Long], b: Seq[Long]): Int =
      (for (x <- a; y <- b) yield java.lang.Long.bitCount(x ^ y)).min
    // the one-axis-at-a-time blindness m24 exists to close, MEASURED
    // per composed twin: the m17 region family assumes UPRIGHT content
    // (every window of a rotated crop pools a permuted picture) and
    // the m22 orientation family hashes the FULL frame (every
    // orientation of a crop pools a shifted grid) — each must leave
    // every planted composition beyond its radius 7
    var m17Miss = Int.MaxValue
    var m22Miss = Int.MaxValue
    for (i <- 0L until MultimodalFixture.nRCPercs.toLong) {
      val (w, h, px) = MultimodalFixture.rcpercBasePixels(i)
      for (tw <- Seq(MultimodalFixture.rcpercRotTlMedia(i),
          MultimodalFixture.rcpercFlipCenterMedia(i))) {
        val t = decode(tw)
        m17Miss = math.min(m17Miss, minCross(
          regionHashes(w, h, px),
          regionHashes(t.width, t.height, t.pixels)))
        m22Miss = math.min(m22Miss, minCross(
          orientHashes(w, h, px),
          orientHashes(t.width, t.height, t.pixels)))
      }
    }
    info(s"closest composed twin: m17 region family $m17Miss bits, " +
      s"m22 orientation family $m22Miss bits")
    assert(m17Miss > 7, s"the m17 region family caught a composed twin " +
      s"at $m17Miss - the m24 corpus lost its miss class")
    assert(m22Miss > 7, s"the m22 orientation family caught a composed " +
      s"twin at $m22Miss - the m24 corpus lost its miss class")
    // the union family closes it as an IDENTITY: family windows map to
    // family windows under every dihedral g, so the base's upright
    // region row equals the twin's inverse-orientation full-frame row
    // bit for bit — every planted composition at exactly 0
    val found = SparkEntry.queries("m24_rotcrop_perceptual_neardups")(spark, "")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (i <- 0L until MultimodalFixture.nRCPercs.toLong) {
      assert(found.get((MultimodalFixture.RCPercBaseOffset + i,
        MultimodalFixture.RCPercRotTlOffset + i)).contains(0L),
        s"rot-TL composition of picture $i not at 0")
      assert(found.get((MultimodalFixture.RCPercBaseOffset + i,
        MultimodalFixture.RCPercFlipCenterOffset + i)).contains(0L),
        s"flip-center composition of picture $i not at 0")
    }
    // the complete radius-7 pair table beyond the 20 planted rows,
    // PINNED: two same-base sibling crop pairs (the two twins of one
    // base share most of their pre-image and legitimately pair — the
    // m19 sibling precedent) and ONE cross-base graze at 5 bits
    // (96004≈96005: two unrelated smooth textures' rot-TL crops — the
    // measured content-class boundary of a 14×14-sample minimum over
    // cloud textures, the m22 region-grazing precedent; the oracle
    // replays it exactly, so both engines agree on the full set)
    val extras = found.keySet -- (0L until MultimodalFixture.nRCPercs.toLong)
      .flatMap { i =>
        Seq((MultimodalFixture.RCPercBaseOffset + i,
          MultimodalFixture.RCPercRotTlOffset + i),
          (MultimodalFixture.RCPercBaseOffset + i,
            MultimodalFixture.RCPercFlipCenterOffset + i))
      }.toSet
    assert(extras == Set(
      (MultimodalFixture.RCPercRotTlOffset + 1,
        MultimodalFixture.RCPercFlipCenterOffset + 1),
      (MultimodalFixture.RCPercRotTlOffset + 8,
        MultimodalFixture.RCPercFlipCenterOffset + 8),
      (MultimodalFixture.RCPercRotTlOffset + 4,
        MultimodalFixture.RCPercRotTlOffset + 5)),
      s"m24 extra-pair envelope moved: $extras")
    // m26 — the APPLY at the PRODUCTION radius 3: the grazes above fall
    // outside the radius (they measure 5-7 bits), the exact-0 planted
    // compositions remain, so the closure ships exactly one component
    // per picture with the base id as canonical — no cross-picture
    // merge (the consequence the radius-7 graze would have had)
    val clusters = SparkEntry.queries("m26_rotcrop_dedup_clusters")(spark, "")
      .collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    val wantClusters = (0L until MultimodalFixture.nRCPercs.toLong)
      .flatMap { i =>
        val base = MultimodalFixture.RCPercBaseOffset + i
        Seq(base -> base,
          (MultimodalFixture.RCPercRotTlOffset + i) -> base,
          (MultimodalFixture.RCPercFlipCenterOffset + i) -> base)
      }.toMap
    assert(clusters == wantClusters,
      s"m26 components moved: ${clusters.toSeq.sorted.take(6)}")
  }

  test("m11 declared query: every planted cross-format pair found at distance 0; m4's pipeline finds none of them") {
    val df = SparkEntry.queries("m11_perceptual_neardups")(spark, "")
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (g <- 0L until MultimodalFixture.nGifs.toLong) {
      val key = (g, g + MultimodalFixture.PercIdOffset)
      assert(pairs.get(key).contains(0L),
        s"planted cross-format pair $key missing or nonzero: ${pairs.get(key)}")
    }
    // the chunk-fingerprint pipeline over the SAME corpus reports no
    // cross-format pair — the gap m11 exists to close
    val corpus = spark.read.parquet(MultimodalFixture.gifPath)
      .unionByName(spark.read.parquet(MultimodalFixture.percPath))
      .select(col("asset_id").cast("long").as("doc_id"),
        Multimodal.chunkFingerprintDoc(col("media"), 1024).as("chunks"))
    val m4Style = Dedup.minhashNearDups(corpus, "doc_id", "chunks",
      k = 32, bands = 16, shingleSize = 1, threshold = 0.5)
    val crossPairs = m4Style
      .filter(col("id2") - col("id1") === MultimodalFixture.PercIdOffset)
      .count()
    assert(crossPairs == 0L,
      s"byte-chunk dedup should miss every re-encoded pair, found $crossPairs")
  }
}
