package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}
import graft.pipelines.MultimodalFixture
import graft.sources.MediaBinary

/** The perceptual VIDEO and AUDIO near-dup contracts (m14/m15 — the
  * rungs that close the image/video/audio modality matrix):
  *
  *   - a cross-CODEC video pair (the same frames as uncompressed-DIB
  *     vs MJPEG) and a cross-RESOLUTION pair (2× downscale) share ZERO
  *     byte chunks — the m4 chunk pipeline provably misses every one —
  *     while the temporal frame-dHash signature stays within a small
  *     per-slot radius;
  *   - the measured separation the m14 oracle's planted-ground-truth
  *     arm rests on is PINNED here: planted pairs' worst sampled slot
  *     ≤ 8 bits, closest unrelated pair ≥ 25 — so radius 15 splits
  *     with margin on both sides, and any codec/hash change that
  *     erodes the split fails loudly in `sbt test` before the oracle;
  *   - a gain-halved or requantized audio twin shares zero bytes with
  *     its base while the 65-window amplitude-delta sign hash is
  *     bit-identical (measured distance 0), and unrelated audio sits
  *     ≥ 22 bits away;
  *   - the declared m14/m15 queries find exactly the planted pairs
  *     through the banded machinery.
  */
class VideoAudioPerceptualSpec extends SparkSpec {

  private def chunkMd5s(bytes: Array[Byte], ch: Int = 1024): Set[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until (bytes.length + ch - 1) / ch).map { i =>
      val end = math.min(bytes.length, (i + 1) * ch)
      md.reset()
      md.digest(java.util.Arrays.copyOfRange(bytes, i * ch, end))
        .map("%02x".format(_)).mkString
    }.toSet
  }

  /** The round-14 duration-fraction geometry (videoDHash): ALWAYS k
    * slots, slot i = the frame covering time fraction i/k.
    */
  private def frameHashes(bytes: Array[Byte], k: Int = 4): Seq[Long] = {
    val m = MediaBinary.decodeAviMeta(bytes).get
    (0 until k).map { i =>
      val idx = (m.nFrames.toLong * i / k).toInt
      Multimodal.dHash64(m.width, m.height,
        MediaBinary.aviFramePixels(bytes, m, idx))
    }
  }

  private def worstSlot(a: Seq[Long], b: Seq[Long]): Int = {
    require(a.size == b.size)
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.max
  }

  /** The round-15 span-slot geometry (videoSpanDHash): k slots within
    * each span of the fixed family.
    */
  private def spanSlotHashes(bytes: Array[Byte], k: Int = 4): Map[(Int, Int), Long] = {
    val m = MediaBinary.decodeAviMeta(bytes).get
    (for {
      (sp, aN, bN) <- Multimodal.audioSpans
      s0 = (m.nFrames.toLong * aN / 100).toInt
      nfs = (m.nFrames.toLong * bN / 100).toInt - s0
      if nfs >= 1
      i <- 0 until k
    } yield (sp, i) -> Multimodal.dHash64(m.width, m.height,
      MediaBinary.aviFramePixels(bytes, m,
        s0 + (nfs.toLong * i / k).toInt))).toMap
  }

  /** Minimum over span pairs of the worst aligned slot — the
    * spanTemporalNearDupsSig pairing rule, locally.
    */
  private def minWorst(a: Map[(Int, Int), Long], b: Map[(Int, Int), Long]): Int = {
    val spansA = a.keys.map(_._1).toSeq.distinct
    val spansB = b.keys.map(_._1).toSeq.distinct
    (for (sa <- spansA; sb <- spansB) yield
      (0 until 4).map(i => java.lang.Long.bitCount(
        a((sa, i)) ^ b((sb, i)))).max).min
  }

  test("video cross-codec + cross-resolution + cross-fps twins: zero shared byte chunks, tiny temporal distance") {
    for (i <- Seq(0L, 3L, 6L, 11L)) {
      val dib = MultimodalFixture.vpercDibMedia(i)
      val down = MultimodalFixture.vpercDownMedia(i)
      val mj = MultimodalFixture.mjpegMedia(i)
      val x2 = MultimodalFixture.vperc2xMedia(i)
      // the byte domain m4 lives in sees nothing in common across any
      // planted lane pair...
      assert(chunkMd5s(dib).intersect(chunkMd5s(mj)).isEmpty,
        s"DIB/MJPEG encodings of clip $i should share no chunk md5s")
      assert(chunkMd5s(dib).intersect(chunkMd5s(down)).isEmpty,
        s"full/downscaled encodings of clip $i should share no chunk md5s")
      // the fps twin is raw DIB of the SAME pixels (chosen so the m18
      // oracle can replay it), so unlike a codec re-encode it keeps
      // byte runs and a few chunk-aligned windows coincide — the honest
      // byte-domain claim is that chunk Jaccard stays well under the
      // m4 pipeline's 0.5 threshold, not that it is zero
      val (cd, c2) = (chunkMd5s(dib), chunkMd5s(x2))
      val inter = cd.intersect(c2).size
      val jac = inter.toDouble / (cd.size + c2.size - inter)
      assert(jac < 0.5,
        s"full/double-rate chunk Jaccard $jac for clip $i reaches m4's threshold")
      // ...while the temporal perceptual signature barely moves —
      // and the fps pair is EXACT: duration-fraction slot i of both
      // encodings is the same content frame
      assert(worstSlot(frameHashes(dib), frameHashes(mj)) <= 8,
        s"cross-codec worst slot for clip $i exceeds the pinned bound")
      assert(worstSlot(frameHashes(dib), frameHashes(down)) <= 8,
        s"cross-resolution worst slot for clip $i exceeds the pinned bound")
      assert(worstSlot(frameHashes(dib), frameHashes(x2)) == 0,
        s"cross-fps worst slot for clip $i should be exactly 0")
    }
  }

  test("m14/m18 separation envelope: planted worst slot <= 8, unrelated pairs >= 25 bits apart") {
    // Under the round-14 duration-fraction geometry EVERY clip emits 4
    // slots, so clips of differing frame counts — previously never
    // comparable — now enter the measurement too; the envelope must
    // hold over the full cross product of all four lanes (DIB,
    // downscaled, MJPEG, frame-duplicated double-rate).
    val n = MultimodalFixture.nMjpegs
    val lanes = Seq(
      (0 until n).map(i => frameHashes(MultimodalFixture.vpercDibMedia(i))),
      (0 until n).map(i => frameHashes(MultimodalFixture.vpercDownMedia(i))),
      (0 until n).map(i => frameHashes(MultimodalFixture.mjpegMedia(i))),
      (0 until n).map(i => frameHashes(MultimodalFixture.vperc2xMedia(i))))
    var plantedMax = 0
    var unrelatedMin = Int.MaxValue
    for (la <- lanes.indices; lb <- lanes.indices; i <- 0 until n;
         j <- 0 until n
         if la < lb || (la == lb && i < j)) {
      val d = worstSlot(lanes(la)(i), lanes(lb)(j))
      if (la != lb && i == j) plantedMax = math.max(plantedMax, d)
      else unrelatedMin = math.min(unrelatedMin, d)
    }
    // radius 15 sits strictly inside [plantedMax, unrelatedMin): the
    // measured split the m14 oracle's MJPEG ground-truth arm rests on
    assert(plantedMax <= 8, s"planted worst slot grew to $plantedMax")
    assert(unrelatedMin >= 25, s"unrelated worst slot shrank to $unrelatedMin")
  }

  test("m18 declared query: exactly the planted fps/resolution triples; the old frame-count geometry missed the nf<4 fps pairs") {
    val found = SparkEntry.queries("m18_video_fps_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = MultimodalFixture.nMjpegs.toLong
    val planted = (0L until n).flatMap { i =>
      Seq(
        (MultimodalFixture.VPercDibOffset + i, MultimodalFixture.VPercDownOffset + i),
        (MultimodalFixture.VPercDibOffset + i, MultimodalFixture.VPerc2xOffset + i),
        (MultimodalFixture.VPercDownOffset + i, MultimodalFixture.VPerc2xOffset + i))
    }.toSet
    assert(found == planted,
      s"m18 mismatch: missing=${planted.diff(found).toSeq.sorted.take(5)} " +
        s"extra=${found.diff(planted).toSeq.sorted.take(5)}")
    // the round-13 geometry (slot count = min(k, nFrames)) emitted
    // DIFFERING slot counts for the nf<4 clips vs their frame-doubled
    // twins, so the equal-count rule made those pairs structurally
    // invisible — the boundary this round closes; prove the corpus
    // actually exercises it
    val short = (0L until n).filter(MultimodalFixture.mjpegFrameCount(_) < 4)
    assert(short.nonEmpty, "fixture lost its nf<4 clips")
    for (i <- short) {
      val nf = MultimodalFixture.mjpegFrameCount(i)
      assert(math.min(4, nf) != math.min(4, 2 * nf),
        s"clip $i no longer demonstrates the old slot-count mismatch")
      assert(found.contains(
        (MultimodalFixture.VPercDibOffset + i, MultimodalFixture.VPerc2xOffset + i)),
        s"nf=$nf fps pair for clip $i not caught")
    }
  }

  test("m20 declared query: planted video trims at 0 via the span family; the full-duration geometry misses them") {
    val found = SparkEntry.queries("m20_video_trim_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = MultimodalFixture.nVTrims.toLong
    for (i <- 0L until n) {
      val base = MultimodalFixture.VTrimBaseOffset + i
      for (off <- Seq(MultimodalFixture.VTrimBothOffset,
          MultimodalFixture.VTrimHeadOffset)) {
        // the span family catches each grid-cut trim at EXACTLY 0...
        assert(found.get((base, off + i)).contains(0L),
          s"planted trim pair ($base,${off + i}) missing or nonzero: " +
            s"${found.get((base, off + i))}")
        // ...where m14/m18's full-duration slot geometry lands on
        // DIFFERENT frames (independent textures) — the blind class
        // this query exists to close
        val w = worstSlot(
          frameHashes(MultimodalFixture.vtrimBaseMedia(i)),
          frameHashes(off match {
            case MultimodalFixture.VTrimBothOffset =>
              MultimodalFixture.vtrimSpanMedia(i, 5, 95)
            case _ => MultimodalFixture.vtrimSpanMedia(i, 10, 100)
          }))
        assert(w > 15, s"full-duration geometry caught the trim of $i " +
          s"at worst slot $w - the m20 demonstration corpus lost its " +
          "miss class")
      }
    }
    // no CROSS-CLIP pair inside the radius: every reported pair relates
    // cuts of ONE base clip (the both/head siblings genuinely are the
    // same clip and pairing most of them is the operator working)
    for (((a, b), _) <- found)
      assert(a % 1000 == b % 1000, s"cross-clip pair ($a,$b) inside radius")
  }

  test("m25 declared query: half-rate drops of correlated content at exactly 0; phase-shifted drops stay within the radius there and far beyond it on independent textures") {
    // (a) the declared lane: at nf ≡ 0 (mod 8) every duration-fraction
    // slot frame of the base is even, so the phase-0 half-rate twin's
    // slot frames are the IDENTICAL retained frames — per-slot 0 by
    // frame identity, content class irrelevant for the planted pairs
    val found = SparkEntry.queries("m25_video_framedrop_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until MultimodalFixture.nVDrops.toLong).map { i =>
      (MultimodalFixture.VDropBaseOffset + i,
        MultimodalFixture.VDropHalfOffset + i)
    }.toSet
    assert(found == expected,
      s"m25 mismatch: missing=${expected.diff(found).toSeq.sorted.take(5)} " +
        s"extra=${found.diff(expected).toSeq.sorted.take(5)}")
    for (i <- 0L until MultimodalFixture.nVDrops.toLong)
      assert(worstSlot(frameHashes(MultimodalFixture.vdropBaseMedia(i)),
        frameHashes(MultimodalFixture.vdropHalfMedia(i))) == 0,
        s"phase-0 drop of clip $i not at per-slot 0")
    // (b) the CONTENT-CLASS claim m18's scaladoc made, measured: a
    // PHASE-SHIFTED drop (keep odd frames) puts every slot one frame
    // off. On the correlated vdrop content (static background, ≤1-px
    // rectangle motion per frame) the worst slot stays within the
    // radius-15 gate; on vtrim's per-frame-INDEPENDENT cloud textures
    // the same one-frame offset jumps to unrelated-pair distances.
    val corr = (0L until MultimodalFixture.nVDrops.toLong).map { i =>
      worstSlot(frameHashes(MultimodalFixture.vdropBaseMedia(i)),
        frameHashes(MultimodalFixture.vdropHalfMedia(i, phase = 1)))
    }
    def indepDrop(i: Long): Array[Byte] = {
      val (w, h) = MultimodalFixture.vtrimDims(i)
      val nf = MultimodalFixture.vtrimFrameCount(i)
      MediaBinary.encodeAvi(w, h, MultimodalFixture.AviUsPerFrame * 2,
        Array.tabulate((nf - 1 + 1) / 2)(j =>
          MultimodalFixture.vtrimFramePixels(i, 1 + 2 * j)))
    }
    val indep = (0L until MultimodalFixture.nVTrims.toLong).map { i =>
      worstSlot(frameHashes(MultimodalFixture.vtrimBaseMedia(i)),
        frameHashes(indepDrop(i)))
    }
    info(s"phase-1 drop worst slots: correlated " +
      s"min=${corr.min} max=${corr.max} | independent " +
      s"min=${indep.min} max=${indep.max}")
    assert(corr.max <= 15, s"correlated phase-shifted drops left the " +
      s"radius: ${corr.mkString(",")}")
    assert(indep.min > 15, s"independent-texture drop unexpectedly " +
      s"within radius: ${indep.mkString(",")} - the boundary lane " +
      s"lost its miss class")
  }

  test("the trim and fps axes COMPOSE: a trimmed-then-frame-doubled re-encode still matches at 0 through the span family") {
    // the robustness matrix is only as good as its compositions: a
    // repost that is BOTH clipped (m20's class) and re-encoded at a
    // doubled frame rate (m18's class) must still land at 0 — and it
    // does by construction, because videoSpanDHash's slots are
    // duration fractions WITHIN each span (floor(floor(2·nfs·i/k)/2) =
    // floor(nfs·i/k), the m18 identity applied inside the span)
    for (i <- Seq(0L, 3L, 7L)) {
      val base = MultimodalFixture.vtrimBaseMedia(i)
      // the both-5% trim, then every frame doubled at half usPerFrame
      // (the vperc2 re-encode applied to the trimmed clip)
      val trimmed = MediaBinary.decodeAviMeta(
        MultimodalFixture.vtrimSpanMedia(i, 5, 95)).get
      val tbytes = MultimodalFixture.vtrimSpanMedia(i, 5, 95)
      val frames = Array.tabulate(2 * trimmed.nFrames)(k =>
        MediaBinary.aviFramePixels(tbytes, trimmed, k / 2))
      val composed = MediaBinary.encodeAvi(trimmed.width, trimmed.height,
        MultimodalFixture.AviUsPerFrame / 2, frames)
      assert(minWorst(spanSlotHashes(base), spanSlotHashes(composed)) == 0,
        s"trim+fps composition of clip $i not at 0")
    }
  }

  test("m27 declared query: trim-AND-frame-drop compositions at exactly 0 through the span family; the full-duration geometry misses every one") {
    // The OTHER composition of the matrix: clipped (m20's class) AND
    // downsampled to half rate (m25's class). No new family — spans
    // absorb the trim and the rate-free slot fractions absorb the
    // drop; the vtd lane's alignment arithmetic (nf ≡ 0 mod 10 ⇒ the
    // (10,90) span length 4nf/5 ≡ 0 mod 8 ⇒ base span-2 slot offsets
    // nfs·i/4 even and equal 2·⌊(nfs/2)·i/4⌋) makes the twin's
    // full-span slots the IDENTICAL base frames.
    val found = SparkEntry.queries("m27_video_trimdrop_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = MultimodalFixture.nVTDs.toLong
    val expected = (0L until n).map { i =>
      (MultimodalFixture.VTDBaseOffset + i, MultimodalFixture.VTDDropOffset + i)
    }.toSet
    assert(found.keySet == expected,
      s"m27 mismatch: missing=${expected.diff(found.keySet).toSeq.sorted.take(5)} " +
        s"extra=${found.keySet.diff(expected).toSeq.sorted.take(5)}")
    for (i <- 0L until n) {
      val pair = (MultimodalFixture.VTDBaseOffset + i,
        MultimodalFixture.VTDDropOffset + i)
      // exact 0 — integer alignment, no approximation arm
      assert(found(pair) == 0L, s"composition pair $pair at ${found(pair)}")
      // the alignment claim itself, frame for frame
      assert(minWorst(spanSlotHashes(MultimodalFixture.vtdBaseMedia(i)),
        spanSlotHashes(MultimodalFixture.vtdDropMedia(i))) == 0,
        s"span-family alignment of clip $i not at 0")
      // ...and the full-duration family (m14/m18/m25) lands on
      // DIFFERENT frames — trim shifts its anchors, independent
      // textures put them far: the miss class this lane declares
      val w = worstSlot(frameHashes(MultimodalFixture.vtdBaseMedia(i)),
        frameHashes(MultimodalFixture.vtdDropMedia(i)))
      assert(w > 15, s"full-duration geometry caught the trim∘drop of " +
        s"$i at worst slot $w - the m27 corpus lost its miss class")
    }
  }

  test("audio twins: zero shared bytes, identical sign hash; unrelated >= 22 bits") {
    import spark.implicits._
    def hash(bytes: Array[Byte]): Long = {
      val ds = Seq(Multimodal.Asset(0L, "audio", bytes)).toDS()
      Multimodal.audioDHash(ds).collect().head.dhash
    }
    val bases = MultimodalFixture.apercBaseIds.take(4)
    val hashes = bases.map { b =>
      val base = MultimodalFixture.media(b)
      val gain = MultimodalFixture.apercGainMedia(b)
      val quant = MultimodalFixture.apercQuantMedia(b)
      assert(chunkMd5s(base).intersect(chunkMd5s(gain)).isEmpty,
        s"gain twin of $b should share no chunks with its base")
      assert(chunkMd5s(base).intersect(chunkMd5s(quant)).isEmpty,
        s"quant twin of $b should share no chunks with its base")
      val (hb, hg, hq) = (hash(base), hash(gain), hash(quant))
      assert(hb == hg, s"gain twin of $b drifted the sign hash")
      assert(hb == hq, s"quant twin of $b drifted the sign hash")
      hb
    }
    for (Seq((a, ia), (b, ib)) <- hashes.zipWithIndex.combinations(2)) {
      val d = java.lang.Long.bitCount(a ^ b)
      assert(d >= 22, s"unrelated audio pair ($ia,$ib) only $d bits apart")
    }
  }

  test("audio robustness envelope: what radius-7 survives and what it provably does not") {
    // The negative side of the m15 envelope (VERDICT r13 #5 — the
    // image dHash envelope's honesty, mirrored): gain/requantization
    // invariance is proven above (distance 0 by construction); this
    // measures the edits the 65-window amplitude-delta sign hash does
    // NOT necessarily survive, on the real fixture audio.
    import spark.implicits._
    def hash(bytes: Array[Byte]): Long = {
      val ds = Seq(Multimodal.Asset(0L, "audio", bytes)).toDS()
      Multimodal.audioDHash(ds).collect().head.dhash
    }
    val bases = MultimodalFixture.apercBaseIds
    def dists(edit: Long => Array[Byte]): Seq[Int] = bases.map { b =>
      java.lang.Long.bitCount(
        hash(MultimodalFixture.media(b)) ^ hash(edit(b)))
    }
    val resample = dists(MultimodalFixture.apercResampleMedia)
    val trim = dists(b => MultimodalFixture.apercTrimMedia(b))
    val noiseSmall = dists(b => MultimodalFixture.apercNoiseMedia(b, 512))
    val noiseBig = dists(b => MultimodalFixture.apercNoiseMedia(b, 8192))
    info(s"2x resample (16->8 kHz): min=${resample.min} max=${resample.max}")
    info(s"+-5% trim: min=${trim.min} max=${trim.max}")
    info(s"noise +-512 (1.6% fs): min=${noiseSmall.min} max=${noiseSmall.max}")
    info(s"noise +-8192 (25% fs): min=${noiseBig.min} max=${noiseBig.max}")
    // Measured table (this fixture's LCG audio — a near-FLAT amplitude
    // envelope, the hash's worst case: adjacent-window deltas sit at
    // sampling-noise level, so ANY change to the pooled sample set can
    // flip signs; structured real-world envelopes are sturdier):
    //   - 2x resample: NOT caught (measured 10-18 bits) — halving the
    //     samples per window moves each mean by ~ the delta magnitude
    //     itself on flat content;
    //   - ±5% trim: NOT caught (measured 26-39) — the trim shifts
    //     every window boundary by ~3 of 65 windows, misaligning the
    //     whole delta sequence; a trimmed/resampled repost needs an
    //     alignment-searching front end (the audio analogue of the
    //     crop boundary m17 addresses for images);
    //   - additive noise ±1.6% fs: CAUGHT (measured max 1 bit) — the
    //     per-window mean of ~500 noise samples concentrates;
    //   - additive noise ±25% fs: borderline (measured 6-13) — heavy
    //     noise rivals the window-to-window variation.
    assert(resample.min > 7 && resample.max <= 24,
      s"resample envelope moved: ${resample.min}..${resample.max}")
    assert(trim.min > 7, s"trim unexpectedly caught: min=${trim.min}")
    assert(noiseSmall.max <= 7,
      s"small-noise envelope grew: max=${noiseSmall.max}")
    assert(noiseBig.max <= 20,
      s"heavy-noise envelope grew: max=${noiseBig.max}")
  }

  test("m14 declared query: exactly the planted pairs per clip; m4's pipeline finds none") {
    val found = SparkEntry.queries("m14_video_perceptual_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = MultimodalFixture.nMjpegs.toLong
    val planted = (0L until n).flatMap { i =>
      Seq((MultimodalFixture.MjpegIdOffset + i, MultimodalFixture.VPercDibOffset + i),
        (MultimodalFixture.MjpegIdOffset + i, MultimodalFixture.VPercDownOffset + i),
        (MultimodalFixture.VPercDibOffset + i, MultimodalFixture.VPercDownOffset + i))
    }.toSet
    assert(planted.subsetOf(found),
      s"missing planted pairs: ${planted.diff(found).toSeq.sorted.take(5)}")
    assert(found == planted,
      s"unplanted pairs reported: ${found.diff(planted).toSeq.sorted.take(5)}")
    // the chunk-fingerprint pipeline over the SAME corpus reports no
    // planted pair — the gap m14 exists to close
    val corpus = spark.read.parquet(MultimodalFixture.vpercPath)
      .unionByName(spark.read.parquet(MultimodalFixture.mjpegPath))
      .select(col("asset_id").cast("long").as("doc_id"),
        Multimodal.chunkFingerprintDoc(col("media"), 1024).as("chunks"))
    val m4Style = Dedup.minhashNearDups(corpus, "doc_id", "chunks",
      k = 32, bands = 16, shingleSize = 1, threshold = 0.5)
    val cross = m4Style.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.intersect(planted).isEmpty,
      s"byte-chunk dedup should miss every planted pair, found ${cross.intersect(planted)}")
  }

  test("m15b full-corpus aggregate: every audio asset hashed, exactly the planted twin pairs") {
    val rows = SparkEntry.queries("m15b_audio_prefix_full")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one histogram row: the 30 planted twin pairs at distance 0, with
    // every audio asset in the corpus hashed (667 fixture + 20 twins)
    val expectHashed = (0L until MultimodalFixture.nAssets.toLong)
      .count(MultimodalFixture.mediaType(_) == "audio") +
      2 * MultimodalFixture.nAPercBases
    assert(rows.toSeq == Seq((0L, 30L, expectHashed.toLong)),
      s"unexpected m15b histogram: ${rows.toSeq} (expected hashed=$expectHashed)")
  }

  test("m15c declared query: trimmed reposts caught at 0 via the span family; the full-clip hash misses them") {
    import spark.implicits._
    val found = SparkEntry.queries("m15c_audio_trim_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def fullHash(bytes: Array[Byte]): Long = {
      val ds = Seq(Multimodal.Asset(0L, "audio", bytes)).toDS()
      Multimodal.audioDHash(ds).collect().head.dhash
    }
    for (b <- MultimodalFixture.apercBaseIds) {
      val trims = Seq(
        b + MultimodalFixture.ATrimBothOffset ->
          MultimodalFixture.atrimBothMedia(b),
        b + MultimodalFixture.ATrimHeadOffset ->
          MultimodalFixture.atrimHeadMedia(b))
      for ((tid, media) <- trims) {
        // the span family catches the trim at EXACTLY 0...
        assert(found.get((b, tid)).contains(0L),
          s"planted trim pair ($b,$tid) missing or nonzero: ${found.get((b, tid))}")
        // ...where the single full-clip sign hash (the m15 operator)
        // sits far beyond the radius — the envelope this query closes
        val d = java.lang.Long.bitCount(
          fullHash(MultimodalFixture.media(b)) ^ fullHash(media))
        assert(d > 7, s"full-clip hash caught the trim of $b at $d bits " +
          "- the m15c demonstration corpus lost its miss class")
      }
    }
    // no CROSS-FAMILY pair survives the radius: every reported pair
    // relates edits of ONE base recording
    for (((a, b), _) <- found)
      assert(a % 1000 == b % 1000, s"cross-family pair ($a,$b) inside radius")
  }

  test("m15d prefix-capped spans: trims of long recordings caught at 0; the plain prefix hash misses them") {
    import spark.implicits._
    // the composition m15d exists for (VERDICT r14 #6): spans anchored
    // at FULL-duration fractions, lengths capped at 4096 frames — a
    // grid-cut trim's capped full hash covers exactly the base's
    // capped matching span, while m15b's plain [0, 4096) prefix hash
    // starts 400-2400 frames earlier and misses entirely
    def spanHashes(bytes: Array[Byte]): Seq[Long] = {
      val ds = Seq(Multimodal.Asset(0L, "audio", bytes)).toDS()
      Multimodal.audioSpanDHash(ds, maxFrames = 4096)
        .collect().map(_.dhash).toSeq
    }
    def prefixHash(bytes: Array[Byte]): Long = {
      val ds = Seq(Multimodal.Asset(0L, "audio", bytes)).toDS()
      Multimodal.audioDHash(ds, maxFrames = 4096).collect().head.dhash
    }
    def minCross(a: Seq[Long], b: Seq[Long]): Int =
      (for (x <- a; y <- b) yield java.lang.Long.bitCount(x ^ y)).min
    for (b <- MultimodalFixture.apercBaseIds.take(4)) {
      val base = MultimodalFixture.media(b)
      for ((name, media) <- Seq(
          ("both-5%", MultimodalFixture.atrimBothMedia(b)),
          ("head-10%", MultimodalFixture.atrimHeadMedia(b)))) {
        assert(minCross(spanHashes(base), spanHashes(media)) == 0,
          s"$name trim of $b not at 0 under the capped span family")
        val d = java.lang.Long.bitCount(prefixHash(base) ^ prefixHash(media))
        assert(d > 7, s"plain prefix hash caught the $name trim of $b " +
          s"at $d bits - the m15d demonstration corpus lost its miss class")
      }
    }
    // the declared aggregate covers EVERY audio asset (fixture + the
    // aperc and atrim twin lanes), distance-0 mass >= the planted sets
    val rows = SparkEntry.queries("m15d_audio_prefix_trim_full")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expectHashed = (0L until MultimodalFixture.nAssets.toLong)
      .count(MultimodalFixture.mediaType(_) == "audio") +
      4 * MultimodalFixture.nAPercBases
    assert(rows.forall(_._3 == expectHashed.toLong),
      s"m15d hashed-asset count: ${rows.headOption.map(_._3)} " +
        s"(expected $expectHashed)")
    val zero = rows.collectFirst { case (0L, n, _) => n }.getOrElse(0L)
    // 30 aperc trio pairs + 20 base/trim pairs at exactly 0, plus any
    // gain/quant-twin-to-trim pairs that also land at 0
    assert(zero >= 50L, s"m15d distance-0 mass only $zero")
  }

  test("m15 declared query: every twin pair found at distance 0") {
    val found = SparkEntry.queries("m15_audio_perceptual_neardups")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (b <- MultimodalFixture.apercBaseIds) {
      val g = b + MultimodalFixture.APercGainOffset
      val q = b + MultimodalFixture.APercQuantOffset
      for (pair <- Seq((b, g), (b, q), (g, q)))
        assert(found.get(pair).contains(0L),
          s"planted audio pair $pair missing or nonzero: ${found.get(pair)}")
    }
  }
}
