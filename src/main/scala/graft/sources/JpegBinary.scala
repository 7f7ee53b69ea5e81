package graft.sources

/** Pure-JVM baseline JPEG codec (ITU-T T.81, sequential DCT, Huffman
  * entropy coding) — the XlsBinary/MediaBinary precedent applied to the
  * most common COMPRESSED real-world image payload, so the "jpeg"
  * modality decodes genuinely with no external jar. Public
  * specification only: Annex K example quantization and Huffman tables,
  * the JFIF APP0 marker, canonical Huffman code assignment from
  * BITS/HUFFVAL, byte stuffing (FF → FF 00 in entropy data), and the
  * reference (non-fast) 8×8 DCT/IDCT in double arithmetic — bit-exact
  * deterministic on any JVM (IEEE-754 doubles; no platform intrinsics).
  *
  * Scope (the encoder's own output class, plus any conforming baseline
  * stream in it): 8-bit precision, 1 or 3 components, 4:4:4 (all
  * sampling factors 1), no restart markers, no progressive (FFC2) or
  * arithmetic (FFC9+) modes. The decoder is a defensive parser —
  * unsupported modes, truncation, invalid Huffman codes, or dimension
  * overflow return None rather than throwing mid-partition (the
  * MediaBinary contract).
  *
  * Reference semantics mirrored (file:line cites are to the reference
  * repo): the reference stores opaque binary payloads and relies on
  * driver-side tooling for media handling (README.md:55-64 download
  * pipeline); here decode is a first-class engine operator, so the
  * Spark-side plumbing (schema, partitioning, per-partition batch
  * decode) carries real pixels.
  */
object JpegBinary {

  /** Decoded image: `pixels` is BGR, row-major TOP-DOWN (the
    * [[MediaBinary.Bmp]] pixel contract) — width·height·3 bytes.
    */
  final case class Jpeg(width: Int, height: Int, pixels: Array[Byte])

  // --- Annex K.1/K.2 example quantization tables (natural order) -----
  private val stdLumaQ: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val stdChromaQ: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** IJG-style quality scaling of the Annex K tables. Quality is PINNED
    * at 75 for the encoder (scale 50 → max table value 61), which
    * guarantees no 0xFF byte in any DQT payload — the property the
    * SQL oracle's first-FFC0-is-SOF0 header parse relies on.
    */
  private def scaledQ(base: Array[Int], quality: Int): Array[Int] = {
    val s = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map(v => math.min(255, math.max(1, (v * s + 50) / 100)))
  }

  // --- Annex K.3-K.6 example Huffman tables (BITS, HUFFVAL) ----------
  private val dcLumaBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val dcLumaVals = (0 to 11).map(_.toByte).toArray
  private val dcChromaBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val dcChromaVals = (0 to 11).map(_.toByte).toArray
  private val acLumaBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val acLumaVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)
  private val acChromaBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val acChromaVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
    0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
    0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
    0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
    0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  /** Zig-zag scan order: zigzag(k) = natural index of the k-th coef. */
  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)·u·π/16) — shared by the reference DCT and IDCT. */
  private val cosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16)
  }
  private def cNorm(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2) else 1.0

  /** Canonical Huffman codes from (BITS, HUFFVAL) — T.81 Annex C. */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    // encode side: symbol → (code, length)
    val codeOf = new Array[Int](256)
    val lenOf = new Array[Int](256)
    // decode side: per length, [minCode, maxCode] and index of first val
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val values: Array[Byte] = vals
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        var i = 0
        while (i < bits(l)) {
          val sym = vals(k) & 0xff
          codeOf(sym) = code; lenOf(sym) = l
          code += 1; k += 1; i += 1
        }
        maxCode(l) = if (bits(l) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
  }
  private lazy val dcLuma = new HuffTable(dcLumaBits, dcLumaVals)
  private lazy val dcChroma = new HuffTable(dcChromaBits, dcChromaVals)
  private lazy val acLuma = new HuffTable(acLumaBits, acLumaVals)
  private lazy val acChroma = new HuffTable(acChromaBits, acChromaVals)

  // ===================== encoder =====================================

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1); nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nbits > 0) { // pad with 1s (T.81 F.1.2.3)
      while (nbits != 0) put(1, 1)
    }
  }

  private def magnitude(v: Int): Int = {
    var a = math.abs(v); var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  /** Encode BGR top-down pixels as a baseline JFIF JPEG (4:4:4,
    * quality 75, Annex K Huffman tables, no restart markers).
    */
  def encodeJpeg(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height * 3,
      s"pixels must be w*h*3 BGR bytes (${width}x$height)")
    val qY = scaledQ(stdLumaQ, 75)
    val qC = scaledQ(stdChromaQ, 75)
    val out = new java.io.ByteArrayOutputStream(pixels.length / 4 + 1024)
    def m(b: Int): Unit = { out.write(0xff); out.write(b) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    m(0xd8) // SOI
    m(0xe0); be16(16) // APP0 JFIF 1.1
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0) // version, units
    be16(1); be16(1); out.write(0); out.write(0)
    for ((tq, q) <- Seq((0, qY), (1, qC))) { // DQT (zig-zag order)
      m(0xdb); be16(67); out.write(tq)
      var k = 0; while (k < 64) { out.write(q(zigzag(k))); k += 1 }
    }
    m(0xc0); be16(17) // SOF0: 8-bit, 3 components, 1x1 sampling
    out.write(8); be16(height); be16(width); out.write(3)
    out.write(1); out.write(0x11); out.write(0) // Y  → qtable 0
    out.write(2); out.write(0x11); out.write(1) // Cb → qtable 1
    out.write(3); out.write(0x11); out.write(1) // Cr → qtable 1
    for ((cls, id, bits, vals) <- Seq(
        (0, 0, dcLumaBits, dcLumaVals), (0, 1, dcChromaBits, dcChromaVals),
        (1, 0, acLumaBits, acLumaVals), (1, 1, acChromaBits, acChromaVals))) {
      m(0xc4); be16(2 + 1 + 16 + vals.length); out.write((cls << 4) | id)
      var l = 1; while (l <= 16) { out.write(bits(l)); l += 1 }
      out.write(vals)
    }
    m(0xda); be16(12); out.write(3) // SOS
    out.write(1); out.write(0x00) // Y:  DC 0 / AC 0
    out.write(2); out.write(0x11) // Cb: DC 1 / AC 1
    out.write(3); out.write(0x11) // Cr: DC 1 / AC 1
    out.write(0); out.write(63); out.write(0) // Ss, Se, Ah/Al

    val bw = new BitWriter(out)
    val mcuW = (width + 7) / 8; val mcuH = (height + 7) / 8
    val prevDc = new Array[Int](3)
    val block = new Array[Double](64)
    val coef = new Array[Int](64)
    def emitBlock(dcT: HuffTable, acT: HuffTable, comp: Int, qt: Array[Int]): Unit = {
      // forward DCT (reference double-precision form) + quantize
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var s = 0.0
          var x = 0
          while (x < 8) {
            var y = 0
            while (y < 8) { s += block(y * 8 + x) * cosT(x)(u) * cosT(y)(v); y += 1 }
            x += 1
          }
          val f = 0.25 * cNorm(u) * cNorm(v) * s
          val n = v * 8 + u
          coef(n) = math.round(f / qt(n)).toInt
          v += 1
        }
        u += 1
      }
      // DC
      val diff = coef(0) - prevDc(comp); prevDc(comp) = coef(0)
      val s0 = magnitude(diff)
      bw.put(dcT.codeOf(s0), dcT.lenOf(s0))
      if (s0 > 0) bw.put(if (diff < 0) diff + (1 << s0) - 1 else diff, s0)
      // AC (zig-zag, run-length)
      var run = 0; var k = 1
      while (k < 64) {
        val c = coef(zigzag(k))
        if (c == 0) run += 1
        else {
          while (run > 15) { bw.put(acT.codeOf(0xf0), acT.lenOf(0xf0)); run -= 16 }
          val ss = magnitude(c)
          val sym = (run << 4) | ss
          bw.put(acT.codeOf(sym), acT.lenOf(sym))
          bw.put(if (c < 0) c + (1 << ss) - 1 else c, ss)
          run = 0
        }
        k += 1
      }
      if (run > 0) bw.put(acT.codeOf(0x00), acT.lenOf(0x00)) // EOB
    }
    var my = 0
    while (my < mcuH) {
      var mx = 0
      while (mx < mcuW) {
        var comp = 0
        while (comp < 3) {
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              // edge replication for partial blocks
              val px = math.min(width - 1, mx * 8 + xx)
              val py = math.min(height - 1, my * 8 + yy)
              val o = (py * width + px) * 3
              val b = pixels(o) & 0xff
              val g = pixels(o + 1) & 0xff
              val r = pixels(o + 2) & 0xff
              val s = comp match {
                case 0 => 0.299 * r + 0.587 * g + 0.114 * b
                case 1 => -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
                case _ => 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
              }
              block(yy * 8 + xx) = s - 128.0
              xx += 1
            }
            yy += 1
          }
          if (comp == 0) emitBlock(dcLuma, acLuma, comp, qY)
          else emitBlock(dcChroma, acChroma, comp, qC)
          comp += 1
        }
        mx += 1
      }
      my += 1
    }
    bw.flush()
    m(0xd9) // EOI
    out.toByteArray
  }

  // ===================== decoder =====================================

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0; private var nbits = 0
    var bad = false
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) { bad = true; return 0 }
        val v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          if (pos >= b.length || b(pos) != 0x00) { bad = true; return 0 }
          pos += 1 // unstuff FF 00
        }
        acc = v; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  private def decodeHuff(br: BitReader, t: HuffTable): Int = {
    var code = 0; var l = 0
    while (l < 16) {
      code = (code << 1) | br.bit(); l += 1
      if (!br.bad && t.maxCode(l) >= 0 && code <= t.maxCode(l) &&
          code >= t.minCode(l))
        return t.values(t.valPtr(l) + (code - t.minCode(l))) & 0xff
    }
    br.bad = true; 0
  }

  private def extend(v: Int, ssss: Int): Int =
    if (ssss == 0) 0
    else if (v < (1 << (ssss - 1))) v - (1 << ssss) + 1
    else v

  /** Dimensions only — SOF0 header parse, no entropy decode. */
  def decodeJpegMeta(b: Array[Byte]): Option[(Int, Int)] =
    parse(b, metaOnly = true).map(s => (s.width, s.height))

  /** Full decode: entropy decode → dequantize → IDCT → YCbCr→BGR. */
  def decodeJpeg(b: Array[Byte]): Option[Jpeg] =
    parse(b, metaOnly = false).flatMap(_.decodeScan())

  private final case class Component(id: Int, qTable: Int,
      var dcTable: Int = 0, var acTable: Int = 0)

  private final class Stream(val b: Array[Byte]) {
    var width = 0; var height = 0
    var comps: Array[Component] = Array.empty
    val qTables = new Array[Array[Int]](4)
    val huffDc = new Array[HuffTable](4)
    val huffAc = new Array[HuffTable](4)
    var scanStart = -1

    def decodeScan(): Option[Jpeg] = {
      if (scanStart < 0) return None
      val nc = comps.length
      var i = 0
      while (i < nc) {
        val c = comps(i)
        if (c.qTable < 0 || c.qTable > 3 || qTables(c.qTable) == null ||
            huffDc(c.dcTable) == null || huffAc(c.acTable) == null)
          return None
        i += 1
      }
      val br = new BitReader(b, scanStart)
      val mcuW = (width + 7) / 8; val mcuH = (height + 7) / 8
      // bounded output: dims were sanity-checked in parse()
      val planes = Array.fill(nc)(new Array[Byte](mcuW * 8 * mcuH * 8))
      val prevDc = new Array[Int](nc)
      val zz = new Array[Int](64)
      var my = 0
      while (my < mcuH) {
        var mx = 0
        while (mx < mcuW) {
          var ci = 0
          while (ci < nc) {
            val c = comps(ci)
            val qt = qTables(c.qTable)
            java.util.Arrays.fill(zz, 0)
            val s0 = decodeHuff(br, huffDc(c.dcTable))
            if (br.bad || s0 > 11) return None
            val diff = extend(br.bits(s0), s0)
            prevDc(ci) += diff
            zz(0) = prevDc(ci) * qt(0)
            var k = 1
            while (k < 64) {
              val rs = decodeHuff(br, huffAc(c.acTable))
              if (br.bad) return None
              val r = rs >> 4; val ss = rs & 0xf
              if (ss == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) return None
                zz(zigzag(k)) = extend(br.bits(ss), ss) * qt(zigzag(k))
                k += 1
              }
            }
            if (br.bad) return None
            // reference IDCT
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                var s = 0.0
                var u = 0
                while (u < 8) {
                  var v = 0
                  while (v < 8) {
                    s += cNorm(u) * cNorm(v) * zz(v * 8 + u) *
                      cosT(x)(u) * cosT(y)(v)
                    v += 1
                  }
                  u += 1
                }
                val p = math.round(0.25 * s + 128.0).toInt
                planes(ci)((my * 8 + y) * mcuW * 8 + mx * 8 + x) =
                  math.max(0, math.min(255, p)).toByte
                x += 1
              }
              y += 1
            }
            ci += 1
          }
          mx += 1
        }
        my += 1
      }
      // color convert to the BGR top-down Bmp contract
      val out = new Array[Byte](width * height * 3)
      val rowW = mcuW * 8
      var py = 0
      while (py < height) {
        var px = 0
        while (px < width) {
          val o = (py * width + px) * 3
          val i2 = py * rowW + px
          if (nc == 1) {
            val yv = planes(0)(i2)
            out(o) = yv; out(o + 1) = yv; out(o + 2) = yv
          } else {
            val yv = planes(0)(i2) & 0xff
            val cb = (planes(1)(i2) & 0xff) - 128
            val cr = (planes(2)(i2) & 0xff) - 128
            def clamp(d: Double): Byte =
              math.max(0, math.min(255, math.round(d).toInt)).toByte
            out(o + 2) = clamp(yv + 1.402 * cr)               // R
            out(o + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr) // G
            out(o) = clamp(yv + 1.772 * cb)                   // B
          }
          px += 1
        }
        py += 1
      }
      Some(Jpeg(width, height, out))
    }
  }

  /** Marker walk: SOI, then segments until SOS (or EOI). Defensive —
    * any structural violation or unsupported mode returns None.
    */
  private def parse(b: Array[Byte], metaOnly: Boolean): Option[Stream] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    def be16(off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    val st = new Stream(b)
    var pos = 2
    var guard = 0
    while (pos + 4 <= b.length && guard < 1024) {
      guard += 1
      if ((b(pos) & 0xff) != 0xff) return None
      val marker = b(pos + 1) & 0xff
      if (marker == 0xd9) return None // EOI before SOS
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) pos += 2
      else {
        val len = be16(pos + 2)
        if (len < 2 || pos + 2 + len > b.length) return None
        val seg = pos + 4
        marker match {
          case 0xc0 => // SOF0 baseline sequential
            if (len < 8) return None
            val prec = b(seg) & 0xff
            st.height = be16(seg + 1); st.width = be16(seg + 3)
            val nc = b(seg + 5) & 0xff
            if (prec != 8 || st.width <= 0 || st.height <= 0 ||
                st.width > 65535 || st.height > 65535 ||
                st.width.toLong * st.height * 3 > (1 << 28) ||
                (nc != 1 && nc != 3) || len < 8 + nc * 3)
              return None
            st.comps = Array.tabulate(nc) { i =>
              val o = seg + 6 + i * 3
              if ((b(o + 1) & 0xff) != 0x11) return None // 4:4:4 only
              Component(b(o) & 0xff, b(o + 2) & 0xff)
            }
            if (metaOnly) return Some(st)
          case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
               0xcb | 0xcd | 0xce | 0xcf =>
            return None // non-baseline SOF modes unsupported
          case 0xdb => // DQT (possibly several tables per segment)
            var o = seg
            while (o < pos + 2 + len) {
              val pq = (b(o) & 0xff) >> 4; val tq = (b(o) & 0xff) & 0xf
              if (pq != 0 || tq > 3 || o + 65 > pos + 2 + len) return None
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) { t(zigzag(k)) = b(o + 1 + k) & 0xff; k += 1 }
              st.qTables(tq) = t
              o += 65
            }
          case 0xc4 => // DHT (possibly several tables per segment)
            var o = seg
            while (o < pos + 2 + len) {
              val tc = (b(o) & 0xff) >> 4; val th = (b(o) & 0xff) & 0xf
              if (tc > 1 || th > 3 || o + 17 > pos + 2 + len) return None
              val bits = new Array[Int](17)
              var total = 0
              var l = 1
              while (l <= 16) { bits(l) = b(o + l) & 0xff; total += bits(l); l += 1 }
              if (total > 256 || o + 17 + total > pos + 2 + len) return None
              val vals = java.util.Arrays.copyOfRange(b, o + 17, o + 17 + total)
              val t = new HuffTable(bits, vals)
              if (tc == 0) st.huffDc(th) = t else st.huffAc(th) = t
              o += 17 + total
            }
          case 0xda => // SOS
            if (st.comps.isEmpty) return None
            val ns = b(seg) & 0xff
            if (ns != st.comps.length || len < 6 + ns * 2) return None
            var i = 0
            while (i < ns) {
              val cid = b(seg + 1 + i * 2) & 0xff
              val tt = b(seg + 2 + i * 2) & 0xff
              val c = st.comps.find(_.id == cid).getOrElse(return None)
              c.dcTable = tt >> 4; c.acTable = tt & 0xf
              if (c.dcTable > 3 || c.acTable > 3) return None
              i += 1
            }
            st.scanStart = pos + 2 + len
            return Some(st)
          case _ => () // APPn / COM / others: skip
        }
        pos += 2 + len
      }
    }
    None
  }
}
