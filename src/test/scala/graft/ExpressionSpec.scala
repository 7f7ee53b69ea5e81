package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{HyperplaneImpl, NormalizeImpl, SimHashImpl}

/** Direct unit/property tests for the engine-replicable native
  * expressions (the SQL-mirror contract is separately enforced by the
  * DuckDB oracle; these pin the Scala-side invariants).
  */
class ExpressionSpec extends AnyFunSuite {

  test("nfc: composes decomposed accents; identity (same ref) on NFC text") {
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = UTF8String.fromString("Café naïve")
    val composed = NormalizeImpl.nfc(decomposed)
    assert(composed.toString == "Café naïve")
    assert(composed.numChars() == decomposed.numChars() - 2)
    // fast path: already-NFC input returns the SAME object (no copy)
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NormalizeImpl.nfc(ascii) eq ascii)
    // canonical equivalence collapses to equal bytes — the dedup premise
    assert(NormalizeImpl.nfc(decomposed).binaryEquals(
      NormalizeImpl.nfc(UTF8String.fromString("Café naïve"))))
  }

  test("minhash_from_hashes is bit-identical to the string-shingle path") {
    import graft.expressions.MinHashImpl
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val text = UTF8String.fromString(
      "the quick brown fox jumps over the lazy dog again and again")
    for (k <- Seq(8, 32); n <- Seq(2, 3)) {
      val strings = MinHashImpl.wordShingles(text, n)
      val hashes = MinHashImpl.wordShingleHashes(text, n)
      // distinct hashes (the pipeline's set form) must not change the min
      val distinct = new GenericArrayData(
        (0 until hashes.numElements()).map(hashes.getLong).distinct.toArray)
      val a = MinHashImpl.signature(strings, k)
      val b = MinHashImpl.signatureFromHashes(distinct, k)
      assert((0 until k).forall(i => a.getLong(i) == b.getLong(i)),
        s"k=$k n=$n signatures diverge")
    }
  }

  test("word_window_fp128: f1 matches word_shingle_hashes; f2 independent") {
    import graft.expressions.MinHashImpl
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq(
      "", "   ", "one", "one two",
      "the quick brown fox jumps over the lazy dog again and again",
      "  padded   multi\tspace\ntokens mixed  whitespace here  ")
    for (t <- texts; k <- Seq(2, 3, 8)) {
      val u = UTF8String.fromString(t)
      val fp = MinHashImpl.wordWindowFp128(u, k)
      val h = MinHashImpl.wordShingleHashes(u, k)
      // same window stream: one fingerprint per shingle, in order
      assert(fp.numElements() == h.numElements(),
        s"window count diverges for k=$k text='${t.take(30)}'")
      for (i <- 0 until fp.numElements()) {
        val row = fp.getStruct(i, 2).asInstanceOf[InternalRow]
        // f1 IS the seed-42 XXH64 the shingle-hash pipelines use
        assert(row.getLong(0) == h.getLong(i),
          s"f1 diverges at window $i for k=$k text='${t.take(30)}'")
        // f2 is a different (second-seed) stream, deterministically so
        val again = MinHashImpl.wordWindowFp128(u, k)
          .getStruct(i, 2).asInstanceOf[InternalRow]
        assert(row.getLong(1) == again.getLong(1), "f2 not deterministic")
        assert(row.getLong(0) != row.getLong(1),
          s"f1 == f2 at window $i (seeds not independent)")
      }
    }
  }

  test("simhash64both is lane-identical to simhash64/simhash64b") {
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq(
      "", "   ", "one", "one two",
      "the quick brown fox jumps over the lazy dog again and again",
      "  padded   multi\tspace\ntokens mixed  whitespace here  ",
      "unicode caffé naïve 北京 tokens répétés caffé naïve",
      ("lorem ipsum dolor sit amet " * 40).trim)
    for (t <- texts; k <- Seq(1, 2, 3, 5)) {
      val u = UTF8String.fromString(t)
      val both = SimHashImpl.simhashBoth(u, k)
      assert(both.numElements() == 2)
      assert(both.getLong(0) == SimHashImpl.simhash(u, k),
        s"lane A diverges for k=$k text='${t.take(30)}'")
      assert(both.getLong(1) == SimHashImpl.simhashB(u, k),
        s"lane B diverges for k=$k text='${t.take(30)}'")
    }
  }

  test("simhash kernel equals the split-and-join reference on random, malformed and edge-case texts") {
    import org.apache.spark.unsafe.types.UTF8String
    import ExpressionSpec.RefSimHash
    def check(u: UTF8String, k: Int): Unit = {
      val (a, b) = (RefSimHash.simhash(u, k), RefSimHash.simhashB(u, k))
      def what = s"k=$k text=${u.getBytes.map(x => f"$x%02x").mkString}"
      assert(SimHashImpl.simhash(u, k) == a, s"lane A: $what")
      assert(SimHashImpl.simhashB(u, k) == b, s"lane B: $what")
      val both = SimHashImpl.simhashBoth(u, k)
      assert(both.numElements() == 2 && both.getLong(0) == a &&
        both.getLong(1) == b, s"both lanes: $what")
    }
    // every regex `\s` char, other C0 controls that trim (not split)
    // drops, Unicode spaces that are token chars, BMP non-ASCII,
    // surrogate pairs and lone surrogates
    val alphabet = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u0001",
      "\u001C", "\u00A0", "\u2003", "a", "b", "c", "ab", "Z", "9", "é",
      "北", "ß", "\uD83D\uDE00", "\uD834\uDD1E", "\uD800", "\uDC00",
      "\uDBFF", "\uFFFD")
    val rnd = new scala.util.Random(20261020L)
    def text(maxLen: Int): String =
      Seq.fill(rnd.nextInt(maxLen + 1))(alphabet(rnd.nextInt(alphabet.size))).mkString
    // the String-level kernel: lone surrogates survive only here (the
    // UTF-8 round trip replaces them)
    for (i <- 0 until 100000) {
      val s = text(if (i % 100 == 0) 400 else 40)
      val k = 1 + i % 5
      val want = Array(RefSimHash.sig(s, k, 0, 31, 7, 37),
        RefSimHash.sig(s, k, 13, 41, 29, 43))
      assert(SimHashImpl.signatures(s, k, 0, 2).sameElements(want),
        s"k=$k text=${s.map(c => f"${c.toInt}%04x").mkString(" ")}")
      check(UTF8String.fromString(s), k)
    }
    // malformed UTF-8: stray continuation bytes, overlongs, encoded
    // surrogates, truncated sequences, bytes past U+10FFFF
    val bytes = Array[Byte](0x20, 0x09, 0x0A, 0x61, 0x62, 0x80.toByte,
      0xBF.toByte, 0xC0.toByte, 0xC3.toByte, 0xA9.toByte, 0xE2.toByte,
      0x82.toByte, 0xAC.toByte, 0xED.toByte, 0xA0.toByte, 0xF0.toByte,
      0x9F.toByte, 0xF4.toByte, 0x90.toByte, 0xFF.toByte)
    for (i <- 0 until 20000)
      check(UTF8String.fromBytes(Array.fill(rnd.nextInt(48))(bytes(rnd.nextInt(bytes.length)))),
        1 + i % 5)
    val edges = Seq("", " ", "   \t\n ", "\u0001\u001C", " \u0001 a \u001C ",
      "a", "a b", "a  b\tc", "a b c", "a b c d", " a b c d e ",
      "\u00A0a\u00A0 b", "\uD83D\uDE00 \uD83D", "a\uD83D \uDE00b c d e f")
    for (s <- edges; k <- 1 to 5) check(UTF8String.fromString(s), k)
  }

  test("mix31 stays in [0, 2^31) across the input domain") {
    val rnd = new scala.util.Random(42)
    val samples = Seq(0L, 1L, (1L << 31) - 1) ++
      Seq.fill(100000)(math.abs(rnd.nextLong()) % (1L << 31))
    samples.foreach { x =>
      val v = SimHashImpl.mix31(x)
      assert(v >= 0L && v < (1L << 31), s"mix31($x) = $v out of range")
      assert(v == ExpressionSpec.RefSimHash.mix31(x), s"mix31($x) differs from the reference")
    }
  }

  test("hyperplane weights are in [-0.5, 0.5) and deterministic") {
    for (seed <- 0 until 4; bit <- 0 until 8; dim <- 0 until 64) {
      val w = HyperplaneImpl.weight(seed, bit, dim)
      assert(w >= -0.5 && w < 0.5)
      assert(w == HyperplaneImpl.weight(seed, bit, dim))
    }
  }

  test("hyperplane weights vary across seeds/bits/dims (not constant)") {
    val ws = for (seed <- 0 until 2; bit <- 0 until 4; dim <- 0 until 16)
      yield HyperplaneImpl.weight(seed, bit, dim)
    assert(ws.distinct.size > ws.size / 2)
  }

  private def sig(s: String, k: Int = 3): Long =
    SimHashImpl.simhash(org.apache.spark.unsafe.types.UTF8String.fromString(s), k)

  test("simhash: empty/short text → 0; deterministic; bounded to 62 bits") {
    assert(sig("") == 0L)
    assert(sig("one two") == 0L) // fewer tokens than shingle size
    val t = "the quick brown fox jumps over the lazy dog"
    assert(sig(t) == sig(t))
    assert(sig(t) >= 0L && sig(t) < (1L << 62))
    assert(sig(t) != 0L)
  }

  test("simhash: near-identical docs are close, disjoint docs are far") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = (1 to 30).map(i => s"tok${i % 12}").mkString(" ")
    val near = base + " extra"
    val far = (1 to 30).map(i => s"other${i % 12}").mkString(" ")
    assert(ham(sig(base), sig(near)) <= 12)
    assert(ham(sig(base), sig(far)) > 12)
  }

  test("simhash shingleSize=1 hashes tokens (order-insensitive by multiset)") {
    assert(sig("a b c a b c", 1) == sig("c b a c b a", 1))
  }
}

object ExpressionSpec {

  /** The SimHash signature as first written — `trim.split("\\s+")`,
    * space-joined shingle strings and a 64-bit polynomial hash taken
    * `% 2^31` per code point — kept as the reference the one-pass
    * kernel must equal bit for bit.
    */
  object RefSimHash {
    import org.apache.spark.unsafe.types.UTF8String
    private final val M31 = 1L << 31

    def mix31(x0: Long): Long = {
      val x1 = (x0 * 2654435761L + 2654435769L) % M31
      (x1 * 2654435761L + 40503L) % M31
    }

    private def polyHash(s: String, init: Long, mult: Long): Long = {
      var h = init
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * mult + cp) % M31
        i += Character.charCount(cp)
      }
      mix31(h)
    }

    def sig(text: String, k: Int, i1: Long, m1: Long, i2: Long, m2: Long): Long = {
      val t = text.trim
      if (t.isEmpty) return 0L
      val toks = t.split("\\s+")
      val n = toks.length - k + 1
      if (n <= 0) return 0L
      val counts = new Array[Int](62)
      for (i <- 0 until n) {
        val feature = toks.slice(i, i + k).mkString(" ")
        val h1 = polyHash(feature, i1, m1)
        val h2 = polyHash(feature, i2, m2)
        for (b <- 0 until 31) {
          counts(b) += (if (((h1 >> b) & 1L) == 1L) 1 else -1)
          counts(31 + b) += (if (((h2 >> b) & 1L) == 1L) 1 else -1)
        }
      }
      (0 until 62).foldLeft(0L)((sig, b) => if (counts(b) > 0) sig | (1L << b) else sig)
    }

    def simhash(text: UTF8String, k: Int): Long = sig(text.toString, k, 0, 31, 7, 37)
    def simhashB(text: UTF8String, k: Int): Long = sig(text.toString, k, 13, 41, 29, 43)
  }
}
