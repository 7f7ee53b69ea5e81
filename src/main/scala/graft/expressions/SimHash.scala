package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash signature computation.
  *
  * Deliberately built on ENGINE-REPLICABLE integer arithmetic (31-bit
  * polynomial rolling hashes + an LCG finalizer, all mod 2^31) rather
  * than xxhash64: the identical signature is computable in ANSI-ish SQL
  * (list_reduce over codepoints), so the DuckDB oracle can mirror the
  * whole near-dup pipeline bit-for-bit.
  *
  * Definition (what the SQL mirror computes). The text is trimmed of
  * chars <= U+0020 at both ends and split on runs of the six regex `\s`
  * chars (U+0020 and U+0009 to U+000D). A feature is a
  * `shingleSize`-token shingle, its tokens joined by single spaces. A
  * hash (init I, multiplier m) of a feature is `mix31(P)`, where
  * `P = I`, then `P = P*m + c` for each code point c of the feature, all
  * mod 2^31. Bit b (0-30) of a hash votes +1 if set and -1 if not;
  * signature bit b is 1 iff its votes over all features sum to more
  * than 0. Lane A takes bits 0-30 from hash (0, 31) and bits 31-61 from
  * (7, 37); lane B takes them from (13, 41) and (29, 43).
  *
  * Evaluation: one pass, and no shingle strings. A polynomial hash
  * composes over concatenation. Let `R(t)` be token t's hash from init
  * 0 and `|t|` its code-point count; then `P_I(s t) = P_I(s)·m^|t| +
  * R(t)`, and the joining space is one more step, `P·m + 32`. So each
  * token's `R` and `m^|t|` are computed once per multiplier, and a
  * shingle's hash is composed from its tokens' in k steps, instead of
  * re-reading every token once for each shingle that contains it.
  * Every step runs in `Int` arithmetic, which wraps mod 2^32. Since
  * 2^31 divides 2^32, the value mod 2^31 stays exact throughout, and
  * `& 0x7FFFFFFF` at the end recovers it; mix31 is affine, so it takes
  * the unmasked value as well.
  *
  * Code points are read with `String.codePointAt` over the whole text.
  * A token ends at a whitespace char or at the trimmed end, and neither
  * can be a low surrogate. So a token decodes here exactly as it does as
  * its own string and inside a joined shingle, lone surrogates included.
  */
object SimHashImpl {

  // the four (init, multiplier) hashes: lane A is hashes 0-1, lane B 2-3
  private val Inits = Array(0, 7, 13, 29)
  private val Mults = Array(31, 37, 41, 43)

  /** Two LCG mixing rounds mod 2^31 — shared by the SQL mirror — of
    * `x0` in [0, 2^31) (every caller's domain).
    */
  def mix31(x0: Long): Long = (mix(x0.toInt) & 0x7FFFFFFF).toLong

  // mix31 mod 2^32; 2654435761 and 2654435769 as Ints
  private def mix(x: Int): Int =
    (x * -1640531535 - 1640531527) * -1640531535 + 40503

  /** SimHash over `shingleSize`-token shingles (shingleSize=1 → plain
    * tokens). Fewer tokens than shingleSize → signature 0.
    */
  def simhash(text: UTF8String, shingleSize: Int): Long =
    signatures(text.toString, shingleSize, 0, 1)(0)

  /** Lane-B signature: same construction over an INDEPENDENT feature
    * hash family (different polynomial seeds/multipliers). (simhash,
    * simhashB) together form the 124-bit signature the radius-16-recall
    * near-dup path verifies on — see Dedup.simhashNearDups128.
    */
  def simhashB(text: UTF8String, shingleSize: Int): Long =
    signatures(text.toString, shingleSize, 1, 1)(0)

  /** BOTH lanes from one pass: value-identical to
    * `array(simhash(text, k), simhashB(text, k))`, but the text is
    * decoded and tokenized once for the two lanes.
    */
  def simhashBoth(text: UTF8String, shingleSize: Int): ArrayData =
    new GenericArrayData(signatures(text.toString, shingleSize, 0, 2))

  /** Lanes `lane0 until lane0 + lanes` of the signature of the
    * decoded text `s`.
    */
  private[graft] def signatures(s: String, k: Int, lane0: Int,
      lanes: Int): Array[Long] = {
    val out = new Array[Long](lanes)
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) <= ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) <= ' ') hi -= 1
    // token boundaries: starts(t) until ends(t)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = lo
    while (i < hi) {
      while (i < hi && isSpace(s.charAt(i))) i += 1
      if (i < hi) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = i
        while (i < hi && !isSpace(s.charAt(i))) i += 1
        ends(nTok) = i
        nTok += 1
      }
    }
    val n = nTok - k + 1
    if (nTok == 0 || n <= 0) return out
    val hashes = 2 * lanes
    val h0 = 2 * lane0
    // per token and hash: R (init 0) and m^len, at t * hashes + h
    val raw = new Array[Int](nTok * hashes)
    val pow = new Array[Int](nTok * hashes)
    java.util.Arrays.fill(pow, 1)
    var t = 0
    while (t < nTok) {
      var j = starts(t)
      while (j < ends(t)) {
        val cp = s.codePointAt(j)
        var h = 0
        while (h < hashes) {
          val m = Mults(h0 + h)
          val at = t * hashes + h
          raw(at) = raw(at) * m + cp
          pow(at) *= m
          h += 1
        }
        j += Character.charCount(cp)
      }
      t += 1
    }
    // ones(h * 31 + b): features whose hash h has bit b set
    val ones = new Array[Int](hashes * 31)
    var f = 0
    while (f < n) {
      var h = 0
      while (h < hashes) {
        val m = Mults(h0 + h)
        var x = Inits(h0 + h)
        var j = 0
        while (j < k) {
          if (j > 0) x = x * m + ' '
          val at = (f + j) * hashes + h
          x = x * pow(at) + raw(at)
          j += 1
        }
        x = mix(x)
        var b = 0
        while (b < 31) {
          ones(h * 31 + b) += (x >>> b) & 1
          b += 1
        }
        h += 1
      }
      f += 1
    }
    var l = 0
    while (l < lanes) {
      var sig = 0L
      var b = 0
      while (b < 62) {
        if (2 * ones(l * 62 + b) > n) sig |= 1L << b
        b += 1
      }
      out(l) = sig
      l += 1
    }
    out
  }

  // the six chars of regex `\s`
  private def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')
}

/** simhash64(text, shingleSize) → long (62-bit signature; see SimHashImpl). */
case class SimHash64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int)")
    }

  override def nullSafeEval(t: Any, k: Any): Any =
    SimHashImpl.simhash(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.expressions.SimHashImpl.simhash($t, $k);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** simhash64both(text, shingleSize) → array<long>[2] — [lane A, lane B]
  * from ONE tokenize+shingle pass (see SimHashImpl.simhashBoth).
  */
case class SimHash64Both(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "simhash64both"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int)")
    }

  override def nullSafeEval(t: Any, k: Any): Any =
    SimHashImpl.simhashBoth(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.expressions.SimHashImpl.simhashBoth($t, $k);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** simhash64b(text, shingleSize) → long — the lane-B 62-bit signature
  * (independent hash family; see SimHashImpl.simhashB).
  */
case class SimHash64B(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "simhash64b"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int)")
    }

  override def nullSafeEval(t: Any, k: Any): Any =
    SimHashImpl.simhashB(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.expressions.SimHashImpl.simhashB($t, $k);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}
