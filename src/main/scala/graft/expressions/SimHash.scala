package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash signature computation.
  *
  * Deliberately built on ENGINE-REPLICABLE integer arithmetic (two 31-bit
  * polynomial rolling hashes + an LCG finalizer, all mod 2^31) rather than
  * xxhash64: the identical signature is computable in ANSI-ish SQL
  * (list_reduce over codepoints), so the DuckDB oracle can mirror the
  * whole near-dup pipeline bit-for-bit. The previous expression-library
  * form (aggregate×zip_with over 64-long arrays per token) was evaluated
  * by the interpreted higher-order-function machinery at ~ms/row; this is
  * one compiled loop, ~µs/row.
  *
  * Signature layout: 62 bits. Bit b (0-61) is 1 iff the sign-sum over
  * tokens of (tokenhash bit b ? +1 : -1) is strictly positive, where bits
  * 0-30 come from hash1 and bits 31-61 from hash2.
  */
object SimHashImpl {

  private final val M31 = 0x7FFFFFFFL + 1L // 2^31

  /** Two LCG mixing rounds mod 2^31 — shared by the SQL mirror. */
  def mix31(x0: Long): Long = {
    val x1 = (x0 * 2654435761L + 2654435769L) % M31
    (x1 * 2654435761L + 40503L) % M31
  }

  /** Polynomial rolling hash of the token's codepoints, mod 2^31. */
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

  /** SimHash over `shingleSize`-token shingles (shingleSize=1 → plain
    * tokens). Fewer tokens than shingleSize → signature 0.
    */
  def simhash(text: UTF8String, shingleSize: Int): Long =
    simhashSeeded(text, shingleSize, 0L, 31L, 7L, 37L)

  /** Lane-B signature: same construction over an INDEPENDENT feature
    * hash family (different polynomial seeds/multipliers). (simhash,
    * simhashB) together form the 124-bit signature the radius-16-recall
    * near-dup path verifies on — see Dedup.simhashNearDups128.
    */
  def simhashB(text: UTF8String, shingleSize: Int): Long =
    simhashSeeded(text, shingleSize, 13L, 41L, 29L, 43L)

  /** BOTH lanes in one tokenize+shingle pass: value-identical to
    * `array(simhash(text, k), simhashB(text, k))` (same seeds, same
    * polynomial hashes, same sign-sum), but the text is split and the
    * shingle strings are built ONCE instead of once per lane — over half
    * the per-row signature cost on typical documents (optimization
    * round 17, guide §1.2 per-task work). SimHashSpec pins lane
    * equality against the single-lane expressions.
    */
  def simhashBoth(text: UTF8String, shingleSize: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Long](2)
    val t = text.toString.trim
    if (t.isEmpty)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val toks = t.split("\\s+")
    val n = toks.length - shingleSize + 1
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val counts = new Array[Int](124) // 0-61 lane A, 62-123 lane B
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      val feature: String =
        if (shingleSize == 1) toks(i)
        else {
          sb.setLength(0)
          var j = 0
          while (j < shingleSize) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          sb.toString
        }
      // lane A: seeds (0, 31) / (7, 37); lane B: (13, 41) / (29, 43) —
      // the simhash/simhashB constants, unchanged
      val a1 = polyHash(feature, 0L, 31L)
      val a2 = polyHash(feature, 7L, 37L)
      val b1 = polyHash(feature, 13L, 41L)
      val b2 = polyHash(feature, 29L, 43L)
      var b = 0
      while (b < 31) {
        if (((a1 >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((a2 >> b) & 1L) == 1L) counts(31 + b) += 1 else counts(31 + b) -= 1
        if (((b1 >> b) & 1L) == 1L) counts(62 + b) += 1 else counts(62 + b) -= 1
        if (((b2 >> b) & 1L) == 1L) counts(93 + b) += 1 else counts(93 + b) -= 1
        b += 1
      }
      i += 1
    }
    var siga = 0L
    var sigb = 0L
    var b = 0
    while (b < 62) {
      if (counts(b) > 0) siga |= (1L << b)
      if (counts(62 + b) > 0) sigb |= (1L << b)
      b += 1
    }
    out(0) = siga
    out(1) = sigb
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def simhashSeeded(text: UTF8String, shingleSize: Int,
      i1: Long, m1: Long, i2: Long, m2: Long): Long = {
    val t = text.toString.trim
    if (t.isEmpty) return 0L
    val toks = t.split("\\s+")
    val n = toks.length - shingleSize + 1
    if (n <= 0) return 0L
    val counts = new Array[Int](62)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      val feature: String =
        if (shingleSize == 1) toks(i)
        else {
          sb.setLength(0)
          var j = 0
          while (j < shingleSize) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          sb.toString
        }
      val h1 = polyHash(feature, i1, m1)
      val h2 = polyHash(feature, i2, m2)
      var b = 0
      while (b < 31) {
        if (((h1 >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((h2 >> b) & 1L) == 1L) counts(31 + b) += 1 else counts(31 + b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 62) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
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
