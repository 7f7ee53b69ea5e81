package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY §7.2
  * escape hatch (b): custom Expression where built-ins are too slow).
  *
  * The pure-builtin cosine (`aggregate(zip_with(...))`) is evaluated by
  * the interpreted higher-order-function machinery — per-element lambda
  * dispatch, boxed accumulators — and sits inside every LSH/ANN
  * candidate pair. These expressions replace it with a primitive loop
  * that participates in whole-stage codegen: one fused `for` over the
  * two ArrayData buffers, no allocation, no virtual calls.
  *
  * Exact-decimal variants (graft.functions.Vectors.dot/cosine) remain
  * the oracle-parity path; these are the throughput path.
  */
abstract class VectorBinaryExpression extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def elemGetter(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  protected def elemAt(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => a.getDouble(i)
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
}

/** cosine_sim(a, b): cosine similarity with double accumulation. */
case class CosineSim(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elemAt(a, left.dataType, i)
      val y = elemAt(b, right.dataType, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val ga = elemGetter(left.dataType); val gb = elemGetter(right.dataType)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$ga($i);
         |  double $y = (double) $b.$gb($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** dot_product(a, b): inner product with double accumulation. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += elemAt(a, left.dataType, i) * elemAt(b, right.dataType, i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val ga = elemGetter(left.dataType); val gb = elemGetter(right.dataType)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.$ga($i) * (double) $b.$gb($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** l2sq_exact(a, b): exact squared L2 distance — Σ (aᵢ−bᵢ)², each term
  * and the running sum plain double arithmetic folded in INDEX ORDER,
  * so the value is bit-identical to the interpreted builtin pipeline
  * `aggregate(zip_with(a, b, (x,y) -> (x−y)²), 0.0, +)` it replaces
  * (same IEEE ops in the same order; float→double casts are exact) and
  * to DuckDB's list_sum fold — the PQ family's oracle-parity distance,
  * now codegen'd instead of per-element lambda dispatch (optimization
  * round 17, guide §4.1).
  */
case class L2SqExact(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "l2sq_exact"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = elemAt(a, left.dataType, i) - elemAt(b, right.dataType, i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val ga = elemGetter(left.dataType); val gb = elemGetter(right.dataType)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.$ga($i) - (double) $b.$gb($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

object VectorExpressions {

  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "l2sq_exact" -> (es => L2SqExact(es(0), es(1))),
    "minhash_signature" -> (es => MinHashSignature(es(0), es(1))),
    "minhash_match_count" -> (es => MinHashMatchCount(es(0), es(1))),
    "minhash_from_hashes" -> (es => MinHashFromHashes(es(0), es(1))),
    "word_shingles" -> (es => WordShingles(es(0), es(1))),
    "word_shingle_hashes" -> (es => WordShingleHashes(es(0), es(1))),
    "word_window_fp128" -> (es => WordWindowFp128(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es(0), es(1))),
    "simhash64b" -> (es => SimHash64B(es(0), es(1))),
    "simhash64both" -> (es => SimHash64Both(es(0), es(1))),
    "hyperplane_bucket" -> (es => HyperplaneBucket(es(0), es(1), es(2))),
    "nfc_normalize" -> (es => NfcNormalize(es(0))),
    "capped_collect" -> (es => CappedCollect(es(0), es(1))))

  /** Register the expressions in the session's function registry
    * (idempotent; call from any session setup path).
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      if (!spark.sessionState.functionRegistry
          .functionExists(FunctionIdentifier(name)))
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          name, builder, "built-in")
    }

  /** The same functions as SparkSessionExtensions injection descriptions
    * (for `graft.GraftExtensions` / spark.sql.extensions).
    */
  def descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    functions.map { case (name, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[VectorExpressions.type].getName, name),
        builder)
    }
}
