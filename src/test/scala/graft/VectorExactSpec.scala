package graft

import org.apache.spark.sql.functions._

/** Bit-equality pins for the native exact-arithmetic vector
  * expressions that replaced interpreted builtin folds on the hot path
  * (optimization round 17): the oracle-parity contract is that the
  * native loop produces the IDENTICAL double, not an approximation.
  */
class VectorExactSpec extends SparkSpec {

  test("l2sq_exact is bit-identical to the aggregate(zip_with) fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(64) { i =>
      val n = 1 + rnd.nextInt(16)
      (Seq.fill(n)(rnd.nextFloat() * 2 - 1f),
        Seq.fill(n)(rnd.nextFloat() * 2 - 1f))
    } :+ ((Seq(0.1f, -0.2f, 0.3f), Seq(0.1f, -0.2f, 0.3f))) // zero distance
    val df = rows.toDF("a", "b")
    val builtin = aggregate(
      zip_with(col("a"), col("b"), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0d), (acc, v) => acc + v)
    val got = df.select(
      call_function("l2sq_exact", col("a"), col("b")).as("n"),
      builtin.as("e")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != builtin ${r.getDouble(1)}")
    }
    // double-element arrays (the residual path) hit the other getter
    val dd = Seq((Seq(0.25, -1.5, 3.125), Seq(1.0, 2.0, -0.5)))
      .toDF("a", "b")
    val r2 = dd.select(
      call_function("l2sq_exact", col("a"), col("b")).as("n"),
      builtin.as("e")).head()
    assert(java.lang.Double.doubleToLongBits(r2.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r2.getDouble(1)))
  }
}
