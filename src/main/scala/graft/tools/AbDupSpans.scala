package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft

/** Same-JVM, alternating A/B for the x36 window-fingerprint change
  * (md5-hex string vs word_window_fp128 two-long struct): the external
  * tenant oscillates on ~10-min cycles, so sequential old-vs-new runs
  * land in different load windows and are not comparable. Alternating
  * passes inside ONE session hit the same windows; min-of-N per variant
  * is the signal.
  *
  * Usage: runMain graft.tools.AbDupSpans [sfDir] [passes]
  */
object AbDupSpans {

  /** The round-16 windowFingerprints + dupSpans shape, verbatim (md5 hex
    * string fingerprint) — kept here only as the A/B baseline.
    */
  private def oldDupSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    val wins = df.select(col(idCol).as("id"),
        posexplode(call_function("word_shingles", col(textCol), lit(width)))
          .as(Seq("i0", "sh")))
      .select(col("id"), (col("i0") + 1).as("b"), md5(col("sh")).as("f"))
    val dupF = wins.groupBy("f")
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select("f")
    val dup = wins.join(dupF, "f")
      .select(col("id"), col("b"), (col("b") + lit(width - 1)).as("e"))
    val byPos = Window.partitionBy("id").orderBy("b")
    val preceding = byPos.rowsBetween(Window.unboundedPreceding, -1)
    dup
      .withColumn("newSpan",
        when(col("b") > coalesce(max(col("e")).over(preceding), lit(-1L)) + 1,
          1).otherwise(0))
      .withColumn("g", sum(col("newSpan")).over(byPos))
      .groupBy(col("id"), col("g"))
      .agg(min(col("b")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(1).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)
    def load(): String =
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ").take(2).mkString("/")
    val docs = Graft.table(spark, sfDir, "documents")
    val variants: Seq[(String, () => Long)] = Seq(
      "old_md5" -> (() =>
        oldDupSpans(docs, "doc_id", "text", 8).count()),
      "new_fp128" -> (() =>
        graft.operators.Dedup.dupSpans(docs, "doc_id", "text", 8).count()))
    val best = scala.collection.mutable.Map[String, Double]()
    for (p <- 1 to passes; (name, run) <- variants) {
      val l0 = load()
      val t0 = System.nanoTime()
      val rows = run()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[ab] pass$p $name%-10s $dt%7.2f s  rows=$rows  load=$l0->${load()}")
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
    }
    best.toSeq.sortBy(_._1).foreach { case (n, t) =>
      println(f"[ab] best  $n%-10s $t%7.2f s") }
    spark.stop()
  }
}
