package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft

/** Synthesize sf1 testdata from sf0.1 for the headroom bench: `factor`
  * key-shifted copies of the fact/content tables, dims (region, nation)
  * kept fixed — like real TPC-H, where scale grows facts but not
  * nations. Key stride 10M clears every sf0.1 key range, so joins keep
  * exactly one match per shifted key and per-key group sizes are
  * preserved (10× groups, not 10×-deep groups).
  *
  * documents and embeddings must NOT be near-identical across copies:
  * 10 clones of every doc put each doc in a 10-member near-dup group,
  * which quadratically densifies every candidate bucket (measured: x6
  * 319 s, v7 106 s at sf1) — a pathology of the scale-up, not of a real
  * 10× corpus. Instead each copy is an INDEPENDENT shard with the same
  * internal similarity structure as the original:
  *   - documents: every token gets a per-copy suffix → copies share no
  *     shingles, within-copy Jaccard is unchanged;
  *   - embeddings: per-copy circular rotation → an isometry (within-copy
  *     cosines exactly preserved), cross-copy similarity ~random.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [factor]
  *          [key=value ... session confs]
  */
object ScaleUp {

  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val (confs, pos) = Graft.splitArgs(args.toSeq)
    val src = pos.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = pos.lift(1).getOrElse("/dev/shm/graft-sf1")
    val factor = pos.lift(2).fold(10)(_.toInt)
    val spark = Graft.session(confs = confs)
    synthesize(spark, src, out, factor)
    spark.stop()
  }

  /** True when `out` already holds a complete synthesis (every table
    * written — `embeddings` is last, so its _SUCCESS marker suffices).
    */
  def present(out: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/embeddings.parquet/_SUCCESS"))

  /** Idempotent: reuses an existing complete synthesis at `out`. */
  def ensure(spark: SparkSession, src: String, out: String,
      factor: Int): Unit =
    if (!present(out)) synthesize(spark, src, out, factor)

  def synthesize(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {

    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    /** factor copies with `keys` shifted by i*Stride per copy. */
    def scaled(name: String, keys: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = load(name)
      val union = (0 until factor).map { i =>
        val sh = keys.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * Stride)))
        perCopy(sh, i)
      }.reduce(_ unionByName _)
      write(name, union)
    }

    // dims: copied once, unscaled
    write("region", load("region"))
    write("nation", load("nation"))

    scaled("customer", Seq("c_custkey"))
    scaled("supplier", Seq("s_suppkey"))
    scaled("part", Seq("p_partkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // events.ts arrives as raw long nanos (legacy.parquet.nanosAsLong)
    // and is written back as plain INT64 — Graft.table's `ts div 1000`
    // reads both encodings identically.
    scaled("events", Seq("event_id", "user_id"))
    scaled("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1" + ('a' + i - 1).toChar))
        .withColumn("n_chars", length(col("text")).cast("long")))
    scaled("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("embedding", concat(
        slice(col("embedding"), lit(i + 1), size(col("embedding")) - lit(i)),
        slice(col("embedding"), lit(1), lit(i)))))
  }
}
