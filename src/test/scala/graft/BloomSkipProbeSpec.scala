package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Probe: does THIS build's parquet reader use column bloom filters to
  * skip row groups on point-equality predicates over a column whose
  * min/max stats cannot prune (high-cardinality, hash-distributed)?
  * If yes, that is the point-lookup analogue of LayoutSpec's range
  * skipping — a needle query at 100 TB reads only the groups whose
  * bloom might contain the key.
  */
class BloomSkipProbeSpec extends SparkSpec {

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec =>
      s.metrics("numOutputRows").value }.sum
  }

  test("probe: bloom-filtered point lookup vs plain stats on a hash column") {
    val dir = "/root/testdata/sf0.01"
    val base = "/tmp/graft_bloomskip"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 128 * 1024)
    try {
      // a hash-valued key: min/max stats span the domain in EVERY row
      // group, so only a bloom filter can prune point lookups
      val li = Graft.table(spark, dir, "lineitem")
        .select(xxhash64(col("l_orderkey"), col("l_linenumber")).as("k"),
          col("l_quantity"))
      val needle = li.select("k").head().getLong(0)
      li.repartition(4).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", "60000")
        .parquet(s"$base/bloom")
      li.repartition(4).write.mode("overwrite").parquet(s"$base/plain")

      val total = li.count()
      def lookup(path: String) =
        spark.read.parquet(path).filter(col("k") === needle)
      assert(lookup(s"$base/bloom").count() == 1L)

      val bloomRead = scanRows(lookup(s"$base/bloom"))
      val plainRead = scanRows(lookup(s"$base/plain"))
      info(s"bloom layout read $bloomRead of $total; plain read $plainRead")
      // measured on this build: the reader consults the bloom (8191 of
      // 60175 at sf0.01 — the needle's own row group only) while the
      // plain layout decodes everything
      assert(plainRead > (total * 9) / 10,
        s"plain layout should read ~all rows: $plainRead of $total")
      assert(bloomRead < plainRead / 4,
        s"bloom should skip most groups: bloom=$bloomRead plain=$plainRead")
    } finally hc.unset("parquet.block.size")
  }

  test("p16 declares the bloom skip: memo records rows-read well under rows-total") {
    val dir = "/root/testdata/sf0.01"
    val df = SparkEntry.queries("p16_bloom_point_lookup")(spark, dir)
    assert(df.count() == 1L, "the needle lookup must return exactly one row")
    val stats = graft.queries.Core.layoutSkip.get(s"$dir bloom")
    assert(stats != null, "the bloom-layout memo must record its measured skip")
    val (read, total) = stats
    assert(read > 0 && total > 0)
    assert(read.toDouble / total < 0.5,
      s"bloom should skip most rows on the point lookup: read=$read total=$total")
  }
}
