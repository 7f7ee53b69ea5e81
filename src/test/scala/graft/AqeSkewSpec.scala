package graft

import org.apache.spark.sql.functions._

/** AQE skew-join splitting — the FIRST line of defense in the skew
  * story (README "Scale posture"): a sort-merge join whose one hot key
  * overflows its partition gets that partition split into parallel
  * sub-joins at runtime, no code change. `operators/Skew` exists for the
  * cases AQE cannot rebalance (aggregation state, non-SMJ shapes); this
  * spec pins that the free path actually fires on this build.
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE marks and splits the skewed partition in a sort-merge join") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8192")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // the ADAPTIVE broadcast threshold falls back to the static one only
    // while unset — if an earlier suite left it explicitly set, AQE
    // would convert this SMJ to broadcast and no skew split can fire;
    // pin it for the test, restore the unset-vs-set state exactly
    val adaptKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevAdapt = spark.conf.getOption(adaptKey)
    spark.conf.set(adaptKey, "-1")
    try {
      // one hot key carrying 300k wide rows (the pad survives the join,
      // so the shuffled partition is genuinely megabytes) vs 200 uniform
      // keys; the right side's hot key is small — skew split duplicates
      // it per sub-partition
      val big = spark.range(0, 320000).select(
        when(col("id") < 300000, lit("hot"))
          .otherwise(concat(lit("k"), col("id") % 200)).as("key"),
        col("id"),
        lpad(col("id").cast("string"), 128, "x").as("pad"))
      val right = spark.range(0, 1010).select(
        when(col("id") < 10, lit("hot"))
          .otherwise(concat(lit("k"), col("id") % 200)).as("key"),
        col("id").as("rid"))
      val j = big.join(right, Seq("key"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      val Array(row) = j.collect()
      // sanity: the hot key dominates (300k x 10 pairs of the ~3.1M total)
      assert(row.getLong(0) > 3000000L)
      val planStr = j.queryExecution.executedPlan.toString
      assert(planStr.contains("skew=true"),
        s"AQE should have split the skewed partition:\n${planStr.take(3000)}")
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      prevAdapt match {
        case Some(v) => spark.conf.set(adaptKey, v)
        case None => spark.conf.unset(adaptKey)
      }
    }
  }
}
