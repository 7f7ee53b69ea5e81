package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sums — the scale path for ordered running totals.
  *
  * `Window.partitionBy(group).orderBy(ord)` materializes EVERY row of a
  * group in one task: correct, but a single group at 100 TB is a
  * terabyte-scale sort on one executor. The two-pass shape here is how
  * a cumulative sum actually distributes:
  *
  *   1. rows are blocked by a DETERMINISTIC key (`ord / blockSpan` —
  *      no repartition sampling, no spark_partition_id, so the blocking
  *      is retry-safe and identical on any cluster layout);
  *   2. per-(group, block) totals — a tiny table (groups × blocks) —
  *      get exclusive running offsets with a window over BLOCKS;
  *   3. each row's prefix sum = its block's offset + a local cumsum
  *      whose window partition is one bounded block, never the group.
  *
  * The result is value-identical to the single-window form (exact
  * integer arithmetic, same total order); SkewSpec asserts the
  * equality and LayoutSpec-style bounded-partition behavior.
  */
object PrefixSum {

  /** Exclusive prefix sum of `valueCol` within each `groupCol`, ordered
    * by `ordCol` (long, unique within a group), as column `start`.
    * `blockSpan` bounds every local window partition to at most that
    * many distinct `ordCol` values.
    *
    * `ordCol` must be (approximately) DENSE: blocking is `ordCol /
    * blockSpan`, so the offsets table has one row per NONEMPTY block —
    * ~n/blockSpan rows for dense ids. With sparse ids (hash-derived or
    * widely shifted 64-bit keys) nearly every row lands in its own
    * block: the offsets table approaches corpus size and the per-group
    * block window degenerates into the single-task whole-group sort this
    * operator exists to avoid. Re-key sparse ids first (e.g. a dense
    * rank computed once, or this same two-pass shape over a coarser
    * span). No broadcast hint on the offsets join — for dense ids AQE
    * will pick the broadcast itself from the observed size, and for
    * sparse ids forcing one would OOM the driver; a shuffle join on
    * (group, block) is the safe fallback.
    */
  def exclusive(df: DataFrame, groupCol: String, ordCol: String,
      valueCol: String, blockSpan: Long = 8192L): DataFrame = {
    val block = (col(ordCol) / lit(blockSpan)).cast("long")
    val rows = df.withColumn("__blk", block)
    // one row per nonempty (group, block) — tiny iff ordCol is dense
    val bw = Window.partitionBy(groupCol).orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = rows.groupBy(col(groupCol), col("__blk"))
      .agg(sum(col(valueCol)).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(bw), lit(0L)))
      .drop("__tot")
    rows.join(offsets, Seq(groupCol, "__blk"))
      .withColumn("start", {
        val lw = Window.partitionBy(groupCol, "__blk").orderBy(ordCol)
          .rowsBetween(Window.unboundedPreceding, -1)
        col("__off") + coalesce(sum(col(valueCol)).over(lw), lit(0L))
      })
      .drop("__blk", "__off")
  }

  /** Sequence packing on top of the distributed prefix sum: pack_id =
    * exclusive prefix sum of token counts / budget (the concat-then-
    * chunk convention — a document starting inside pack p belongs to p
    * even when it spills into p+1).
    */
  def sequencePacks(docs: DataFrame, groupCol: String, ordCol: String,
      valueCol: String, budget: Long, blockSpan: Long = 8192L): DataFrame =
    exclusive(docs, groupCol, ordCol, valueCol, blockSpan)
      .withColumn("pack_id", (col("start") / lit(budget)).cast("long"))
}
