package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of and range joins — the two interval-flavored joins Spark lacks as
  * built-ins, composed from shuffle-friendly primitives (SURVEY §2.4
  * capability note; custom-operator preference order (a): compose
  * existing ops before reaching for a custom SparkPlan).
  */
object Joins {

  /** Backward as-of join: for every left row, the latest right row with
    * `tsCol` <= the left row's `tsCol`, per `keyCol`. Right columns in
    * `payloadCols` are appended with an `asof_` prefix (null when no
    * prior right row exists).
    *
    * Shape: tag both sides, union, ONE shuffle on the key, then an
    * ordered window carries the last right payload forward
    * (`last(ignoreNulls)`). No per-row subquery, no range explosion;
    * per-key state is a single carried row, so the plan survives any
    * corpus size and any key cardinality (AQE handles key skew).
    * A right row at exactly the left timestamp IS matched (side
    * ordering puts right before left within equal timestamps). Right
    * (key, ts) pairs should be unique — with duplicates the last in
    * (ts, payload) window order wins.
    */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    // field order must follow payloadCols (not right.schema order): the
    // populated struct below is built in payloadCols order, and unionByName
    // needs both sides' struct types to agree field-for-field
    val payloadType = StructType(payloadCols.map(n => right.schema(n)))
    val leftCols = left.columns.toSeq
    val l = left.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      lit(1).as("__side"),
      struct(leftCols.map(col): _*).as("__l"),
      lit(null).cast(payloadType).as("__r"))
    val r = right.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      lit(0).as("__side"),
      lit(null).cast(StructType(left.schema.fields)).as("__l"),
      struct(payloadCols.map(col): _*).as("__r"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val out = leftCols.map(c => col(s"__l.$c").as(c)) ++
      payloadCols.map(c => col(s"__match.$c").as(s"asof_$c"))
    carried.select(out: _*)
  }

  /** Range (interval-containment) join: pair each point row with every
    * interval row whose [startCol, endCol) contains `tsCol`.
    *
    * Shape: both sides get integer time-bucket keys (`bucketMs` wide);
    * intervals explode into the buckets they span; the join is a plain
    * EQUI-join on bucket followed by the exact containment filter. Each
    * (point, interval) pair meets in exactly ONE bucket (the point's),
    * so no distinct is needed. This is the scalable form — shuffle on
    * bucket id, never an O(n·m) theta join; pick `bucketMs` near the
    * median interval length so intervals explode into O(1) buckets.
    * (For a handful of intervals, `broadcast(intervals)` with the raw
    * range predicate is the degenerate fast path; Spark plans a
    * broadcast nested-loop automatically when the side is small.)
    */
  def rangeJoinByBucket(points: DataFrame, intervals: DataFrame,
      tsCol: String, startCol: String, endCol: String,
      bucketMs: Long): DataFrame = {
    def ms(c: Column): Column = unix_millis(c.cast("timestamp"))
    val p = points.withColumn("__b", floor(ms(col(tsCol)) / bucketMs))
    // guard: an invalid interval (end <= start) would make sequence()
    // auto-step DOWNWARD — one corrupt row with end << start explodes
    // into a huge bucket list. Such intervals contain no point ([s, e) is
    // empty), so emit no buckets at all (explode drops the null).
    val iv = intervals.withColumn("__b", explode(
      when(col(endCol) > col(startCol), sequence(
        floor(ms(col(startCol)) / bucketMs),
        floor((ms(col(endCol)) - 1) / bucketMs)))))
    p.join(iv, Seq("__b"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__b")
  }
}
