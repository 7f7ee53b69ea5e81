package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Bridge for the session plan memo (`graft.PlanMemo`): the `private[sql]`
  * and `private[spark]` members it needs, and no policy of its own.
  */
object GraftPlanBridge {

  /** True when `df` and its session are the classic (in-process) kind,
    * the only kind [[replay]] can rebuild.
    */
  def replayable(s: SparkSession, df: DataFrame): Boolean =
    s.isInstanceOf[classic.SparkSession] && df.isInstanceOf[classic.Dataset[_]]

  /** A fresh DataFrame over a memoized analyzed and optimized plan: its
    * `QueryExecution` skips analysis and optimization and returns those
    * plans, but plans physically and executes anew. Spark's planning
    * phase plans from `optimizedPlan.clone()`, so every execution gets
    * its own `SparkPlan`: no physical plan, broadcast, subquery result
    * or shuffle output is shared with an earlier execution. This is the
    * form for a plan that holds data; one that holds none is [[rerun]].
    */
  def replay(s: SparkSession, analyzedPlan: LogicalPlan,
      optimized: LogicalPlan, encoder: Encoder[Row]): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    val qe = new QueryExecution(cs, analyzedPlan) {
      override def analyzed: LogicalPlan = analyzedPlan
      override def optimizedPlan: LogicalPlan = optimized
    }
    cs.withActive(new classic.Dataset[Row](qe, encoder))
  }

  /** A fresh DataFrame that runs `kept`'s executed plan again, as a
    * second action on one DataFrame does: its `QueryExecution` returns
    * `kept`'s logical, physical and executed plans, so it records no
    * phase. Each action still builds its own
    * RDD chain from the kept plan and reads its scans anew; only the
    * plan, its read metadata and (under AQE) its final plan are shared.
    * The caller must keep only a plan that holds no data (no exchange,
    * subquery, cached data or observed metrics), or later executions
    * would reuse the first one's results.
    */
  def rerun(s: SparkSession, kept: QueryExecution, encoder: Encoder[Row]): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    val analyzedPlan = kept.analyzed
    val optimized = kept.optimizedPlan
    val physical = kept.sparkPlan
    val executed = kept.executedPlan
    val qe = new QueryExecution(cs, analyzedPlan) {
      override def analyzed: LogicalPlan = analyzedPlan
      override def optimizedPlan: LogicalPlan = optimized
      override def sparkPlan: SparkPlan = physical
      override def executedPlan: SparkPlan = executed
    }
    cs.withActive(new classic.Dataset[Row](qe, encoder))
  }

  /** Post `e` to every listener of `sc`, behind the events posted before
    * it (the listener bus is `private[spark]`).
    */
  def post(sc: SparkContext, e: SparkListenerEvent): Unit =
    sc.listenerBus.post(e)
}
