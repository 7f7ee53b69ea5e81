package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, StageInfo}

import graft.{Bench, Graft, SparkEntry}

/** Time a few declared queries in one warm JVM — the focused follow-up
  * to a Bench anomaly (full Bench re-runs everything; this re-measures
  * just the suspects, same tuning, min-of-N per query, each pass timed
  * by `Bench.timeCount`, so a query that throws is reported as failed
  * and the run goes on).
  *
  * The LAST pass (warm when passes ≥ 2) also shows where the time goes,
  * without the (disabled) Spark UI: every completed stage of ≥ 50 ms
  * with its task count, input/shuffle bytes and records and GC
  * (`[stage]`), and the query's driver-side analyze+optimize+plan time
  * on a fresh identical frame (`[plan ]`; a plan memo hit skips analyze
  * and optimize, a rerun all three: `none`). Every `[time]` line carries
  * the plan memo's outcome for that pass
  * (`plan=rerun|hit|built|uncacheable:<reason>`, see
  * `PlanMemo`). Each pass's jobs carry the
  * query's name as their job description, and a `[stage]` line names
  * its query and the operator scopes of its RDDs (`Exchange`,
  * `WholeStageCodegen (n)`, ...): the stage's call site on this Spark
  * build is the async AQE one for nearly every stage.
  *
  * Usage: runMain graft.tools.TimeQuery <name[,name...]> [sfDir] [passes]
  *          [key=value ... session confs]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val (confs, pos) = Graft.splitArgs(args.toSeq)
    val names = pos.head.split(",").toSeq
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = pos.lift(2).fold(2)(_.toInt)
    val spark = Graft.session(confs = confs)
    val staged = new java.util.concurrent.atomic.AtomicBoolean(false)
    val described = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new SparkListener {
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        Option(ss.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(described.put(ss.stageInfo.stageId, _))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val query = Option(described.remove(si.stageId)).getOrElse("-")
        val m = si.taskMetrics
        val dur = (for { s <- si.submissionTime; c <- si.completionTime }
          yield (c - s) / 1000.0).getOrElse(0.0)
        if (staged.get() && dur >= 0.05)
          println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"$dur%6.2f s  in=${m.inputMetrics.bytesRead / 1e6}%8.1f MB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB/" +
            f"${m.shuffleReadMetrics.recordsRead}%8d " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
            f"gc=${m.jvmGCTime}%5d ms  $query  ${scopes(si)}")
      }
    }
    spark.sparkContext.addSparkListener(stages)
    val best = scala.collection.mutable.TreeMap[String, Double]()
    val failed = scala.collection.mutable.TreeMap[String, String]()
    for (p <- 1 to passes; n <- names) {
      staged.set(p == passes)
      spark.sparkContext.setJobDescription(n)
      Bench.timeCount(spark, sfDir, SparkEntry.queries(n)(_, _)) match {
        case Right(dt) =>
          // let stage-completed events drain before the time line
          if (p == passes) Thread.sleep(300)
          println(f"[time] pass$p $n%-28s $dt%8.2f s  plan=${planOutcome(n)}")
          best(n) = math.min(best.getOrElse(n, Double.MaxValue), dt)
          if (p == passes) {
            val f2 = SparkEntry.queries(n)(spark, sfDir)
            val outcome = planOutcome(n)
            val t1 = System.nanoTime()
            f2.queryExecution.executedPlan
            val phases = outcome match {
              case "rerun" => "none"
              case "hit" => "plan"
              case _ => "analyze+optimize+plan"
            }
            println(f"[plan ] $n ${(System.nanoTime() - t1) / 1e9}%8.2f s " +
              s"($phases; plan=$outcome)")
          }
        case Left(msg) =>
          println(s"[time] pass$p $n failed: $msg")
          failed(n) = msg
      }
      spark.sparkContext.setJobDescription(null)
      spark.catalog.clearCache()
    }
    best.foreach { case (n, t) =>
      if (!failed.contains(n)) println(f"[time] best  $n%-28s $t%8.2f s") }
    failed.foreach { case (n, msg) => println(s"[time] failed $n: $msg") }
    spark.sparkContext.removeSparkListener(stages)
    spark.stop()
  }

  /** The plan memo's outcome for `n`'s last build (`rerun`, `hit`,
    * `built` or `uncacheable:<reason>`): a repeat that rebuilt shows here.
    */
  private def planOutcome(n: String): String =
    graft.PlanMemo.drainOutcomes().getOrElse(n, "-")

  /** The distinct operator scopes of a stage's RDDs in the order the
    * rows flow (`Scan parquet -> WholeStageCodegen (1) -> Exchange`): the
    * physical operators the stage ran.
    */
  private def scopes(si: StageInfo): String =
    si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
      .mkString(" -> ")
}
