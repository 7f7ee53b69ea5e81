package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

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
  * on a fresh identical frame (`[plan ]`).
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
    val stages = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val dur = (for { s <- si.submissionTime; c <- si.completionTime }
          yield (c - s) / 1000.0).getOrElse(0.0)
        if (staged.get() && dur >= 0.05)
          println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"$dur%6.2f s  in=${m.inputMetrics.bytesRead / 1e6}%8.1f MB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB/" +
            f"${m.shuffleReadMetrics.recordsRead}%8d " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
            f"gc=${m.jvmGCTime}%5d ms  " +
            si.name.takeWhile(_ != '\n').take(70))
      }
    }
    spark.sparkContext.addSparkListener(stages)
    val best = scala.collection.mutable.TreeMap[String, Double]()
    val failed = scala.collection.mutable.TreeMap[String, String]()
    for (p <- 1 to passes; n <- names) {
      staged.set(p == passes)
      Bench.timeCount(spark, sfDir, SparkEntry.queries(n)(_, _)) match {
        case Right(dt) =>
          // let stage-completed events drain before the time line
          if (p == passes) Thread.sleep(300)
          println(f"[time] pass$p $n%-28s $dt%8.2f s")
          best(n) = math.min(best.getOrElse(n, Double.MaxValue), dt)
          if (p == passes) {
            val f2 = SparkEntry.queries(n)(spark, sfDir)
            val t1 = System.nanoTime()
            f2.queryExecution.executedPlan
            println(f"[plan ] $n ${(System.nanoTime() - t1) / 1e9}%8.2f s (analyze+optimize+plan)")
          }
        case Left(msg) =>
          println(s"[time] pass$p $n failed: $msg")
          failed(n) = msg
      }
      spark.catalog.clearCache()
    }
    best.foreach { case (n, t) =>
      if (!failed.contains(n)) println(f"[time] best  $n%-28s $t%8.2f s") }
    failed.foreach { case (n, msg) => println(s"[time] failed $n: $msg") }
    spark.sparkContext.removeSparkListener(stages)
    spark.stop()
  }
}
