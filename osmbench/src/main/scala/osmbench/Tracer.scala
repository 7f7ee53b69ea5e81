package osmbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The benchmark's own listener for the traced run. It keeps every job,
  * stage, task and SQL-execution event in memory (timestamps in epoch
  * ms) and attributes them to ops afterwards by time window: the client
  * is closed-loop and single-threaded, so everything that starts inside
  * an op's window belongs to that op.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.jobId, e.time)); events += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time); events += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.add(e.stageInfo.submissionTime.fold(System.currentTimeMillis())(_.longValue))
    events += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime / 1000000L,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled + m.memoryBytesSpilled))
    events += 1
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.add(Exec(s.executionId, s.time,
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
      events += 1
    case s: SparkListenerSQLExecutionEnd =>
      execEnds.put(s.executionId, s.time); events += 1
    case _ => ()
  }

  /** Wait (at most 5 s) until the listener bus has delivered everything:
    * no new event for 300 ms.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1L
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(300)
    }
  }

  /** Spark-side layer figures of the op that ran in [t0, t1] (epoch ms). */
  def summarize(t0: Long, t1: Long, slots: Int): Map[String, Double] = {
    def in(t: Long) = t >= t0 && t <= t1
    val js = jobs.asScala.filter(j => in(j.start)).toSeq
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val wall = math.max(1L, t1 - t0).toDouble
    // union of running-job intervals: driver self time is the rest
    val spans = js.map(j => (j.start, math.min(t1, jobEnds.getOrDefault(j.id, t1))))
      .sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val writeMs = execs.asScala.filter(x => x.write && in(x.start)).toSeq
      .map(x => math.min(t1, execEnds.getOrDefault(x.id, t1)) - x.start).sum
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.asScala.count(t => in(t)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> ts.map(_.cpuMs).sum.toDouble,
      "spark.slot_busy_frac" -> ts.map(t => t.finish - t.launch).sum / (wall * slots),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "queries.driver_self_ms" -> (wall - covered),
      "sinks.write_sql_ms" -> writeMs.toDouble)
  }
}

object Tracer {
  private final case class Job(id: Int, start: Long)
  private final case class Task(launch: Long, finish: Long, runMs: Long,
      cpuMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
  private final case class Exec(id: Long, start: Long, write: Boolean)
}
