package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** A one-slot session ([[Graft.oneSlot]]) runs each of these queries as
  * one stage: the final executed plan holds no `ShuffleExchangeExec`,
  * and every answer equals the four-slot one (order-insensitive digest).
  * Their executed plans hold no data there, so the plan memo reruns
  * them: a third call reports `rerun`, records no planning phase, runs
  * one job and answers as four slots do.
  *
  * The suites share one `local[4]` context, and a JVM holds one context,
  * so the one-slot side runs in a child JVM on this JVM's class path
  * (the companion's `main`) with its own at-rest memo dir, so x7's and
  * v5's memos are built, not reloaded, under `local[1]`.
  */
class OneSlotPlanSpec extends SparkSpec {
  import OneSlotPlanSpec._

  test("one slot: o1, o4, o5, o11, o13, x7, x8 and v5 plan no shuffle exchange and answer as four slots do") {
    assert(!Graft.oneSlot(spark))
    val four = Queries.map(n => n -> answer(spark, n)._1).toMap
    val tmp = Files.createTempDirectory("graft-one-slot")
    try {
      val out = tmp.resolve("answers.tsv")
      val log = tmp.resolve("child.log")
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
      val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
        Seq("-Xmx2g", "-cp", sys.props("java.class.path"),
          "graft.OneSlotPlanSpec", tmp.resolve("rest").toString, out.toString)
      val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      val done = child.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) child.destroyForcibly()
      def tail = Files.readAllLines(log).asScala.takeRight(40).mkString("\n")
      assert(done && child.exitValue == 0, s"one-slot child failed:\n$tail")
      val lines = Files.readAllLines(out).asScala.map(_.split("\t"))
      val one = lines.collect {
        case Array(n, exchanges, digest) => n -> (exchanges.toInt, digest)
      }.toMap
      val third = lines.collect {
        case Array("third", n, outcome, phases, jobs, digest) =>
          n -> (outcome, phases, jobs.toInt, digest)
      }.toMap
      assert(one.keySet == Queries.toSet && third.keySet == Queries.toSet)
      Queries.foreach { n =>
        val (exchanges, digest) = one(n)
        assert(exchanges == 0, s"$n: $exchanges shuffle exchanges at one slot")
        assert(digest == four(n), s"$n: the one-slot answer differs from four slots'")
        val (outcome, phases, jobs, digest3) = third(n)
        assert(outcome == "rerun", s"$n: a third call at one slot reported $outcome")
        assert(phases == "none", s"$n: a rerun recorded the phases $phases")
        assert(jobs == 1, s"$n: a rerun at one slot ran $jobs jobs")
        assert(digest3 == four(n), s"$n: the rerun answer differs from four slots'")
      }
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

object OneSlotPlanSpec {
  val SfDir = "/root/testdata/sf0.01"
  val Queries = Seq("o1_doc_count", "o4_top_contributors", "o5_most_referenced",
    "o11_edits_by_dow", "o13_key_census", "x7_minhash_neardups",
    "x8_simhash_neardups", "v5_cosine_neardups")

  /** Collect query `name`: its order-insensitive digest (rows rendered,
    * sorted, SHA-256) and the shuffle exchanges of its final plan.
    */
  def answer(spark: SparkSession, name: String): (String, Int) = {
    val df: DataFrame = SparkEntry.queries(name)(spark, SfDir)
    val digest = digestOf(df.collect())
    val exchanges = flatten(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    spark.catalog.clearCache()
    (digest, exchanges)
  }

  private def digestOf(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Every node of a plan, through AQE's wrappers and subqueries. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case r: ReusedExchangeExec => p +: flatten(r.child)
    case _ => p +: (p.children ++ p.subqueries).flatMap(flatten)
  }

  /** Call query `name` again and collect it: the plan memo's outcome,
    * the tracker phases (`none` when there are none), the jobs the
    * collect starts and the digest.
    */
  def repeat(spark: SparkSession, name: String): (String, String, Int, String) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    PlanMemo.drainOutcomes()
    val df = SparkEntry.queries(name)(spark, SfDir)
    val outcome = PlanMemo.drainOutcomes().getOrElse(name, "-")
    org.apache.spark.ListenerBusProbe.drain(sc)
    sc.addSparkListener(listener)
    val rows = try {
      val r = df.collect()
      org.apache.spark.ListenerBusProbe.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    val phases = df.queryExecution.tracker.phases.keys.toSeq.sorted
    (outcome, if (phases.isEmpty) "none" else phases.mkString(","), jobs.get(),
      digestOf(rows))
  }

  /** The one-slot side: `<restDir> <out>`; writes one
    * `name<TAB>exchanges<TAB>digest` line per query, then, after a second
    * call of each, one `third<TAB>name<TAB>outcome<TAB>phases<TAB>jobs<TAB>digest`
    * line per query.
    */
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[1]", 1, Seq("graft.memo.restDir" -> args(0)))
    try {
      require(Graft.oneSlot(spark))
      val lines = Queries.map { n =>
        val (digest, exchanges) = answer(spark, n)
        s"$n\t$exchanges\t$digest"
      }
      Queries.foreach(repeat(spark, _))
      val third = Queries.map { n =>
        val (outcome, phases, jobs, digest) = repeat(spark, n)
        s"third\t$n\t$outcome\t$phases\t$jobs\t$digest"
      }
      Files.write(Path.of(args(1)), (lines ++ third).asJava)
    } finally spark.stop()
  }
}
