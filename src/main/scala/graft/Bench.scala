package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.Json.{arr, num, obj, str}

/** The benchmark main. One [[section]] at the primary SF and,
  * from an sf0.1 dir, one at the synthesized sf1; then the scale probes
  * (SCALE_LAST.json). Prints the full JSON line (also BENCH_LAST.json)
  * and a compact summary line; README's "Bench artifact" reads the
  * fields. `key=value` arguments are session confs.
  */
object Bench {
  private[graft] type Query = (SparkSession, String) => DataFrame

  /** sf1 starts only with this much budget left. */
  private val MinLeftSec = 100

  /** What the scale probes take at sf0.1 on a 4-core host, rounded up:
    * 441 s without the 64x decade point (with `rest_reload`, in Bench),
    * 607 s with it (without `rest_reload`, standalone), so the decade
    * point adds about 200 s.
    */
  private[graft] val ProbeSec = 450
  private[graft] val DecadeSec = 200

  /** The JSON line is due this long after the budget ends. */
  private[graft] val GraceSec = 60

  /** The scale probes' gate, with `left` seconds of the budget left:
    * `None` when they would not end by the time the JSON line is due,
    * else whether the decade point fits too.
    */
  private[graft] def probeGate(left: Double): Option[Boolean] =
    if (left + GraceSec < ProbeSec) None
    else Some(left + GraceSec >= ProbeSec + DecadeSec)

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Time one declared query's `.count()`: `Right(seconds)` when it
    * returns, `Left(message)` when it throws — a failed query is never
    * timed as a success.
    */
  private[graft] def timeCount(spark: SparkSession, dir: String,
      fn: Query): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { fn(spark, dir).count(); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** One pass over `queries` in the given order while `keepGoing()`
    * holds: the per-query seconds of the queries that returned, the
    * error message of each one that threw (left out of the times, so no
    * total counts it), and the memo-shared queries: those whose build
    * consulted a memo slot holding built state (`SessionMemo.recorded`).
    */
  private[graft] def runPass(spark: SparkSession, tag: String, dir: String,
      queries: Seq[(String, Query)], keepGoing: () => Boolean = () => true)
      : (Map[String, Double], Map[String, String], Set[String]) = {
    val times = Map.newBuilder[String, Double]
    val failed = Map.newBuilder[String, String]
    val shared = Set.newBuilder[String]
    queries.iterator.takeWhile(_ => keepGoing()).foreach { case (name, fn) =>
      val g0 = gcMillis()
      val (outcome, deps) = SessionMemo.recorded(timeCount(spark, dir, fn))
      if (deps.exists(holdsState)) shared += name
      outcome match {
        case Right(dt) =>
          System.err.println(f"[$tag] $name%-28s $dt%8.2f s  gc=${gcMillis() - g0}%5d ms")
          times += name -> dt
        case Left(msg) =>
          System.err.println(s"[$tag] $name failed: $msg")
          failed += name -> msg
      }
      // operators may persist() intermediates (LSH signatures); release
      // them THROUGH THE CACHE MANAGER, not just the RDDs. Unpersisting
      // only the RDDs leaks CacheManager plan entries, and every later
      // query then pays canonicalized-plan comparison against dozens of
      // huge cached plans at analysis time — measured as a 2.5s query
      // degrading to 88s by the end of a 48-query pass. clearCache()
      // unpersists non-blocking and empties the entry list.
      spark.catalog.clearCache()
    }
    (times.result(), failed.result(), shared.result())
  }

  /** False for a slot that holds only a plan over table reads (a
    * read-plan or lane entry); true for a memo of built state, each of
    * which a prebuild item also resolves.
    */
  private def holdsState(d: SessionMemo.Dep): Boolean = d.entry.value match {
    case df: Dataset[_] =>
      !df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LogicalRelation])
    case _ => true
  }

  /** One section's outcome: build seconds per item (with the
    * [[Prebuild]] sentinels), min seconds per query over the passes,
    * pass-1 seconds, how many queries pass 2 timed, the message of every
    * query that threw in any pass (out of both time maps), the at-rest
    * memo outcomes (name → built/reloaded), and the memo-shared queries
    * of every pass ([[runPass]]).
    */
  private[graft] final case class Section(builds: Seq[(String, Double)],
      times: Map[String, Double], pass1: Map[String, Double], pass2N: Int,
      failed: Map[String, String], memoRest: Map[String, String],
      memoShared: Set[String])

  /** One section: the timed builds phase (`build` gets the go-test,
    * which stops it halfway to `until`), so the queries are timed warm;
    * then up to `passes` passes, each cut at `until` — pass 1 only when
    * `cutFirst` — keeping the min per query: one stall can no longer
    * poison a number. Drains the at-rest memo outcomes, so a memo a pass
    * built lazily is this section's. `mark` names each phase's end.
    */
  private[graft] def section(spark: SparkSession, tag: String, dir: String,
      queries: Seq[(String, Query)], passes: Int, until: Long,
      cutFirst: Boolean, build: (() => Boolean) => Seq[(String, Double)],
      mark: String => Unit = _ => ()): Section = {
    val buildCut = System.nanoTime() / 2 + until / 2
    val builds =
      try build(() => System.nanoTime() < buildCut)
      catch { case e: Throwable =>
        System.err.println(s"[$tag-build] prebuild failed: ${e.getMessage}"); Nil }
    builds.foreach { case (n, s) => System.err.println(f"[$tag-build] $n%-28s $s%8.2f s") }
    mark("after_builds")
    var failed = Map.empty[String, String]
    var shared = Set.empty[String]
    val runs = (1 to passes).map { p =>
      val (t, f, m) = runPass(spark, if (p == 1) tag else s"$tag$p", dir, queries,
        if (p == 1 && !cutFirst) () => true else () => System.nanoTime() < until)
      failed ++= f
      shared ++= m
      if (p == 1) mark("after_pass1")
      t
    }
    val pass1 = runs.head -- failed.keys
    Section(builds, pass1.transform((q, _) => runs.flatMap(_.get(q)).min),
      pass1, runs.lift(1).fold(0)(_.size), failed, RestMemo.drainOutcomes(), shared)
  }

  private def nums(kvs: Seq[(String, Double)]): String =
    obj(kvs.map { case (k, v) => k -> num(v) })

  private def strs(m: Map[String, String]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) })

  /** A section's builds and at-rest memo fields, keys behind `prefix`
    * ("" or "sf1_"). `complete` holds only when every item was built up
    * front: a skipped or failed build falls back to lazy first-family-
    * member charging and must not read as built.
    */
  private[graft] def sectionFields(prefix: String, s: Section): Seq[(String, String)] = {
    val done = s.builds.filter(_._2 >= 0)
    val skipped = s.builds.filter(_._2 == Prebuild.Skipped).map(_._1)
    val failed = s.builds.filter(_._2 <= Prebuild.Failed).map(_._1)
    def memo(v: String) = arr(s.memoRest.toSeq.filter(_._2 == v).map(_._1).sorted)
    (if (s.builds.isEmpty) Nil else Seq(s"${prefix}builds" -> obj(Seq(
      "total" -> num(done.map(_._2).sum), "n" -> done.size.toString,
      "complete" -> (skipped.isEmpty && failed.isEmpty).toString,
      "items" -> nums(done), "skipped" -> arr(skipped), "failed" -> arr(failed))))) ++
      (if (s.memoRest.isEmpty) Nil else Seq(s"${prefix}memo_rest" ->
        obj(Seq("built" -> memo("built"), "reloaded" -> memo("reloaded")))))
  }

  /** The full contract line and the summary line. A reader that keeps
    * only a ~2000-char tail of stdout still gets the summary (total,
    * counts, the 10 slowest queries): it is printed last and points at
    * BENCH_LAST.json.
    */
  private[graft] def lines(sfDir: String, sf1Dir: String, primary: Section,
      sf1: Either[String, Section], loads: Seq[(String, Double)]): (String, String) = {
    import scala.jdk.CollectionConverters._
    def perDir(key: String, m: java.util.Map[String, (Long, Long)])(
        f: (Long, Long) => Seq[(String, String)]) =
      if (m.isEmpty) Nil
      else Seq(key -> obj(m.asScala.toSeq.sortBy(_._1).map { case (d, (a, b)) =>
        d -> obj(f(a, b)) }))
    val sf1Fields = sf1 match {
      case Left(why) => Seq("sf1_skipped" -> str(why))
      case Right(s) =>
        (if (s.times.isEmpty) Nil else Seq("sf1" -> obj(Seq(
          "dir" -> str(sf1Dir), "total" -> num(s.times.values.sum),
          "pass1_total" -> num(s.pass1.values.sum), "pass1_n" -> s.pass1.size.toString,
          "n_queries" -> s.times.size.toString,
          "complete" -> (s.times.size == SparkEntry.queries.size).toString,
          // 2 only when pass 2 re-timed every query
          "min_of" -> (if (s.pass2N >= s.times.size) "2" else "1"),
          "pass2_n" -> s.pass2N.toString,
          "queries" -> nums(s.times.toSeq.sortBy(_._1)))))) ++
          (if (s.failed.isEmpty) Nil else Seq("sf1_failed" -> strs(s.failed))) ++
          sectionFields("sf1_", s)
    }
    val total = num(primary.times.values.sum)
    val line = obj(Seq("metric" -> str("total"), "value" -> total, "unit" -> str("sec"),
      "queries" -> nums(primary.times.toSeq.sortBy(_._1)),
      "failed" -> strs(primary.failed), "pass2_n" -> primary.pass2N.toString,
      "memo_shared" -> arr(primary.memoShared.toSeq.sorted),
      "sf" -> str(sfDir)) ++ sectionFields("", primary) ++ sf1Fields ++
      perDir("layout_skip", graft.queries.Core.layoutSkip) { (read, rows) =>
        Seq("rows_read" -> read.toString, "rows_total" -> rows.toString,
          "read_fraction" -> f"${if (rows > 0) read.toDouble / rows else 0.0}%.4f")
      } ++
      perDir("bucket_join", graft.queries.Core.bucketJoin) { (ex, rows) =>
        Seq("shuffle_exchanges_below_join" -> ex.toString, "rows_joined" -> rows.toString)
      } :+ ("load_1m" -> nums(loads)))
    val summary = obj(Seq("metric" -> str("total"), "value" -> total,
      "unit" -> str("sec"), "sf" -> str(sfDir),
      "n_queries" -> primary.times.size.toString,
      "n_failed" -> primary.failed.size.toString,
      "slowest" -> nums(primary.times.toSeq.sortBy(-_._2).take(10))) ++
      sf1.toSeq.filter(_.times.nonEmpty).flatMap(s => Seq(
        "sf1_total" -> num(s.times.values.sum), "sf1_n" -> s.times.size.toString)) :+
      ("queries_file" -> str("BENCH_LAST.json")))
    (line, summary)
  }

  def main(args: Array[String]): Unit = {
    val spark = Graft.session(confs = Graft.splitArgs(args.toSeq)._1)
    def env(k: String, dflt: String) = sys.env.getOrElse(k, dflt)
    val sfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1Dir = env("SPARK_GRAFT_SF1_DIR", "/dev/shm/graft-sf1")
    val budget = env("SPARK_GRAFT_BENCH_BUDGET_SEC", "720").toLong
    // sf1 (10x) and the probes (16x the corpus) fit the time budget
    // only from the primary sf0.1
    val atSf01 = sfDir.stripSuffix("/").endsWith("sf0.1")
    val sf1On = atSf01 && env("SPARK_GRAFT_SF1", "1") == "1"
    // the 1-minute load average at each phase's end: this host is
    // multi-tenant and totals roam 10-30% with external load
    val loads = scala.collection.mutable.LinkedHashMap[String, Double]()
    def load(tag: String): Unit = loads(tag) =
      try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val byName = SparkEntry.queries.toSeq.sortBy(_._1)
    SparkEntry.warm(spark)
    load("start")
    // Every deadline comes from the one budget b, in seconds after t0:
    // the primary section ends at 0.5·b (0.8·b with sf1 off; its pass 1
    // always covers every query), sf1 at b + 60, when the JSON line is
    // due; each section's builds stop halfway through its window; sf1
    // starts only with MinLeftSec left; the probes (and their decade
    // point) only when what they take ends by b + 60 (probeGate).
    val t0 = System.nanoTime()
    def at(sec: Double): Long = t0 + (sec * 1e9).toLong
    def left: Double = budget - (System.nanoTime() - t0) / 1e9
    val primary = section(spark, "bench", sfDir, byName, passes = 4,
      at(if (sf1On) 0.5 * budget else 0.8 * budget), cutFirst = false,
      SparkEntry.prebuild(spark, sfDir, _), load)
    load("after_sf01")
    val sf1: Either[String, Section] =
      if (!sf1On) Left("disabled or non-sf0.1 dir")
      else if (left < MinLeftSec)
        Left(f"sf0.1 section ran to ${budget - left}%.0f s of the $budget s" +
          s" budget - under $MinLeftSec s left for sf1")
      else try {
        graft.tools.ScaleUp.ensure(spark, sfDir, sf1Dir, 10)
        // cheapest first by this run's sf0.1 pass 1: a cut pass loses
        // only the heavy tail
        Right(section(spark, "sf1", sf1Dir,
          byName.sortBy { case (n, _) => (primary.pass1.getOrElse(n, 0.0), n) },
          passes = 2, at(budget.toDouble + GraceSec), cutFirst = true,
          SparkEntry.prebuild(spark, sf1Dir, _)))
      } catch { case e: Throwable =>
        System.err.println(s"[sf1] skipped: ${e.getMessage}")
        Left(s"exception: ${e.getMessage}")
      }
    load("after_sf1")
    if (atSf01) probeGate(left) match {
      case Some(decade) =>
        try System.err.println("[scale] " + graft.tools.ScaleStress.writeProbes(
          spark, sfDir, decade = decade, restReload = true))
        catch { case e: Throwable => System.err.println(s"[scale] skipped: ${e.getMessage}") }
      case None =>
        System.err.println(f"[scale] skipped: $left%.0f s left, the probes take $ProbeSec s")
    }
    load("end")
    val (line, summary) = lines(sfDir, sf1Dir, primary, sf1, loads.toSeq)
    try Files.write(Paths.get("BENCH_LAST.json"), (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    println(line)
    println(summary)
  }
}
