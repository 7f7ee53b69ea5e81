package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipelines.OsmFixture
import graft.queries.OsmQueries
import graft.tools.GenOsm

/** The session plan memo (`PlanMemo`): a repeated declared query skips
  * analysis and optimization, and physical planning too when its
  * executed plan holds no data (a rerun of that plan); it answers as a
  * rebuild would, and rebuilds whenever anything its plan was derived
  * from may have changed.
  */
class PlanMemoSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def fresh(): SparkSession = Graft.tune(spark.newSession())

  private def outcome(name: String): String =
    PlanMemo.drainOutcomes().getOrElse(name, "-")

  /** Order-insensitive digest of a frame's rows. */
  private def digest(df: DataFrame): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case x => x.toString
    }
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map(x => f"$x%02x").mkString
  }

  private def tmpTable(tag: String, n: Int = 16): String = {
    val path = Files.createTempDirectory(s"planmemo-$tag")
      .resolve("t.parquet").toString
    spark.range(0, n).select(col("id"), (col("id") % 3).as("k"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Build a small private OSM fixture under the current root. */
  private def buildFixture(root: String, nNodes: Int, seed: Long): Unit = {
    GenOsm.write(OsmFixture.xmlPath, nNodes = nNodes, nWays = nNodes / 10,
      seed = seed)
    Files.writeString(Paths.get(root, "GENERATOR_VERSION"),
      OsmFixture.generatorVersion.toString)
    OsmFixture.build(spark)
  }

  test("a repeat of o4 has no analysis or optimization phase, a new executed plan and the same digest") {
    val root = Files.createTempDirectory("planmemo-osm").toString
    val o4 = SparkEntry.queries("o4_top_contributors")
    OsmFixture.withRoot(root) {
      buildFixture(root, 900, 1L)
      val s = fresh()
      try {
        val first = o4(s, "")
        val d0 = digest(first)
        assert(outcome("o4_top_contributors") == "built")
        assert(first.queryExecution.tracker.phases.contains("analysis"))
        val plans = (1 to 2).map { _ =>
          val again = o4(s, "")
          assert(outcome("o4_top_contributors") == "hit")
          assert(digest(again) == d0)
          val phases = again.queryExecution.tracker.phases.keySet
          assert(phases == Set("planning"),
            s"a hit must only plan physically, ran $phases")
          again.queryExecution.executedPlan
        }
        assert(plans(0) ne plans(1), "each hit must get its own executed plan")
        assert(plans(0) ne first.queryExecution.executedPlan)
        assert(PlanMemo.keptPlan(s, "o4_top_contributors", "").isEmpty,
          "o4 plans an exchange at four slots: its slot must keep no executed plan")
        // a runtime conf change rebuilds; the same confs hit again
        s.conf.set("spark.sql.shuffle.partitions", "3")
        assert(digest(o4(s, "")) == d0)
        assert(outcome("o4_top_contributors") == "built")
        o4(s, "")
        assert(outcome("o4_top_contributors") == "hit")
      } finally SessionMemo.endSession(s)
    }
  }

  test("v5 executed on two hits runs the same jobs as a rebuild") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s = fresh()
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(df: => DataFrame): (Int, String) = {
      val built = df
      org.apache.spark.ListenerBusProbe.drain(sc)
      val before = jobs.get()
      val d = digest(built)
      org.apache.spark.ListenerBusProbe.drain(sc)
      (jobs.get() - before, d)
    }
    sc.addSparkListener(listener)
    try {
      val v5 = SparkEntry.queries("v5_cosine_neardups")
      v5(s, sfDir).collect() // memo and plan
      assert(outcome("v5_cosine_neardups") == "built")
      val hits = (1 to 2).map { _ =>
        val r = jobsOf(v5(s, sfDir))
        assert(outcome("v5_cosine_neardups") == "hit")
        r
      }
      val rebuilt = jobsOf(SparkEntry.all("v5_cosine_neardups").fn(s, sfDir))
      assert(hits.head._1 > 0)
      assert(hits.distinct == Seq(rebuilt), s"hits $hits, rebuild $rebuilt")
    } finally {
      sc.removeSparkListener(listener)
      SessionMemo.endSession(s)
    }
  }

  test("o4 rebuilds when its fixture is rewritten or its root is switched") {
    val rootA = Files.createTempDirectory("planmemo-osm-a").toString
    val rootB = Files.createTempDirectory("planmemo-osm-b").toString
    val o4 = SparkEntry.queries("o4_top_contributors")
    def rows(df: DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // what a bare read of the fixture as it is now answers
    def fresh() = rows(OsmQueries.topContributors(
      spark.read.parquet(OsmFixture.docsPath), 3))
    val a = OsmFixture.withRoot(rootA) {
      buildFixture(rootA, 900, 1L)
      val before = rows(o4(spark, ""))
      assert(outcome("o4_top_contributors") == "built")
      assert(rows(o4(spark, "")) == before)
      assert(outcome("o4_top_contributors") == "hit")
      buildFixture(rootA, 1800, 2L)
      val after = rows(o4(spark, ""))
      assert(outcome("o4_top_contributors") == "built",
        "a rewritten fixture must rebuild the plan")
      assert(after == fresh() && after != before)
      after
    }
    OsmFixture.withRoot(rootB) {
      buildFixture(rootB, 1200, 3L)
      val b = rows(o4(spark, ""))
      assert(outcome("o4_top_contributors") == "built",
        "a switched root must rebuild the plan")
      assert(b == fresh() && b != a)
    }
  }

  test("x7 rebuilds after its minhash-pairs memo is released, and after a conf change") {
    val s = fresh()
    val x7 = SparkEntry.queries("x7_minhash_neardups")
    try {
      s.conf.set("graft.memo.ttlSeconds", "60")
      val d0 = digest(x7(s, sfDir))
      assert(outcome("x7_minhash_neardups") == "built")
      // the memo keeps the 60 s TTL it was made with; the plan rebuilt
      // under the new conf gets 3600 s
      s.conf.set("graft.memo.ttlSeconds", "3600")
      assert(digest(x7(s, sfDir)) == d0)
      assert(outcome("x7_minhash_neardups") == "built")
      x7(s, sfDir)
      assert(outcome("x7_minhash_neardups") == "hit")
      SessionMemo.sweep(System.currentTimeMillis() + 61 * 1000L)
      val keys = SessionMemo.keysFor(s)
      assert(!keys.exists(_.endsWith(":minhash-pairs")) &&
        keys.exists(_.endsWith(":plan:x7_minhash_neardups")), keys)
      assert(digest(x7(s, sfDir)) == d0)
      assert(outcome("x7_minhash_neardups") == "built",
        "a plan whose memo was released must rebuild")
    } finally SessionMemo.endSession(s)
  }

  test("a hit restarts the idle clock of what the plan reads") {
    val s = fresh()
    val path = tmpTable("ttl")
    def q() = PlanMemo.lookup(s, "spec-ttl", "")(
      Graft.read(s, path).filter(col("id") > 2))
    try {
      s.conf.set("graft.memo.ttlSeconds", "4")
      q()
      assert(outcome("spec-ttl") == "built")
      Thread.sleep(2500)
      q()
      assert(outcome("spec-ttl") == "rerun")
      // 4.5 s after the read plan was made, 2 s after the hit
      SessionMemo.sweep(System.currentTimeMillis() + 2000L)
      assert(SessionMemo.keysFor(s).exists(_.endsWith(":read-plan")),
        "the read plan a hit used must not be idle")
    } finally SessionMemo.endSession(s)
  }

  test("ad-hoc builds over a bare read, the clock, a persisted frame or a construction job rebuild on every call") {
    val s = fresh()
    val path = tmpTable("adhoc")
    def twice(name: String)(build: => DataFrame): Seq[String] =
      (1 to 2).map { _ =>
        PlanMemo.lookup(s, name, "")(build).collect()
        outcome(name)
      }
    try {
      val bare = twice("spec-bare")(s.read.parquet(path))
      assert(bare.forall(_.startsWith("uncacheable:leaf:")) && bare.size == 2, bare)
      assert(twice("spec-clock")(Graft.read(s, path)
          .select(col("id"), current_timestamp().as("ts"))) ==
        Seq.fill(2)("uncacheable:folded:current_timestamp"))
      val kept = scala.collection.mutable.Buffer[DataFrame]()
      try assert(twice("spec-cached") {
          val k = Graft.read(s, path).filter(col("id") > 1).persist()
          kept += k
          k.select("id")
        } == Seq.fill(2)("uncacheable:cached-data"))
      finally kept.foreach(_.unpersist())
      assert(twice("spec-job") {
        val n = s.read.parquet(path).count()
        Graft.read(s, path).filter(col("id") < n - 1)
      } == Seq.fill(2)("uncacheable:construction-jobs"))
      // the same job inside a memo compute is the memo's
      assert(twice("spec-memo-job") {
        val n = SessionMemo.getOrCompute(s, path, "spec-count")(
          java.lang.Long.valueOf(s.read.parquet(path).count()))(_ => ())
        Graft.read(s, path).filter(col("id") < n - 1)
      } == Seq("built", "rerun"))
      assert(twice("spec-plain")(Graft.read(s, path).groupBy("k").count()) ==
        Seq("built", "hit"))
      // a memo made before the build that holds a read of the path its
      // fingerprint covers: the build consults the memo, not the read
      def lane() = SessionMemo.getOrCompute(s, path, "spec-lane")(
        Graft.read(s, path).filter(col("k") > 0))(_ => ())
      lane()
      assert(twice("spec-lane")(lane().groupBy("k").count()) ==
        Seq("built", "hit"))
    } finally SessionMemo.endSession(s)
  }

  test("an exchange-free lookup reruns the miss's executed plan until its table is rewritten") {
    val s = fresh()
    val path = tmpTable("rerun")
    def q() = PlanMemo.lookup(s, "spec-rerun", "")(
      Graft.read(s, path).filter(col("k") === 1))
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq
    try {
      val runs = (1 to 3).map { _ =>
        val df = q()
        val o = outcome("spec-rerun")
        (o, ids(df), df.queryExecution)
      }
      assert(runs.map(_._1) == Seq("built", "rerun", "rerun"))
      assert(runs.map(_._2).distinct == Seq(Seq(1L, 4L, 7L, 10L, 13L)))
      val missPlan = runs.head._3.executedPlan
      assert(runs.forall(_._3.executedPlan eq missPlan),
        "the miss and both reruns must share one executed plan")
      assert(PlanMemo.keptPlan(s, "spec-rerun", "").exists(_ eq missPlan))
      assert(runs.tail.forall(_._3.tracker.phases.isEmpty),
        "a rerun must record no planning phase")
      // a rewrite of the table replaces its read plan: the lookup rebuilds
      spark.range(0, 9).select(col("id"), (col("id") % 2).as("k"))
        .coalesce(1).write.mode("overwrite").parquet(path)
      val df = q()
      assert(outcome("spec-rerun") == "built")
      assert(ids(df) == Seq(1L, 3L, 5L, 7L))
      assert(df.queryExecution.executedPlan ne missPlan)
    } finally SessionMemo.endSession(s)
  }

  test("reruns under concurrency: four threads collect one kept plan ten times each") {
    val s = fresh()
    val path = tmpTable("concurrent", 200000)
    // aggregates over one partition plan no exchange, so each thread
    // generates code for the same aggregate nodes; an uninitialized
    // aggregation buffer would read 0, which none of these answers is
    def q() = PlanMemo.lookup(s, "spec-concurrent", "")(
      Graft.read(s, path).coalesce(1).filter(col("k") =!= 2).groupBy("k")
        .agg(max(-col("id") - 1), min(col("id") + 5), sum(col("id")), count(lit(1)))
        .union(Graft.read(s, path).coalesce(1).agg(lit(-1L), max(-col("id") - 1),
          min(col("id") + 5), sum(col("id")), count(lit(1)))))
    try {
      val miss = q()
      val d0 = digest(miss)
      assert(outcome("spec-concurrent") == "built")
      val kept = PlanMemo.keptPlan(s, "spec-concurrent", "")
      assert(kept.exists(_ eq miss.queryExecution.executedPlan))
      val pool = Executors.newFixedThreadPool(4)
      try {
        val start = new CountDownLatch(1)
        val calls: Callable[Seq[(Boolean, String)]] = () => {
          start.await()
          (1 to 10).map { _ =>
            val df = q()
            (df.queryExecution.executedPlan eq kept.get, digest(df))
          }
        }
        val futures = (1 to 4).map(_ => pool.submit(calls))
        start.countDown()
        val got = futures.flatMap(_.get(5, TimeUnit.MINUTES))
        assert(got.size == 40)
        assert(got.forall(_._1), "every call must rerun the kept plan")
        assert(got.map(_._2).distinct == Seq(d0), "a concurrent rerun answered differently")
      } finally pool.shutdown()
      assert(outcome("spec-concurrent") == "rerun")
    } finally SessionMemo.endSession(s)
  }

  test("endSession drops the plan slots") {
    val s = fresh()
    val path = tmpTable("end")
    def q() = PlanMemo.lookup(s, "spec-end", "")(Graft.read(s, path))
    q()
    assert(SessionMemo.keysFor(s).exists(_.endsWith(":plan:spec-end")))
    SessionMemo.endSession(s)
    assert(SessionMemo.keysFor(s).isEmpty)
    q()
    assert(outcome("spec-end") == "built")
    SessionMemo.endSession(s)
  }

  test("hit equals miss: every declared query built and collected three times") {
    // the osmbench ops: each must be memoized on its first build and reused
    val benchmarked = Set("o1_doc_count", "o4_top_contributors",
      "o5_most_referenced", "o11_edits_by_dow", "o13_key_census",
      "x7_minhash_neardups", "x8_simhash_neardups", "v5_cosine_neardups")
    val reused = Set("hit", "rerun")
    val s = fresh()
    try {
      val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, q) =>
        val miss = digest(q(s, sfDir))
        val first = outcome(n)
        val hit = digest(q(s, sfDir))
        val second = outcome(n)
        val third = digest(q(s, sfDir))
        (n, first, second, outcome(n), miss == hit && miss == third)
      }
      // the queries left unmemoized, with their reasons
      results.filterNot(r => reused(r._3)).foreach { case (n, f, r, _, _) =>
        println(s"[plan-memo] $n first=$f repeat=$r") }
      val counts = results.groupBy(_._4.takeWhile(_ != ':')).view
        .mapValues(_.size).toMap
      println(s"[plan-memo] third call of ${results.size} queries: " +
        Seq("hit", "rerun", "uncacheable").map(k => s"$k=${counts.getOrElse(k, 0)}")
          .mkString(" ") + ", reruns: " +
          results.filter(_._4 == "rerun").map(_._1).mkString(", "))
      val differ = results.filterNot(_._5).map(_._1)
      assert(differ.isEmpty, s"a repeat answered differently: $differ")
      val missed = results.filter(r => benchmarked(r._1) &&
        (r._2 != "built" || !reused(r._3) || r._4 != r._3))
      assert(missed.isEmpty, s"benchmarked queries not memoized: $missed")
    } finally SessionMemo.endSession(s)
  }
}
