package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

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
      fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, dir).count()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** One pass over `queries` in the given order while `keepGoing()`
    * holds: the per-query seconds of the queries that returned, and the
    * error message of each one that threw (left out of the times, so no
    * total counts it).
    */
  private[graft] def runPass(spark: SparkSession, tag: String, dir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      keepGoing: () => Boolean = () => true)
      : (Map[String, Double], Map[String, String]) = {
    val times = Map.newBuilder[String, Double]
    val failed = Map.newBuilder[String, String]
    queries.iterator.takeWhile(_ => keepGoing()).foreach { case (name, fn) =>
      val g0 = gcMillis()
      timeCount(spark, dir, fn) match {
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
    (times.result(), failed.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)
    // 1-minute load average, sampled at section boundaries into the
    // artifact's load_1m map: this host is multi-tenant and totals roam
    // 10-30% with external load, so each number must self-describe its
    // window (VERDICT r11 #1) instead of needing the watcher logs.
    def load1m(): Double = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val loadSamples = scala.collection.mutable.LinkedHashMap[String, Double]()
    val byName = SparkEntry.queries.toSeq.sortBy(_._1)
    // queries that threw in any pass of a section: reported under
    // `failed` with their message and left out of every time and total
    val failed = scala.collection.mutable.TreeMap[String, String]()
    val sf1Failed = scala.collection.mutable.TreeMap[String, String]()
    SparkEntry.warm(spark)
    loadSamples("start") = load1m()
    val t0 = System.nanoTime()
    val budget0 = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "720").toLong
    // BUILDS phase at the PRIMARY SF too (VERDICT r12 #1): round 12 ran
    // prebuild only for the sf1 section, so the driver's cold sf0.1
    // window charged ~5 min of one-time memo/fixture builds to query
    // timers (v12 read 102 s cold vs 1.3 s warm) and the headline
    // misrepresented the engine by 4.6x. Same structure as sf1_builds:
    // every session memo forced up front, timed per item, with
    // skipped/failed sentinels — the per-query numbers below then
    // measure WARM query time (the production ingest/query split). The
    // deadline keeps at most 45% of the budget for builds so a
    // pathological build can't starve pass 1.
    val buildCut = t0 + ((budget0 * 45 / 100) * 1e9).toLong
    val sfBuilds: Seq[(String, Double)] =
      try SparkEntry.prebuild(spark, sfDir, () => System.nanoTime() < buildCut)
      catch { case e: Throwable =>
        System.err.println(s"[build] prebuild failed: ${e.getMessage}"); Nil }
    sfBuilds.foreach { case (n, s) =>
      System.err.println(f"[build] $n%-28s $s%8.2f s") }
    loadSamples("after_builds") = load1m()
    // several passes, min per query: one transient environment stall (or
    // a cold codegen cache) can no longer poison a number
    val p1 = {
      val (t, f) = runPass(spark, "bench", sfDir, byName)
      failed ++= f
      t
    }
    loadSamples("after_pass1") = load1m()
    // Additional passes while within budget, min per query: the machine
    // shows intermittent external ~15-60s stalls (zero GC, roaming
    // queries, absent in many runs) — min-of-N absorbs them unless one
    // hits the same query in every pass. The JSON line MUST be emitted
    // even on a slow machine, so each extra pass checks the clock
    // per-query and a partial pass still de-noises what it reached.
    // 720 s fits pass 1 cold (~145 s for 117 queries at sf0.1) plus 3+
    // warm passes — with the old 360 s default the min-of-N de-noising
    // was cut off mid-pass-2 and cold codegen/stall numbers leaked into
    // the reported JSON.
    val budget = budget0
    // When the sf1 section is enabled, the warm sf0.1 passes must not
    // eat its reservation: round 9's driver-window artifact LOST its
    // sf1 section because the extra passes ran to 0.8·budget (576 s)
    // under tenant load and the sf1 gate (budget − 150) had already
    // passed — the de-noising passes starved the scale section. Cap
    // extras at budget − 320 (≥ one cold sf1 pass + the ScaleUp
    // synthesis) so an sf1-enabled run ALWAYS reaches the attempt;
    // a partial third/fourth pass de-noises less, which is the right
    // trade — sf0.1 has pass 1 + usually 2+ passes either way.
    // max(380, 45% of budget) — up from round 10's flat 320: the sf1
    // section now runs a timed BUILDS phase before its query passes
    // (~250 s at sf1 for the full memo set), and the r10 window
    // (320+60) only covered 73/156 queries. The fraction matters for
    // quiet-window runs with a raised budget: a flat reservation gives
    // every extra budget second to sf0.1 de-noising, while the
    // VERDICT-r10 #1 goal (sf1 complete, min_of 2, builds separated)
    // needs it in the sf1 window.
    val sf1Planned = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "1" &&
      sfDir.stripSuffix("/").endsWith("sf0.1")
    val sf1ReserveSec = math.max(380L, (budget * 45) / 100)
    val extraCutSec: Double =
      if (sf1Planned) math.min(budget * 0.8, (budget - sf1ReserveSec).toDouble)
      else budget * 0.8
    def extraPass(tag: String): Map[String, Double] = {
      val (t, f) = runPass(spark, tag, sfDir, byName,
        () => (System.nanoTime() - t0) / 1e9 <= extraCutSec)
      failed ++= f
      t
    }
    val extras = Seq("bench2", "bench3", "bench4").map(extraPass)
    // v15 warm-query stage attribution (VERDICT r15 #4): the one query
    // that stays bimodal across adopted windows — run its staged
    // pipeline once AFTER the warm passes (multiDyn memo hot, same
    // state as the per-query numbers above) so the artifact names the
    // stage that moves. ~5 s; the load_1m after_sf01 sample brackets it.
    val v15SplitPrimary: Seq[(String, Double)] =
      try {
        val r = graft.queries.VectorSuite.v15Split(spark, sfDir)
        spark.catalog.clearCache()
        r.foreach { case (k, v) =>
          System.err.println(f"[v15_split] $k%-12s $v%8.2f s") }
        r
      } catch { case e: Throwable =>
        System.err.println(s"[bench] v15_split failed: ${e.getMessage}")
        Nil
      }
    // built-vs-reloaded disclosure for the primary section (VERDICT r12
    // #2): at-rest memos (RestMemo sidecars keyed by corpus
    // fingerprint) make a later session's "build" a parquet reload —
    // the artifact must say which happened, or a reloading run's cheap
    // builds phase would read as the engine getting faster. Drained
    // AFTER the extra passes (ADVICE r13): a memo the builds-phase
    // deadline skipped and a later pass lazily built belongs to THIS
    // section's disclosure, not sf1's.
    val memoRestPrimary = RestMemo.drainOutcomes()
    // pass2_n for the PRIMARY section (the sf1 section always had it;
    // VERDICT r12 #1 asked the sf0.1 section to disclose its own
    // de-noising coverage): queries the second pass reached — the rest
    // keep 1-pass times in the min
    val pass2N = extras.headOption.map(_.size).getOrElse(0)
    loadSamples("after_sf01") = load1m()
    val results = p1.filterNot(kv => failed.contains(kv._1)).map { case (k, v) =>
      k -> (v +: extras.flatMap(_.get(k))).min }
    // ---- sf1 scale-regression section --------------------------------
    // One pass at 10× the primary SF (synthesized by ScaleUp — key-
    // shifted independent shards, similarity structure preserved), so
    // the per-round artifact carries scale headroom, not just sf0.1
    // correctness-scale timing. Scale-critical families (v*/x*/m*) run
    // first so a clipped pass still covers them; a hard deadline keeps
    // the whole bench inside the driver's patience.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/dev/shm/graft-sf1")
    val sf1Enabled = sf1Planned
    val sf1Deadline = t0 + ((budget + 60) * 1e9).toLong
    // When the section ends up empty, the artifact RECORDS why (the
    // round-9 ask: an absent sf1 section was indistinguishable from a
    // clobbered artifact)
    var sf1Skip: String = if (sf1Enabled) "" else "disabled or non-sf0.1 dir"
    var sf1Pass2N = 0
    // pass-1 (cold) per-query times, kept alongside the min-of-N minima:
    // per-query minima erase one-time memo-build costs (pass 1 charges a
    // cold index build to the first family member, pass 2's warm time
    // replaces it via min), so the min-of-N total is a steady-state
    // number no single cold run achieves. cold_total below keeps the
    // cold story readable from the artifact alone.
    var sf1Cold: Map[String, Double] = Map.empty
    // sf1 builds phase result: (memo name, seconds) with -1.0 marking a
    // deadline skip — see SparkEntry.prebuild
    var sf1Builds: Seq[(String, Double)] = Nil
    // CHEAPEST-FIRST (VERDICT r10 #1): order the sf1 pass by each
    // query's measured sf0.1 cold time (pass 1 of this same run), name
    // as tiebreak — the ~83 sub-second queries land in the first minute
    // and a deadline-cut pass loses only the heavy tail, so the section
    // total stays complete-or-nearly so instead of r10's 73/156 (the
    // old heavy-families-first order spent the whole window on builds).
    def sf1Pass(tag: String): Map[String, Double] = {
      val (t, f) = runPass(spark, tag, sf1Dir,
        byName.sortBy { case (n, _) => (p1.getOrElse(n, 0.0), n) },
        () => System.nanoTime() <= sf1Deadline)
      sf1Failed ++= f
      t
    }
    val sf1Results: Map[String, Double] =
      if (!sf1Enabled) Map.empty
      else if ((System.nanoTime() - t0) / 1e9 > budget - 150) {
        sf1Skip = f"sf0.1 section ran to ${(System.nanoTime() - t0) / 1e9}%.0f s" +
          s" of the $budget s budget - under 150 s left for sf1"
        Map.empty
      } else try {
        graft.tools.ScaleUp.ensure(spark, sfDir, sf1Dir, 10)
        // BUILDS phase (VERDICT r10 #1): force every session memo —
        // index builds, dedup pipelines — up front, timed per item into
        // the sf1_builds section, so the per-query numbers below
        // measure WARM query time (the production ingest/query split).
        // The phase keeps a 200 s reservation for the query passes
        // (one warm pass of the full surface runs ~95-150 s at sf1): a
        // deadline-cut phase skips its tail (recorded) and those memos
        // fall back to lazy first-family-member charging.
        val buildDeadline = sf1Deadline - (200 * 1e9).toLong
        sf1Builds = SparkEntry.prebuild(spark, sf1Dir,
          () => System.nanoTime() < buildDeadline)
        sf1Builds.foreach { case (n, s) =>
          System.err.println(f"[sf1-build] $n%-28s $s%8.2f s") }
        // min-of-2: this host's external load oscillates on ~10-minute
        // cycles — a single sf1 pass read 144 s vs 287 s on IDENTICAL
        // code in round 7. Pass 2 is best-effort within the deadline
        // (a partial pass still de-noises what it reached); per-query
        // min matches the sf0.1 section's semantics, including the
        // memo_shared disclosure (both passes read warm session memos
        // now that the builds phase precedes them).
        val s1 = sf1Pass("sf1")
        sf1Cold = s1
        val s2 =
          if (System.nanoTime() > sf1Deadline) Map.empty[String, Double]
          else sf1Pass("sf1b")
        sf1Pass2N = s2.size // honesty for the min_of field (see below)
        s1.filterNot(kv => sf1Failed.contains(kv._1))
          .map { case (k, v) => k -> math.min(v, s2.getOrElse(k, v)) }
      } catch { case e: Throwable =>
        sf1Skip = s"exception: ${e.getMessage}"
        System.err.println(s"[sf1] skipped: ${e.getMessage}"); Map.empty }
    loadSamples("after_sf1") = load1m()
    // drained HERE, before the scale probes run their own builds/reloads
    val memoRestSf1 = RestMemo.drainOutcomes()
    // ---- machine-readable scale probes (SCALE_LAST.json) --------------
    // The ScaleStress linearity measurements as a per-round artifact:
    // span ops / simhash128 / hier-vs-flat assignment / knnGraph at two
    // corpus multipliers with growth ratios — a scale regression shows
    // up as a ratio diff between rounds, not archaeology. Time-gated so
    // the bench JSON line always lands inside the driver's patience.
    // same sf0.1-dir guard as the sf1 section: the probes multiply the
    // corpus 16x, which only fits the driver's patience at the primary SF
    val scaleEnabled = sys.env.getOrElse("SPARK_GRAFT_SCALE", "1") == "1" &&
      sfDir.stripSuffix("/").endsWith("sf0.1")
    if (scaleEnabled && (System.nanoTime() - t0) / 1e9 < budget - 100)
      try {
        // the 64x decade point (fitted exponents) costs ~1-2 min extra —
        // run it only when the window clearly affords it
        val decade = (System.nanoTime() - t0) / 1e9 < budget - 250
        val json0 = graft.tools.ScaleStress.probeJson(spark, sfDir,
          decade = decade)
        // cold-session reload evidence (VERDICT r12 #2) spliced into the
        // same artifact — runs LAST because it endSession()s the memos
        val json =
          try {
            val rr = graft.tools.ScaleStress.restReloadJson(spark, sfDir)
            json0.dropRight(1) + s""","rest_reload":$rr}"""
          } catch { case e: Throwable =>
            System.err.println(s"[scale] rest_reload skipped: ${e.getMessage}")
            json0
          }
        java.nio.file.Files.write(java.nio.file.Paths.get("SCALE_LAST.json"),
          (json + "\n").getBytes("UTF-8"))
        System.err.println(s"[scale] $json")
      } catch { case e: Throwable =>
        System.err.println(s"[scale] skipped: ${e.getMessage}") }
    // The driver captures a bounded ~2000-char TAIL of stdout: r02/r03
    // artifacts came back with "parsed": null because the one-line JSON
    // with all per-query entries (~3 KB even at 2-decimal resolution for
    // a 120+-query surface) had its head cut mid-line. Two artifacts:
    //   - the FULL line (every per-query time) goes to BENCH_LAST.json
    //     and stdout first;
    //   - the LAST stdout line is a compact summary guaranteed to sit
    //     wholly inside any tail window: total, query count, and the 10
    //     slowest queries, with a pointer to the full file.
    def r2(v: Double): String = f"$v%.2f"
    // JSON string sanitizer for free-text fields (exception messages):
    // escape backslashes/quotes and flatten control chars — an
    // unescaped newline or backslash in sf1Skip previously produced an
    // invalid artifact line (ADVICE r10).
    def jstr(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
        .map(c => if (c < ' ') ' ' else c).mkString
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def failedJson(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => "\"" + k + "\":\"" + jstr(v) + "\"" }
        .mkString("{", ",", "}")
    val sf1FailedSection =
      if (sf1Failed.isEmpty) "" else s""","sf1_failed":${failedJson(sf1Failed)}"""
    // Per-query times for these entries measure WARM shared-memo state
    // (the first family member executed pays the index/pipeline build) —
    // totals stay honest; cross-round per-query comparison should read
    // the family together.
    val memoShared = SparkEntry.memoSharedQueries.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // builds phase: items that ran (seconds), items the deadline skipped,
    // and items that FAILED (threw; fell back to lazy charging) —
    // `complete` means every memo was truly built up front, so every sf1
    // per-query number is pure warm query time; a failed build must not
    // masquerade as built (ADVICE r11)
    def buildsJson(builds: Seq[(String, Double)], key: String): String =
      if (builds.isEmpty) ""
      else {
        val done = builds.filter(_._2 >= 0)
        val skipped = builds.filter(_._2 == Prebuild.Skipped).map(_._1)
        val failed = builds.filter(_._2 <= Prebuild.Failed).map(_._1)
        val items = done.map { case (k, v) => "\"" + k + "\":" + r2(v) }
          .mkString("{", ",", "}")
        val sk = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
        val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","$key":{"total":${r2(done.map(_._2).sum)},""" +
          s""""n":${done.size},"complete":${skipped.isEmpty && failed.isEmpty},""" +
          s""""items":$items,"skipped":$sk,"failed":$fl}"""
      }
    // primary-SF builds section (VERDICT r12 #1 — the sf1_builds
    // pattern, applied at sf0.1)
    val buildsSection = buildsJson(sfBuilds, "builds")
    val sf1BuildsSection = buildsJson(sf1Builds, "sf1_builds")
    // at-rest memo outcomes per section: which memos were genuinely
    // BUILT this run vs RELOADED from their fingerprint-keyed sidecars
    def memoRestJson(m: Map[String, String], key: String): String =
      if (m.isEmpty) ""
      else {
        def names(v: String) = m.toSeq.filter(_._2 == v).map(_._1).sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","$key":{"built":${names("built")},"reloaded":${names("reloaded")}}"""
      }
    val memoRestSection = memoRestJson(memoRestPrimary, "memo_rest")
    val sf1MemoRestSection = memoRestJson(memoRestSf1, "sf1_memo_rest")
    val sf1Section =
      if (sf1Results.isEmpty) {
        if (sf1Skip.isEmpty) ""
        else s""","sf1_skipped":"${jstr(sf1Skip)}""""
      }
      else {
        val q1 = sf1Results.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + r2(v) }
          .mkString("{", ",", "}")
        val complete = sf1Results.size == SparkEntry.queries.size
        // min_of is what ACTUALLY happened: 2 only when a NON-EMPTY pass 1
        // was fully re-covered by pass 2 before the deadline (0 >= 0 must
        // not read as full coverage); pass2_n discloses a partial second
        // pass (those queries keep 1-pass cold times)
        val minOf =
          if (sf1Results.nonEmpty && sf1Pass2N >= sf1Results.size) 2 else 1
        // pass1_total = the pass-1 sum: with the builds phase ahead of
        // it this is a warm-memo single-pass number (the name `cold_*`
        // kept r10 semantics when builds were charged to queries;
        // pass-1 is no longer cold for memo families)
        s""","sf1":{"dir":"$sf1Dir","total":${r2(sf1Results.values.sum)},""" +
          s""""pass1_total":${r2(sf1Cold.values.sum)},"pass1_n":${sf1Cold.size},""" +
          s""""n_queries":${sf1Results.size},"complete":$complete,""" +
          s""""min_of":$minOf,"pass2_n":$sf1Pass2N,"queries":$q1}"""
      }
    // v20 memo-build stage split (graph build vs component closure),
    // one entry per dir built this run — the VERDICT-r7 ask that the
    // slowest sf1 query's cost be attributable from the artifact alone
    val v20Section = {
      import scala.jdk.CollectionConverters._
      val m = graft.queries.VectorSuite.v20Split.asScala.toSeq.sortBy(_._1)
      if (m.isEmpty) ""
      else m.map { case (d, (g, c)) =>
        s""""$d":{"graph":${r2(g)},"closure":${r2(c)}}"""
      }.mkString(""","v20_split":{""", ",", "}")
    }
    // v15 warm-query stage split at the primary SF (VERDICT r15 #4):
    // per-stage seconds of the declared pipeline with persist barriers
    // between stages — which stage carries the cross-window bimodality
    // is a recorded number, not archaeology
    val v15Section =
      if (v15SplitPrimary.isEmpty) ""
      else v15SplitPrimary.map { case (k, v) => "\"" + k + "\":" + r2(v) }
        .mkString(""","v15_split":{""", ",", "}")
    // p14's measured data-skipping, one entry per dir whose layout memo
    // was built this run: rows the pushed range scan decoded vs the
    // table total (the VERDICT-r10 ask that a DECLARED query's skip
    // ratio be a recorded artifact number)
    val layoutSection = {
      import scala.jdk.CollectionConverters._
      val m = graft.queries.Core.layoutSkip.asScala.toSeq.sortBy(_._1)
      if (m.isEmpty) ""
      else m.map { case (d, (read, total)) =>
        val ratio = if (total > 0) read.toDouble / total else 0.0
        s""""$d":{"rows_read":$read,"rows_total":$total,""" +
          s""""read_fraction":${f"$ratio%.4f"}}"""
      }.mkString(""","layout_skip":{""", ",", "}")
    }
    // p17's measured plan-shape evidence, one entry per dir whose
    // bucketed layout was built this run: shuffle exchanges below the
    // executed join (0 = the storage-partitioned-join claim) + rows
    val bucketSection = {
      import scala.jdk.CollectionConverters._
      val m = graft.queries.Core.bucketJoin.asScala.toSeq.sortBy(_._1)
      if (m.isEmpty) ""
      else m.map { case (d, (ex, rows)) =>
        s""""$d":{"shuffle_exchanges_below_join":$ex,"rows_joined":$rows}"""
      }.mkString(""","bucket_join":{""", ",", "}")
    }
    // Durable interpretation aid only — run-specific attribution lives
    // in the structured fields (min_of/pass2_n, memo_shared, v20_split)
    // and one-time cross-round comparisons belong in ADVICE/commits,
    // not baked into every future artifact. (The round-7 sf1
    // "regressions" were single-pass reads bundling cold session-memo
    // builds; min-of-2 exists precisely to separate those.)
    val notes = "BOTH sections run a timed BUILDS phase first (builds / " +
      "sf1_builds: every session memo forced up front, with " +
      "skipped/failed recorded), then min_of query passes, so per-query " +
      "numbers at either SF are WARM query time and build cost is " +
      "attributable per memo; pass2_n = queries the second pass " +
      "reached (the rest keep 1-pass times); memo_shared marks the " +
      "queries that would lazily charge a build if its prebuild item " +
      "was skipped/failed; v20_split records the v20 build's " +
      "graph-vs-closure seconds; v15_split records the v15 query's " +
      "warm per-stage seconds (persist barriers between stages, so " +
      "the sum reads slightly above the fused query; ratios are " +
      "the signal)"
    loadSamples("end") = load1m()
    // the per-section 1-minute load bracket (self-describing window)
    val loadSection = loadSamples.toSeq
      .map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString(""","load_1m":{""", ",", "}")
    val line =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs,"failed":${failedJson(failed)},"pass2_n":$pass2N,"memo_shared":$memoShared,"sf":"$sfDir"$buildsSection$memoRestSection$sf1Section$sf1FailedSection$sf1BuildsSection$sf1MemoRestSection$v20Section$v15Section$layoutSection$bucketSection$loadSection,"notes":"$notes"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val top = results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val sf1Summary =
      if (sf1Results.isEmpty) ""
      else s""""sf1_total":${r2(sf1Results.values.sum)},""" +
        s""""sf1_n":${sf1Results.size},"""
    val summary =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","sf":"$sfDir",""" +
        s""""n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""slowest":$top,$sf1Summary""" +
        s""""queries_file":"BENCH_LAST.json"}"""
    spark.stop()
    println(line)
    println(summary)
  }
}
