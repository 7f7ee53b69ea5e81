package osmbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client driving one workload
  * in one session. `run.py` launches it, then checks the dumped answers
  * against DuckDB and turns the raw records into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --run-dir DIR --slots K --setups R --warmup M
  *
  * DIR holds the run's inputs, answers and result, and under
  * `DIR/scratch` its shuffle/spill files and memo sidecars.
  *
  * `--workload W1,W2` runs several workloads one after the other in one
  * JVM, each in `DIR/<workload>`; the build uses that for the run that
  * records the class-data-sharing archive.
  *
  * A run is: R set-up repetitions (each: a fresh session, the workload's
  * set-up, every op type answered once — the median is `setup_s`),
  * M untimed warm-up rounds, then a fixed number of timed rounds. With
  * `--trace 1` every timed round is followed by the same round traced,
  * then the workload's probe runs traced.
  */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = json.writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloads = a("workload").split(",").toSeq
    workloads.foreach { wl =>
      val base = Path.of(a("run-dir")).toAbsolutePath
      val runDir = if (workloads.size == 1) base else base.resolve(wl)
      val h = new Harness(wl, a("seed").toLong, a("seconds").toInt,
        a("trace") == "1", runDir, a("slots").toInt, a("setups").toInt,
        a("warmup").toInt)
      val result = h.run()
      Files.writeString(runDir.resolve("result.json"), render(result))
    }
    System.exit(0) // stream and Spark threads must not keep the JVM alive
  }
}

final class Harness(workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: Path, slots: Int, setups: Int, warmupRounds: Int) {

  private val w = Workload(workload, seed, runDir.resolve("data"))
  private val ops = ArrayBuffer[Map[String, Any]]()
  private val answersDir = runDir.resolve("answers")
  private val scratchDir = runDir.resolve("scratch")
  private val dumped = scala.collection.mutable.Map[String, String]()
  private var lastAnswer: Option[Answer] = None

  private def session(rep: Int): SparkSession = {
    val s = graft.Graft.builder(s"local[$slots]", slots)
      .config("spark.local.dir", scratchDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("graft.memo.restDir", scratchDir.resolve(s"rest-$rep").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Graft.tune(s)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def status(key: String): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def load1m(): Double =
    Files.readString(Path.of("/proc/loadavg")).split(" ")(0).toDouble

  /** Milliseconds of a fixed single-threaded computation (SHA-256 over
    * 64 MB): a yardstick of the host's speed during the run, to tell a
    * slow host from a slow engine.
    */
  private def cpuProbeMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    (0 until 64).foreach(_ => md.update(buf))
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** Runs one op: untimed preparation, the timed call, the untimed check.
    * A throw or a failed check marks the op failed; its time is kept in
    * the record but never enters the latency figures.
    */
  private def op(spark: SparkSession, phase: String, round: Int,
      opType: String, traced: Boolean = false, w: Workload = w): Map[String, Any] = {
    w.beforeOp(spark, opType)
    val g0 = gcMs()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (answer, err) =
      try (Some(w.run(spark, opType, traced)), None)
      catch { case e: Throwable => (None, Some(e.toString)) }
    lastAnswer = answer
    val ms = (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    val gc = gcMs() - g0
    val (checkLayers, checkErr) = answer match {
      case None => (Map.empty[String, Double], err)
      case Some(ans) =>
        try (w.verify(spark, opType, ans), None)
        catch { case e: Throwable => (Map.empty[String, Double], Some(e.toString)) }
    }
    System.err.println(f"[osmbench] $phase%-7s $round%2d $opType%-32s $ms%9.1f ms" +
      checkErr.fold("")(e => s" FAILED: $e"))
    val rec = Map[String, Any]("phase" -> phase, "round" -> round, "type" -> opType,
      "ms" -> ms, "ok" -> checkErr.isEmpty, "err" -> checkErr.getOrElse(""),
      "rows" -> answer.fold(-1L)(_.rows), "t0" -> wall0, "t1" -> wall1,
      "layers" -> (answer.fold(Map.empty[String, Double])(_.layers) ++ checkLayers +
        ("jvm.gc_ms" -> gc.toDouble)))
    ops += rec
    rec
  }

  /** Dumps the first answer of each op type as parquet for the DuckDB
    * check in run.py.
    */
  private def dump(spark: SparkSession, opType: String, rec: Map[String, Any]): Unit =
    if (!dumped.contains(opType) && w.oracleSql.contains(opType) && rec("ok") == true)
      lastAnswer.flatMap(_.collected).foreach { case (rows, schema) =>
        val out = answersDir.resolve(opType).toString
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out)
        dumped(opType) = out
      }

  private def round(spark: SparkSession, phase: String, r: Int,
      traced: Boolean = false, w: Workload = w): Double =
    w.opTypes.map(t => op(spark, phase, r, t, traced, w)("ms").asInstanceOf[Double]).sum

  def run(): Map[String, Any] = {
    val loadStart = load1m()
    cpuProbeMs() // once to compile it
    w.prepare()
    Files.createDirectories(runDir)
    Files.writeString(runDir.resolve("oracle_sql.json"), Main.render(w.oracleSql))
    var spark: SparkSession = null
    val setupS = ArrayBuffer[Double]()
    for (rep <- 1 to setups) {
      val t0 = System.nanoTime()
      var excluded = 0L
      spark = session(rep)
      val t1 = System.nanoTime()
      w.setUp(spark)
      System.err.println(f"[osmbench] set-up $rep: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"workload set-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
      graft.RestMemo.drainOutcomes()
      w.opTypes.foreach { t =>
        val rec = op(spark, "setup", rep, t)
        val d0 = System.nanoTime()
        // memo items this op built or reloaded, for the memo.* figures
        ops(ops.size - 1) = rec + ("memo" -> graft.RestMemo.drainOutcomes())
        if (rep == 1) dump(spark, t, rec)
        excluded += System.nanoTime() - d0
      }
      setupS += (System.nanoTime() - t0 - excluded) / 1e9
      if (rep < setups) {
        graft.SessionMemo.endSession(spark)
        spark.stop()
      }
    }
    // warm-up: a fixed number of whole rounds, so that every run's timed
    // rounds start at the same point of the JIT's warm-up curve. Round
    // times fall for 10-15 rounds while the JIT compiles the ops' code
    // paths, and single rounds vary by ±10%; a stop rule judged on
    // those rounds ended the warm-up anywhere between round 3 and 10,
    // so runs were timed at different points of that curve.
    val warm0 = System.nanoTime()
    val warmRounds = (0 until warmupRounds).map(r => round(spark, "warmup", r))
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // timed rounds; with --trace 1 each is followed by the same round
    // traced, so both see the same warmth and trace.overhead_frac
    // compares like with like
    val tracer = if (trace) Some(new Tracer) else None
    def withTracer(body: => Unit): Unit = tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      try body finally { t.drain(); spark.sparkContext.removeSparkListener(t) }
    }
    val nRounds = w.rounds(seconds)
    (0 until nRounds).foreach { r =>
      round(spark, "timed", r)
      withTracer(round(spark, "traced", r, traced = true))
    }
    val probeMs = cpuProbeMs()
    if (trace) w.probe.foreach(p => withTracer {
      p.prepare()
      p.begin(spark)
      try (0 until p.rounds(seconds)).foreach(r => round(spark, "probe", r, traced = true, p))
      finally p.tearDown(spark)
    })
    // attach the listener's per-op figures to each traced record
    tracer.foreach { t =>
      ops.indices.filter(i => ops(i)("phase") == "traced" || ops(i)("phase") == "probe")
        .foreach { i =>
          val r = ops(i)
          ops(i) = r + ("layers" -> (r("layers").asInstanceOf[Map[String, Double]] ++
            t.summarize(r("t0").asInstanceOf[Long], r("t1").asInstanceOf[Long], slots)))
        }
    }
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "slots" -> slots,
      "rounds" -> nRounds, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "warmup_rounds" -> warmRounds.size, "warmup_round_ms" -> warmRounds,
      "answers" -> dumped,
      "peak_rss_mb" -> status("VmHWM"), "load_1m" -> Seq(loadStart, load1m()),
      "cpu_probe_ms" -> probeMs,
      "ops" -> ops)
    spark.stop()
    result
  }
}
