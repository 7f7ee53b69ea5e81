package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}
import graft.functions.Text
import graft.operators.Dedup

/** Dump the formatted physical plan of EVERY declared query to
  * `<outDir>/<name>_<suffix>.txt` — the optimization round's
  * before/after plan evidence (guide §1: capture `.explain("formatted")`
  * for every declared query; the judge checks plan claims against these
  * files). Memos are prebuilt first so each plan is the WARM shape the
  * bench times (memo-backed families plan against their reloaded
  * sidecars, not a cold build).
  *
  * Also dumps `op_*` plans, before the memo prebuild: every public
  * near-dup operator of [[graft.operators.Dedup]] called directly on
  * signature frames derived from the documents table — the shapes the
  * memo-backed queries only show as a reloaded scan (`op_x7_memo_build`
  * is x7's memo build itself).
  *
  * With the suffix `repeat` it dumps, instead, the named queries built
  * and collected three times in one session: `<name>_miss.txt`,
  * `<name>_hit.txt` and `<name>_hit2.txt`, each the plan memo's outcome
  * (`PlanMemo`: `built`, then `rerun` or `hit`), the query's tracker
  * phases, whether its executed plan is the miss's own object, and its
  * final executed plan.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [sfDir] [names]
  *          [key=value ... session confs]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (confs, pos) = Graft.splitArgs(args.toSeq)
    val outDir = pos(0)
    val suffix = pos(1)
    val sfDir = pos.lift(2).getOrElse("/root/testdata/sf0.1")
    val only = pos.lift(3).map(_.split(",").toSeq)
    val spark = Graft.session(confs = confs)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, text: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name.txt"),
        text.getBytes("UTF-8"))
    def selected(names: Iterable[String]): Seq[String] =
      names.toSeq.sorted.filter(n => only.forall(_.exists(n.startsWith)))
    def dump(plans: Map[String, (SparkSession, String) => DataFrame]): Unit =
      selected(plans.keys).foreach { n =>
        try {
          write(s"${n}_$suffix", plans(n)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          System.err.println(s"[plan] $n ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plan] $n FAILED: ${e.getMessage}")
        }
      }
    SparkEntry.warm(spark)
    if (suffix == "repeat")
      selected(SparkEntry.queries.keys).foreach { n =>
        val runs = Seq("miss", "hit", "hit2").map { tag =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          val outcome = graft.PlanMemo.drainOutcomes().getOrElse(n, "-")
          df.collect()
          System.err.println(s"[plan] $n $tag: $outcome")
          (tag, outcome, df.queryExecution)
        }
        val missPlan = runs.head._3.executedPlan
        runs.foreach { case (tag, outcome, qe) =>
          val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
            .map { case (p, t) => s"$p ${t.durationMs} ms" }
          val shared =
            if (tag == "miss") ""
            else if (qe.executedPlan eq missPlan) "executed plan: the miss's\n"
            else "executed plan: new\n"
          write(s"${n}_$tag", s"plan memo: $outcome\n" +
            s"tracker phases: ${if (phases.isEmpty) "none" else phases.mkString(", ")}\n" +
            shared + "\n" +
            qe.explainString(org.apache.spark.sql.execution.FormattedMode))
        }
      }
    else {
      // operator plans first, before any memo build: a build's cached
      // intermediates (released by RestMemo.frame, not by every memo
      // form) would show up in them
      dump(operators)
      SparkEntry.prebuild(spark, sfDir)
      dump(SparkEntry.queries)
    }
    spark.stop()
  }

  /** The near-dup operators over documents-derived signatures: one
    * 64-bit SimHash per doc (`sig`), four slots (`slot`, rotated
    * signatures), two spans and both SimHash lanes; cross forms index
    * the even ids against a batch of the odd ones.
    */
  private def operators: Map[String, (SparkSession, String) => DataFrame] = {
    def docs(s: SparkSession, dir: String) = Graft.table(s, dir, "documents")
    def sigs(s: SparkSession, dir: String) = docs(s, dir)
      .select(col("doc_id").as("id"), Text.simhash64(col("text"), 3).as("sig"))
    def slots(s: SparkSession, dir: String) = sigs(s, dir)
      .select(col("id"), explode(sequence(lit(0), lit(3))).as("slot"), col("sig"))
      .withColumn("sig", call_function("shiftleft", col("sig"), col("slot")))
    def lanes(s: SparkSession, dir: String) = docs(s, dir)
      .select(col("doc_id").as("id"), Text.simhash64both(col("text"), 3).as("s2"))
      .select(col("id"), col("s2").getItem(0).as("siga"),
        col("s2").getItem(1).as("sigb"))
    def cross(df: DataFrame)(f: (DataFrame, DataFrame) => DataFrame) =
      f(df.filter(col(df.columns.head) % 2 === 0),
        df.filter(col(df.columns.head) % 2 === 1))
    Map(
      "op_x7_memo_build" -> ((s, d) => Dedup.minhashNearDups(docs(s, d),
        "doc_id", "text", k = 32, bands = 16, shingleSize = 3,
        threshold = 0.5)),
      "op_minhashNearDupsCross" -> ((s, d) => cross(docs(s, d))(
        Dedup.minhashNearDupsCross(_, _, "doc_id", "text", k = 32,
          bands = 16, threshold = 0.5))),
      "op_hammingNearDupsSig" -> ((s, d) =>
        Dedup.hammingNearDupsSig(sigs(s, d), maxHamming = 3)),
      "op_hammingNearDupsSigCross" -> ((s, d) => cross(sigs(s, d))(
        Dedup.hammingNearDupsSigCross(_, _, maxHamming = 3))),
      "op_simhashNearDups128Sig" -> ((s, d) =>
        Dedup.simhashNearDups128Sig(lanes(s, d))),
      "op_simhashNearDupsAgreement" -> ((s, d) =>
        Dedup.simhashNearDupsAgreement(lanes(s, d))),
      "op_temporalNearDupsSig" -> ((s, d) =>
        Dedup.temporalNearDupsSig(slots(s, d))),
      "op_temporalNearDupsSigCross" -> ((s, d) => cross(slots(s, d))(
        Dedup.temporalNearDupsSigCross(_, _))),
      "op_spanTemporalNearDupsSig" -> ((s, d) =>
        Dedup.spanTemporalNearDupsSig(slots(s, d)
          .withColumn("span", col("id") % 2))),
      "op_regionNearDupsSig" -> ((s, d) =>
        Dedup.regionNearDupsSig(slots(s, d).select("id", "sig"))),
      "op_regionNearDupsSigCross" -> ((s, d) =>
        cross(slots(s, d).select("id", "sig"))(
          Dedup.regionNearDupsSigCross(_, _))))
  }
}
