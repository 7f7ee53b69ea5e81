package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The mains' harness: Bench's timing helpers and section routine (a
  * query that throws is reported as failed with its message, never timed
  * as a success), its contract lines, and the `key=value` session confs
  * every main accepts.
  */
class BenchSpec extends SparkSpec {

  private val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(0, 10).toDF()
  private val boom: (SparkSession, String) => DataFrame =
    (s, _) => s.range(0, 10).toDF().map[Long]((_: org.apache.spark.sql.Row) =>
      throw new IllegalStateException("boom in a task"))(
      org.apache.spark.sql.Encoders.scalaLong).toDF()
  private val throwsOnBuild: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalArgumentException("no such table")

  /** A query that sleeps `secs(i)` while being built on its i-th call. */
  private def sleeps(secs: Double*): (SparkSession, String) => DataFrame = {
    val it = secs.iterator
    (s, d) => { Thread.sleep((it.next() * 1000).toLong); ok(s, d) }
  }

  private def json(s: String): JsonNode = new ObjectMapper().readTree(s)

  private def names(n: JsonNode): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (n.isArray) n.elements().asScala.map(_.asText()).toSeq
    else n.fieldNames().asScala.toSeq
  }

  private def farFuture = System.nanoTime() + 600L * 1000000000L

  test("timeCount: Right(seconds) for a query that returns, Left(message) for one that throws") {
    assert(Bench.timeCount(spark, "", ok).exists(_ >= 0.0))
    Bench.timeCount(spark, "", throwsOnBuild) match {
      case Left(msg) =>
        assert(msg.contains("IllegalArgumentException") && msg.contains("no such table"))
      case Right(t) => fail(s"a query that threw was timed as $t s")
    }
    assert(Bench.timeCount(spark, "", boom).left.exists(_.contains("boom in a task")))
  }

  test("runPass: failed queries carry their message and stay out of the times") {
    val (times, failed) = Bench.runPass(spark, "spec", "",
      Seq("a_ok" -> ok, "b_boom" -> boom, "c_throws" -> throwsOnBuild))
    assert(times.keySet == Set("a_ok"))
    assert(failed.keySet == Set("b_boom", "c_throws"))
    assert(failed("c_throws").contains("no such table"))
    // the cut stops the pass before the next query
    var n = 0
    val (cut, _) = Bench.runPass(spark, "spec", "", Seq("a_ok" -> ok, "d_ok" -> ok),
      () => { n += 1; n <= 1 })
    assert(cut.keySet == Set("a_ok"))
  }

  test("section: min seconds per query over the passes; failures keep their message and stay out of every total") {
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = (s, d) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second pass only") else ok(s, d)
    }
    val s = Bench.section(spark, "spec", "",
      Seq("a_varies" -> sleeps(0.8, 0.05, 0.5), "b_boom" -> boom,
        "c_throws" -> throwsOnBuild, "d_flaky" -> flaky),
      passes = 3, farFuture, cutFirst = true, _ => Nil)
    assert(s.pass1("a_varies") >= 0.8)
    // pass 2's time, neither pass 1's nor pass 3's
    assert(s.times("a_varies") >= 0.05 && s.times("a_varies") < 0.5)
    assert(s.times.keySet == Set("a_varies") && s.pass1.keySet == Set("a_varies"))
    assert(s.failed.keySet == Set("b_boom", "c_throws", "d_flaky"))
    assert(s.failed("b_boom").contains("boom in a task"))
    assert(s.failed("c_throws").contains("no such table"))
    assert(s.failed("d_flaky").contains("second pass only"))
    assert(s.pass2N == 1)
    val (line, summary) = Bench.lines("dir", "dir1", s, Left("disabled"), Nil)
    val l = json(line)
    assert(names(l.get("queries")) == Seq("a_varies"))
    assert(math.abs(l.get("value").asDouble - s.times("a_varies")) <= 0.0051)
    assert(names(l.get("failed")) == Seq("b_boom", "c_throws", "d_flaky"))
    assert(json(summary).get("n_queries").asInt == 1)
    assert(json(summary).get("n_failed").asInt == 3)
  }

  test("section: builds report skipped and failed items by name with complete:false; a cut pass reports pass2_n below the query count") {
    val items = Seq[(String, () => Unit)](
      "a_built" -> (() => ()),
      "b_broken" -> (() => throw new IllegalStateException("build broke")),
      // crosses the build cut, halfway to `until`
      "c_slow" -> (() => Thread.sleep(700)),
      "d_late" -> (() => fail("a build past the cut ran")))
    val until = System.nanoTime() + 1200L * 1000000
    val s = Bench.section(spark, "spec", "",
      Seq("a_ok" -> ok, "b_slow" -> sleeps(0.6, 0.0)), passes = 2, until,
      cutFirst = false, Prebuild.timed(items, _))
    // pass 1 is never cut when cutFirst is off: it ends past `until`
    assert(s.pass1.keySet == Set("a_ok", "b_slow"))
    assert(s.pass2N < 2)
    val b = json(Json.obj(Bench.sectionFields("", s))).get("builds")
    assert(!b.get("complete").asBoolean)
    assert(names(b.get("skipped")) == Seq("d_late"))
    assert(names(b.get("failed")) == Seq("b_broken"))
    assert(names(b.get("items")) == Seq("a_built", "c_slow"))
    assert(b.get("n").asInt == 2)
  }

  test("contract lines: a failure message with quote, backslash, newline and tab parses back exactly") {
    val msg = "Bad \"x\" at C:\\tmp\nnext line\tcol"
    val s = Bench.Section(Nil, Map("a_ok" -> 1.0), Map("a_ok" -> 1.0), 1,
      Map("b_bad" -> msg), Map("some-memo" -> "reloaded"))
    val (line, summary) = Bench.lines("dir", "dir1", s, Left(msg),
      Seq("start" -> 0.5))
    assert(!line.contains('\n') && !summary.contains('\n'))
    val l = json(line)
    assert(l.get("failed").get("b_bad").asText == msg)
    assert(l.get("sf1_skipped").asText == msg)
    assert(names(l.get("memo_rest").get("reloaded")) == Seq("some-memo"))
    assert(json(summary).get("queries_file").asText == "BENCH_LAST.json")
  }

  test("session confs: key=value arguments split from positional ones and reach the session") {
    val (confs, pos) = Graft.splitArgs(
      Seq("/data/sf0.01", "graft.spec.probe=a=b", "/out", "x22,v10", "graft.spec.empty="))
    assert(pos == Seq("/data/sf0.01", "/out", "x22,v10"))
    assert(confs == Seq("graft.spec.probe" -> "a=b", "graft.spec.empty" -> ""))
    val bad = intercept[IllegalArgumentException](Graft.splitArgs(Seq("/out", "=v")))
    assert(bad.getMessage.contains("'=v'"))
    val s = Graft.session("local[4]", 4, confs)
    try {
      assert(s.conf.get("graft.spec.probe") == "a=b")
      assert(s.conf.get("graft.spec.empty") == "")
    } finally confs.foreach { case (k, _) => s.conf.unset(k) }
  }
}
