package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's timing helper: a query that throws is reported as failed
  * with its message, never timed as a success.
  */
class BenchSpec extends SparkSpec {

  private val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(0, 10).toDF()
  private val boom: (SparkSession, String) => DataFrame =
    (s, _) => s.range(0, 10).toDF().map[Long]((_: org.apache.spark.sql.Row) =>
      throw new IllegalStateException("boom in a task"))(
      org.apache.spark.sql.Encoders.scalaLong).toDF()
  private val throwsOnBuild: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalArgumentException("no such table")

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
}
