package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipelines.OsmFixture
import graft.queries.OsmQueries
import graft.tools.GenOsm

/** The session read-plan memo (`Graft.read`): one entry per (session,
  * path), validated by `SessionMemo.fingerprint` — reused while the
  * table is unchanged, replaced (never duplicated) when it is rewritten.
  */
class ReadMemoSpec extends SparkSpec {

  private def write(path: String, n: Int): Unit =
    spark.range(0, n).select(col("id"), (col("id") % 3).as("k"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"readmemo-$tag").resolve("t.parquet").toString

  /** Run `body` with the deep-walk staleness bound pinned to `ms`. */
  private def withWalkTtl[T](ms: Long)(body: => T): T = {
    val ttl = SessionMemo.FpWalkTtlMillis
    SessionMemo.FpWalkTtlMillis = ms
    try body finally SessionMemo.FpWalkTtlMillis = ttl
  }

  private def readPlanKeys(s: SparkSession, path: String): Seq[String] =
    SessionMemo.keysFor(s).filter(k => k.contains(path) && k.endsWith(":read-plan"))

  test("(a) an unchanged table: the same DataFrame, no new deep walk") {
    val path = tmpTable("same")
    write(path, 8)
    withWalkTtl(10 * 60 * 1000L) {
      val first = Graft.read(spark, path)
      val walks = SessionMemo.deepWalks
      (1 to 5).foreach { _ =>
        assert(Graft.read(spark, path) eq first,
          "a repeated read of an unchanged dir must return the memoized plan")
      }
      assert(SessionMemo.deepWalks == walks,
        "lookups over an unchanged dir must not re-walk the tree")
      assert(first.count() == 8)
    }
  }

  test("(b) an overwrite in the same session is seen at once") {
    val path = tmpTable("overwrite")
    write(path, 8)
    withWalkTtl(10 * 60 * 1000L) {
      val first = Graft.read(spark, path)
      assert(first.count() == 8)
      write(path, 5)
      val second = Graft.read(spark, path)
      assert(second ne first, "a rewritten dir must get a fresh read plan")
      assert(second.count() == 5)
    }
  }

  test("(c) a change two levels down is seen once the walk TTL passes") {
    val path = tmpTable("deep")
    spark.range(0, 12).select(col("id"), (col("id") % 2).as("a"),
        (col("id") % 3).as("b"))
      .write.mode("overwrite").partitionBy("a", "b").parquet(path)
    // one more file in the leaf a=0/b=0: it moves no direct child of the
    // table root, so only the deep walk can see it
    val extra = Files.createTempDirectory("readmemo-extra").resolve("x").toString
    spark.range(100, 103).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(extra)
    val part = Files.list(Paths.get(extra)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(p => p.getFileName.toString.startsWith("part-")).get
    withWalkTtl(10 * 60 * 1000L) {
      assert(Graft.read(spark, path).count() == 12)
      Files.move(part, Paths.get(path, "a=0", "b=0", "part-extra.parquet"))
      assert(Graft.read(spark, path).count() == 12,
        "inside the TTL the change is invisible to the shallow signature")
    }
    withWalkTtl(50L) {
      Thread.sleep(100)
      assert(Graft.read(spark, path).count() == 15,
        "past the TTL the deep walk must see the new leaf file")
    }
  }

  test("(d) k rewrites of one path leave one read-plan entry, not k") {
    val s2 = spark.newSession()
    val path = tmpTable("keys")
    try withWalkTtl(10 * 60 * 1000L) {
      (1 to 4).foreach { i =>
        write(path, 4 + i)
        assert(Graft.read(s2, path).count() == 4 + i)
        assert(readPlanKeys(s2, path).size == 1,
          s"after rewrite $i: ${SessionMemo.keysFor(s2)}")
      }
    } finally SessionMemo.endSession(s2)
  }

  test("(e) o4 answers from the new data after OsmFixture.build rewrites it") {
    val root = Files.createTempDirectory("readmemo-osm").toString
    val o4 = SparkEntry.queries("o4_top_contributors")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    OsmFixture.withRoot(root) {
      def rebuild(nNodes: Int, seed: Long): Unit = {
        GenOsm.write(OsmFixture.xmlPath, nNodes = nNodes, nWays = nNodes / 10,
          seed = seed)
        Files.writeString(Paths.get(root, "GENERATOR_VERSION"),
          OsmFixture.generatorVersion.toString)
        OsmFixture.build(spark)
      }
      // what a bare read of the fixture as it is now answers
      def fresh() = rows(OsmQueries.topContributors(
        spark.read.parquet(OsmFixture.docsPath), 3))
      rebuild(900, 1L)
      val before = rows(o4(spark, ""))
      assert(before == fresh())
      rebuild(1800, 2L)
      val after = rows(o4(spark, ""))
      assert(after == fresh(), "o4 must answer from the rewritten fixture")
      assert(after != before)
    }
  }
}
