package graft

import org.apache.spark.sql.functions._

/** At-rest memo persistence contracts (VERDICT r12 #2): a later session
  * RELOADS the fingerprint-keyed parquet sidecar instead of rebuilding;
  * changed source data invalidates the sidecar; a corrupt sidecar falls
  * back to building; literal memos reload into LocalRelation form; the
  * reload value is row-identical to the built one.
  */
class RestMemoSpec extends SparkSpec {

  private def withRestDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rest-spec")
      .toString
    val prev = spark.conf.getOption("graft.memo.restDir")
    spark.conf.set("graft.memo.restDir", dir)
    try body(dir)
    finally prev match {
      case Some(v) => spark.conf.set("graft.memo.restDir", v)
      case None => spark.conf.unset("graft.memo.restDir")
    }
  }

  private def writeSource(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-rest-src")
      .resolve("t.parquet").toString
    rows.toDF("id", "s").repartition(1).write.mode("overwrite").parquet(p)
    p
  }

  test("frame: second session reloads the sidecar instead of rebuilding; rows identical") {
    withRestDir { _ =>
      val src = writeSource(Seq((1L, "a"), (2L, "b"), (3L, "c")))
      var builds = 0
      def get() = RestMemo.frame(spark, src, "spec-frame-v1") {
        builds += 1
        spark.read.parquet(src).groupBy(col("s")).agg(count(lit(1)).as("n"))
      }
      val first = get().orderBy("s").collect().toSeq
      assert(builds == 1)
      // same session: memo hit, no reload, no rebuild
      get()
      assert(builds == 1)
      // "new session": drop the in-session slot; the sidecar remains
      SessionMemo.endSession(spark)
      val second = get().orderBy("s").collect().toSeq
      assert(builds == 1, "second session should reload, not rebuild")
      assert(second == first)
      assert(RestMemo.drainOutcomes().get("spec-frame-v1").contains("reloaded"))
    }
  }

  test("frame: the build returns a plain plan; the memo holds it truncated, built and reloaded, and releases the build's tracked persists") {
    withRestDir { _ =>
      val src = writeSource(Seq((1L, "a"), (2L, "b"), (3L, "a")))
      var persisted: org.apache.spark.sql.DataFrame = null
      def get() = RestMemo.frame(spark, src, "spec-frame-plain") {
        persisted = Graft.trackedPersist(spark.read.parquet(src))
        persisted.groupBy(col("s")).agg(count(lit(1)).as("n"))
      }
      def truncated(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
      val built = get()
      assert(truncated(built), built.queryExecution.analyzed.toString)
      assert(persisted.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the build's tracked persist outlived the build")
      val rows = built.orderBy("s").collect().toSeq
      SessionMemo.endSession(spark)
      val reloaded = get()
      assert(RestMemo.drainOutcomes().get("spec-frame-plain").contains("reloaded"))
      assert(truncated(reloaded), reloaded.queryExecution.analyzed.toString)
      assert(reloaded.orderBy("s").collect().toSeq == rows)
    }
  }

  test("frame: changed source data invalidates the sidecar") {
    withRestDir { _ =>
      val src = writeSource(Seq((1L, "a")))
      var builds = 0
      def get() = RestMemo.frame(spark, src, "spec-frame-inval") {
        builds += 1
        spark.read.parquet(src)
      }
      assert(get().count() == 1 && builds == 1)
      SessionMemo.endSession(spark)
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(1)
        .write.mode("overwrite").parquet(src)
      assert(get().count() == 2, "stale sidecar served after data change")
      assert(builds == 2, "fingerprint change must rebuild")
    }
  }

  test("frame: corrupt sidecar falls back to building") {
    withRestDir { restDir =>
      val src = writeSource(Seq((7L, "x")))
      var builds = 0
      def get() = RestMemo.frame(spark, src, "spec-frame-corrupt") {
        builds += 1
        spark.read.parquet(src)
      }
      get(); assert(builds == 1)
      SessionMemo.endSession(spark)
      // clobber the sidecar's parquet but keep the manifest
      val side = java.nio.file.Files.list(java.nio.file.Paths.get(restDir))
        .filter(_.getFileName.toString.startsWith("spec-frame-corrupt"))
        .findFirst().get()
      val dataDir = side.resolve("data")
      java.nio.file.Files.walk(dataDir).sorted(
          java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      assert(get().count() == 1)
      assert(builds == 2, "corrupt sidecar must fall back to building")
    }
  }

  test("frame: the what-tag bump contract — changed compute under the old tag reloads stale; the bumped tag misses and rebuilds") {
    withRestDir { _ =>
      val src = writeSource(Seq((1L, "a"), (2L, "b")))
      var builds = 0
      // the memoized compute, parameterized the way a code change would
      // change it (v1 counts rows per key; v2 sums ids per key)
      def get(what: String, v2: Boolean) = RestMemo.frame(spark, src, what) {
        builds += 1
        val agg = if (v2) sum(col("id")).as("n") else count(lit(1)).as("n")
        spark.read.parquet(src).groupBy(col("s")).agg(agg)
      }
      val v1Rows = get("spec-tag", v2 = false).orderBy("s").collect().toSeq
      assert(builds == 1)
      SessionMemo.endSession(spark)
      // THE HAZARD the contract exists for: the compute changed but the
      // tag did not — the fingerprint (source data) is unchanged, so the
      // v1 sidecar reloads as if current and serves the OLD compute's
      // rows. This is documented behavior (RestMemo.frame scaladoc), and
      // why a compute change MUST ship with a bumped tag.
      val stale = get("spec-tag", v2 = true).orderBy("s").collect().toSeq
      assert(builds == 1, "unbumped tag must reload (that IS the hazard)")
      assert(stale == v1Rows, "stale reload serves the old compute")
      // THE CONTRACT: bumping the tag (spec-tag -> spec-tag-v2) misses
      // the v1 sidecar and rebuilds with the new compute.
      val fresh = get("spec-tag-v2", v2 = true).orderBy("s").collect().toSeq
      assert(builds == 2, "bumped tag must miss the v1 sidecar and rebuild")
      assert(fresh != v1Rows, "rebuilt rows reflect the new compute")
      assert(RestMemo.drainOutcomes().get("spec-tag-v2").contains("built"))
    }
  }

  test("literalFrame: reload lands in LocalRelation form with identical rows") {
    withRestDir { _ =>
      val src = writeSource(Seq((1L, "p"), (2L, "q")))
      var builds = 0
      def get() = RestMemo.literalFrame(spark, src, "spec-literal") {
        builds += 1
        import spark.implicits._
        Seq((0, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 4.0f)))
          .toDF("cell", "centroid")
      }
      val first = get().orderBy("cell").collect().toSeq
      SessionMemo.endSession(spark)
      val re = get()
      assert(builds == 1, "literal memo should reload")
      assert(re.orderBy("cell").collect().toSeq == first)
      // the reload is a LocalRelation literal (broadcast-trivial), not
      // a parquet scan plan
      assert(re.queryExecution.analyzed.collectLeaves().forall(
        _.getClass.getSimpleName.contains("LocalRelation")),
        re.queryExecution.analyzed.toString)
    }
  }

  test("multi: composite value round-trips frames + meta") {
    withRestDir { _ =>
      val src = writeSource(Seq((5L, "z")))
      final case class Pair(big: org.apache.spark.sql.DataFrame,
        small: org.apache.spark.sql.DataFrame, k: Int)
      var builds = 0
      def get() = RestMemo.multi(spark, src, "spec-multi")({
        builds += 1
        import spark.implicits._
        Pair(
          Graft.truncate(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"),
            eager = true),
          Seq((0, "c0")).toDF("code", "label"), 42)
      })(
        p => (Seq("big" -> p.big, "small" -> p.small),
          Map("k" -> p.k.toString)),
        (fs, meta) => Pair(RestMemo.truncated(fs("big")),
          RestMemo.literal(spark, fs("small")), meta("k").toInt))(_ => ())
      val first = get()
      val rows = first.big.orderBy("id").collect().toSeq
      SessionMemo.endSession(spark)
      val re = get()
      assert(builds == 1, "multi memo should reload")
      assert(re.k == 42)
      assert(re.big.orderBy("id").collect().toSeq == rows)
      assert(re.small.collect().toSeq == first.small.collect().toSeq)
    }
  }

  test("frame: a sidecar written under one engine code stamp is rebuilt, not reloaded, under another") {
    withRestDir { _ =>
      val src = writeSource(Seq((1L, "a"), (2L, "b")))
      var builds = 0
      def get() = RestMemo.frame(spark, src, "spec-code-stamp") {
        builds += 1
        spark.read.parquet(src)
      }
      val prev = RestMemo.CodeStampOverride
      try {
        RestMemo.CodeStampOverride = Some("A")
        assert(get().count() == 2 && builds == 1)
        SessionMemo.endSession(spark)
        get()
        assert(builds == 1, "same stamp: the sidecar reloads")
        SessionMemo.endSession(spark)
        RestMemo.CodeStampOverride = Some("B")
        assert(get().count() == 2)
        assert(builds == 2, "a new code stamp must rebuild")
        assert(RestMemo.drainOutcomes().get("spec-code-stamp").contains("built"))
      } finally RestMemo.CodeStampOverride = prev
    }
  }
}
