package graft

import org.apache.spark.sql.functions._

/** Lifecycle of the per-session memo (SessionMemo) and the
  * conf-selected checkpoint mode (Graft.truncate): the round-5 memo
  * machinery must not pin dead state in a long-lived JVM, must not
  * serve stale results after the data under it is regenerated, and must
  * be switchable to RELIABLE checkpoints for clusters with preemption.
  */
class SessionMemoSpec extends SparkSpec {

  private def writeDocs(dir: String, tag: String): Unit =
    spark.range(0, 8).select(col("id").as("doc_id"),
        concat(lit(s"doc $tag body word"), col("id")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  test("memo entry is released and dropped when its session ends") {
    val s2 = spark.newSession()
    Graft.tune(s2)
    val dir = java.nio.file.Files.createTempDirectory("memo-life").toString
    writeDocs(s"$dir/documents.parquet", "a")
    val before = SessionMemo.keysFor(s2)
    assert(before.isEmpty)
    val df = SessionMemo.getOrCompute(s2, s"$dir/documents.parquet", "spec") {
      Graft.truncate(s2.read.parquet(s"$dir/documents.parquet"), eager = true)
    }(Graft.releaseTruncated)
    assert(df.count() == 8)
    assert(SessionMemo.keysFor(s2).size == 1)
    val rdds = Graft.truncatedRdds(df)
    assert(rdds.nonEmpty)
    val ids = rdds.map(_.id).toSet
    assert(ids.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "checkpoint blocks should be persisted while the entry lives")
    SessionMemo.endSession(s2)
    assert(SessionMemo.keysFor(s2).isEmpty)
    assert(ids.intersect(spark.sparkContext.getPersistentRDDs.keySet).isEmpty,
      "endSession must unpersist the entry's checkpoint storage")
  }

  test("memo entries are session-distinct and survive unrelated sessions ending") {
    val sA = spark.newSession()
    val sB = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("memo-dist").toString
    writeDocs(s"$dir/documents.parquet", "b")
    def memo(s: org.apache.spark.sql.SparkSession) =
      SessionMemo.getOrCompute(s, s"$dir/documents.parquet", "spec") {
        Graft.truncate(s.read.parquet(s"$dir/documents.parquet"), eager = true)
      }(Graft.releaseTruncated)
    val a = memo(sA); val b = memo(sB)
    assert(a ne b, "distinct sessions must not share one memo entry")
    assert(memo(sA) eq a, "same session must hit its own entry")
    SessionMemo.endSession(sA)
    assert(SessionMemo.keysFor(sA).isEmpty)
    assert(SessionMemo.keysFor(sB).size == 1,
      "ending one session must not evict another session's entries")
    SessionMemo.endSession(sB)
  }

  test("regenerated data invalidates the memo (fingerprint keying)") {
    val s2 = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("memo-fp").toString
    val tbl = s"$dir/documents.parquet"
    writeDocs(tbl, "gen1")
    def firstText() = SessionMemo.getOrCompute(s2, tbl, "spec") {
      Graft.truncate(s2.read.parquet(tbl), eager = true)
    }(Graft.releaseTruncated)
      .orderBy("doc_id").select("text").head().getString(0)
    assert(firstText().contains("gen1"))
    Thread.sleep(5) // distinct mtime even on coarse filesystem clocks
    writeDocs(tbl, "gen2")
    assert(firstText().contains("gen2"),
      "a lookup after the table dir changed must recompute, not serve stale data")
    assert(SessionMemo.keysFor(s2).size == 1, "stale entry replaced, not leaked")
    SessionMemo.endSession(s2)
  }

  test("unchanged data is fingerprinted without re-walking the tree") {
    val s2 = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("memo-walk").toString
    val tbl = s"$dir/documents.parquet"
    writeDocs(tbl, "w")
    def lookup() = SessionMemo.getOrCompute(s2, tbl, "spec") {
      Graft.truncate(s2.read.parquet(tbl), eager = true)
    }(Graft.releaseTruncated).count()
    // pin the staleness-TTL far above this test's runtime: the assertion
    // is about the shallow signature, not about wall-clock expiry
    val ttl = SessionMemo.FpWalkTtlMillis
    SessionMemo.FpWalkTtlMillis = 10 * 60 * 1000L
    try {
      lookup() // first lookup: one deep walk to prime the cache
      val walks = SessionMemo.deepWalks
      (1 to 5).foreach(_ => lookup())
      assert(SessionMemo.deepWalks == walks,
        "repeated lookups over unchanged data must reuse the cached deep " +
          "fingerprint (shallow directory-level signature only)")
      Thread.sleep(5)
      writeDocs(tbl, "w2")
      lookup()
      assert(SessionMemo.deepWalks > walks,
        "a changed table dir must invalidate the cached walk")
    } finally {
      SessionMemo.FpWalkTtlMillis = ttl
      SessionMemo.endSession(s2)
    }
  }

  test("sweep evicts fingerprint-cache entries for abandoned paths") {
    val dir = java.nio.file.Files.createTempDirectory("memo-fpev").toString
    val f = java.nio.file.Paths.get(dir, "t.txt")
    java.nio.file.Files.write(f, "x".getBytes)
    SessionMemo.fingerprint(dir) // prime
    val walks0 = SessionMemo.deepWalks
    SessionMemo.fingerprint(dir)
    assert(SessionMemo.deepWalks == walks0, "cached walk must be served")
    val age = SessionMemo.FpCacheMaxAgeNanos
    SessionMemo.FpCacheMaxAgeNanos = 0L // everything is now "abandoned"
    try {
      SessionMemo.sweep(System.currentTimeMillis())
      SessionMemo.fingerprint(dir)
      assert(SessionMemo.deepWalks > walks0,
        "post-eviction lookup must re-walk (entry was dropped, not served)")
    } finally SessionMemo.FpCacheMaxAgeNanos = age
  }

  test("idle entries are swept after their TTL") {
    val s2 = spark.newSession()
    s2.conf.set("graft.memo.ttlSeconds", "60")
    val dir = java.nio.file.Files.createTempDirectory("memo-ttl").toString
    writeDocs(s"$dir/documents.parquet", "c")
    val df = SessionMemo.getOrCompute(s2, s"$dir/documents.parquet", "spec") {
      Graft.truncate(s2.read.parquet(s"$dir/documents.parquet"), eager = true)
    }(Graft.releaseTruncated)
    val ids = Graft.truncatedRdds(df).map(_.id).toSet
    assert(SessionMemo.keysFor(s2).size == 1)
    SessionMemo.sweep(System.currentTimeMillis() + 61 * 1000L)
    assert(SessionMemo.keysFor(s2).isEmpty, "idle entry past TTL must be evicted")
    assert(ids.intersect(spark.sparkContext.getPersistentRDDs.keySet).isEmpty,
      "TTL eviction must release the entry's storage")
  }

  test("graft.checkpoint.dir switches truncation to reliable checkpoints") {
    val s2 = spark.newSession()
    Graft.tune(s2)
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    s2.conf.set("graft.checkpoint.dir", ckDir)
    try {
      import s2.implicits._
      // dupClusters runs its per-round truncation under the conf
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
      val clusters = operators.Dedup.dupClusters(pairs)
      val rdds = Graft.truncatedRdds(clusters)
      assert(rdds.nonEmpty, "dupClusters output must be lineage-truncated")
      assert(rdds.forall(r => r.isCheckpointed && r.getCheckpointFile.isDefined),
        "with graft.checkpoint.dir set the cut must be a RELIABLE checkpoint " +
          "(files under the conf dir), not a local one")
      assert(rdds.forall(_.getCheckpointFile.get.contains(
        new java.io.File(ckDir).getName)))
      // and the result is still correct
      val got = clusters.orderBy("member_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 1L), (1L, 2L), (1L, 3L), (10L, 10L), (10L, 11L)))
    } finally s2.conf.unset("graft.checkpoint.dir")
  }

  test("without the conf, truncation stays local (no checkpoint files)") {
    val s2 = spark.newSession()
    import s2.implicits._
    val df = Graft.truncate(Seq(1, 2, 3).toDF("x"), eager = true)
    val rdds = Graft.truncatedRdds(df)
    assert(rdds.nonEmpty)
    assert(rdds.forall(_.getCheckpointFile.isEmpty),
      "default mode is localCheckpoint — executor-storage blocks, no files")
    Graft.releaseTruncated(df)
  }
}
