package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

import graft.operators.Multimodal
import graft.streaming.{AssetStream, DocStream, EventStream, VecStream}

/** Streaming (file source → watermark window agg → memory sink) and
  * multimodal plumbing tests.
  */
class StreamingMultimodalSpec extends SparkSpec {

  test("streaming hourly rollup matches the batch twin (e1)") {
    val dir = "/root/testdata/sf0.001"
    // file streams need a DIRECTORY; stage the single parquet file
    val stage = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream = EventStream.read(spark, stage.toString)
    assert(stream.isStreaming)
    val q = EventStream.hourlyRollup(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("rollup_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("rollup_out")
      .agg(sum(col("n"))).collect()(0).getLong(0)
    // append mode emits only windows past the watermark; the final
    // (max-ts) window is withheld → strictly fewer events than total,
    // but the bulk must be there
    val total = Graft.table(spark, dir, "events").count()
    assert(got > total / 2 && got <= total, s"got=$got total=$total")
    // emitted windows agree exactly with the batch aggregation
    val batch = Graft.table(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val joined = spark.table("rollup_out").as("s")
      .join(batch.as("b"),
        col("s.hour") === col("b.hour") && col("s.event_type") === col("b.event_type"))
      .filter(col("s.n") =!= col("b.n")).count()
    assert(joined == 0, "streamed window counts diverge from batch")
  }

  test("streaming dedup drops at-least-once re-deliveries (batch twin: distinct ids)") {
    val dir = "/root/testdata/sf0.001"
    // stage the SAME events file twice: every event arrives exactly twice,
    // the at-least-once redelivery case dropDuplicatesWithinWatermark exists for
    val stage = java.nio.file.Files.createTempDirectory("events_dup_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events_b.parquet"))
    val q = EventStream.dedupe(EventStream.read(spark, stage.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_out").count()
    val batch = EventStream.dedupe(Graft.table(spark, dir, "events")).count()
    val total = Graft.table(spark, dir, "events").count()
    assert(got == batch && got == total,
      s"stream dedup=$got batch twin=$batch original=$total")
    // and the ids themselves are unique
    assert(spark.table("dedup_out").select("event_id").distinct().count() == got)
  }

  test("streaming document feed: enrichment + watermarked dedup match batch twin") {
    val dir = "/root/testdata/sf0.001"
    // stage the documents file twice: at-least-once redelivery of the
    // whole feed; the corpus ALSO contains planted exact dups (same
    // lang+text, different doc_id) that share a fingerprint
    val stage = java.nio.file.Files.createTempDirectory("docs_dup_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("docs_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stage.resolve("docs_b.parquet"))
    val q = DocStream.cleanFeed(DocStream.read(spark, stage.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("docfeed_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // which doc_id survives per fingerprint is arbitrary on both paths,
    // but fp determines (lang, text) and therefore every derived column
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("fp", "n_tokens", "quality").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = spark.table("docfeed_out")
    val batchIn = spark.read.schema(DocStream.storedSchema)
      .parquet(stage.toString)
    // the DECLARED batch twin (e9's dataflow): same enrichment, exact
    // dedup keeping the earliest arrival
    val batch = DocStream.cleanFeedBatch(batchIn)
    val staged = batchIn.count() // both copies: every doc arrived twice
    assert(got.count() == batch.count())
    assert(keyset(got) == keyset(batch))
    assert(got.count() <= staged / 2, // every doc arrived twice: at least
      s"redeliveries not dropped: ${got.count()} of $staged staged rows")
    // the batch twin keeps the EARLIEST arrival deterministically:
    // every survivor's doc_id is its fingerprint group's minimum
    val minIds = DocStream.enrich(batchIn)
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
    assert(batch.join(minIds, Seq("fp", "doc_id"), "left_anti").count() == 0,
      "cleanFeedBatch must keep the min-doc_id (earliest) row per fingerprint")
  }

  test("stream-stream interval join matches the batch twin (e8)") {
    val dir = "/root/testdata/sf0.001"
    val stage = java.nio.file.Files.createTempDirectory("events_join_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream = EventStream.read(spark, stage.toString)
    val q = EventStream.viewToPurchase(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("v2p_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("v2p_out")
      .select("user_id", "view_id", "buy_id").collect().toSet
    // batch twin over the identical rows — ts surfaces as TIMESTAMP (not
    // NTZ) via EventStream.readBatch to match the stream exactly
    val batchEvents = EventStream.readBatch(spark, stage.toString)
    val batch = EventStream.viewToPurchase(batchEvents)
      .select("user_id", "view_id", "buy_id").collect().toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size} pairs")
    assert(streamed.nonEmpty)
  }

  test("multimodal decode/features/frames plumbing") {
    import spark.implicits._
    val docs = Graft.table(spark, "/root/testdata/sf0.001", "documents")
    val assets = Multimodal.assetsFromDocuments(docs).cache()
    assert(assets.count() == docs.count())

    val decoded = Multimodal.decode(assets).cache()
    assert(decoded.count() == assets.count())
    val d0 = decoded.filter(_.asset_id == 0L).collect()(0)
    assert(d0.byte_size > 0 && d0.width >= 16 && d0.height >= 16)
    // deterministic: same input → same checksum on re-run
    val again = Multimodal.decode(assets).filter(_.asset_id == 0L).collect()(0)
    assert(again.checksum == d0.checksum)

    val feats = Multimodal.extractFeatures(assets, dim = 16).cache()
    assert(feats.count() == assets.count())
    assert(feats.head().features.length == 16)

    val frames = Multimodal.sampleFrames(assets, n = 4)
    val perAsset = frames.groupByKey(_.asset_id).count().collect().toMap
    assert(perAsset.nonEmpty && perAsset.values.forall(n => n > 0 && n <= 4))
    // only video assets produce frames
    val videoIds = assets.filter(_.media_type == "video")
      .map(_.asset_id).collect().toSet
    assert(perAsset.keySet.subsetOf(videoIds))

    // resize: images only, fits in the box, aspect preserved, payload
    // shrinks proportionally, deterministic across runs
    val resized = Multimodal.resize(assets, maxW = 64, maxH = 64).cache()
    val imageIds = assets.filter(_.media_type == "image")
      .map(_.asset_id).collect().toSet
    assert(resized.map(_.asset_id).collect().toSet == imageIds)
    val joined = resized.joinWith(decoded,
      resized("asset_id") === decoded("asset_id")).collect()
    joined.foreach { case (r, d) =>
      assert(r.width <= 64 && r.height <= 64 && r.width >= 1 && r.height >= 1)
      val srcRatio = d.width.toDouble / d.height
      val dstRatio = r.width.toDouble / r.height
      // integer rounding distorts extreme aspect ratios (a 1900x17 image
      // legitimately lands on 64x1); check ratio only when both target
      // dims have room for it
      if (math.min(r.width, r.height) >= 8)
        assert(math.abs(srcRatio - dstRatio) / srcRatio < 0.3,
          s"aspect drift: $srcRatio vs $dstRatio")
      assert(r.media.length <= d.byte_size)
    }
  }

  test("100MB binary asset fixture: round-trip, partition spread, layout") {
    import graft.pipelines.MultimodalFixture
    MultimodalFixture.ensure(spark)

    // file layout: multiple files, >=100 MB total (row groups capped at
    // 32 MB by the writer → a column chunk never straddles a task split)
    val files = new java.io.File(MultimodalFixture.assetsPath)
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4, s"expected spread output files, got ${files.length}")
    assert(files.map(_.length).sum >= 100L * 1024 * 1024)

    // byte-packed binary scan arrives under-partitioned; ensureParallelism
    // must spread it to the session's cores so decode isn't single-threaded
    val raw = spark.read.parquet(MultimodalFixture.assetsPath)
    val spread = Graft.ensureParallelism(raw)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)

    // round-trip totals match the generator's pure-arithmetic
    // expectation (containerLen: genuine BMP/WAV/AVI container sizes)
    import spark.implicits._
    val expectedBytes = (0 until MultimodalFixture.nAssets)
      .map(i => MultimodalFixture.containerLen(i.toLong).toLong).sum
    val decoded = graft.operators.Multimodal.decode(
      spread.as[graft.operators.Multimodal.Asset])
    val Array(row) = decoded
      .agg(count(lit(1)), sum(col("byte_size"))).collect()
    assert(row.getLong(0) == MultimodalFixture.nAssets.toLong)
    assert(row.getLong(1) == expectedBytes, s"byte total drifted: ${row.getLong(1)} != $expectedBytes")
  }

  test("sessionize: session_window gap sessions, stream and batch agree") {
    // batch path
    val dir = "/root/testdata/sf0.001"
    val batchSessions = EventStream.sessionize(
      Graft.table(spark, dir, "events"), gap = "10 minutes").cache()
    val nSessions = batchSessions.count()
    val nEvents = Graft.table(spark, dir, "events").count()
    assert(nSessions > 0 && nSessions <= nEvents)
    assert(batchSessions.agg(sum(col("n_events"))).collect()(0).getLong(0) == nEvents)
    // sessions respect the gap: start of next session > end of previous
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("start")
    val overlaps = batchSessions
      .withColumn("prev_end", lag(col("end"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("start") < col("prev_end"))
      .count()
    assert(overlaps == 0)

    // streaming path over the same data emits closed sessions that all
    // appear in the batch result
    val stage = java.nio.file.Files.createTempDirectory("events_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val q = EventStream.sessionize(EventStream.read(spark, stage.toString),
        gap = "10 minutes", watermark = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sessions_out")
    assert(streamed.count() > 0)
    val mismatched = streamed.as("s").join(batchSessions.as("b"),
      Seq("user_id", "start", "end", "n_events"), "left_anti").count()
    assert(mismatched == 0, "streamed session not present in batch result")
  }

  test("stream definition on an empty source directory falls back to the legacy schema") {
    // the normal file-stream deployment order: the query starts BEFORE
    // the producer writes the first file — schema inference has no
    // footers to read and must not fail the stream definition
    val empty = java.nio.file.Files.createTempDirectory("events_empty")
    val stream = EventStream.read(spark, empty.toString)
    assert(stream.isStreaming)
    // eventTime still normalizes the legacy nanos-long ts to a timestamp
    assert(stream.schema("ts").dataType.typeName.startsWith("timestamp"),
      s"ts surfaced as ${stream.schema("ts").dataType}")
    // hidden/metadata entries (_spark_metadata, .crc) still count as
    // "no data yet" — the fallback must survive them
    java.nio.file.Files.createDirectory(empty.resolve("_spark_metadata"))
    java.nio.file.Files.write(empty.resolve(".keep"), Array[Byte]())
    assert(EventStream.storedSchemaOf(spark, empty.toString) ==
      EventStream.storedSchema)
    // but a directory with an actual (unreadable) DATA file is not the
    // pre-producer state: adopting the legacy schema there would mask a
    // corrupt/foreign directory — it must fail loudly instead
    val junk = java.nio.file.Files.createTempDirectory("events_junk")
    java.nio.file.Files.write(junk.resolve("part-0000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      EventStream.storedSchemaOf(spark, junk.toString)
    }
  }

  test("checkpointed restart: state restored, redeliveries dropped, new rows flow") {
    // The failure-recovery contract a 100 TB stream lives on: the
    // checkpoint persists source offsets, watermark, AND dedup state, so
    // a restarted query neither re-emits what it already wrote (parquet
    // sink commits via its metadata log) nor re-admits redelivered
    // events — while genuinely new events keep flowing.
    val dir = "/root/testdata/sf0.001"
    val stage = java.nio.file.Files.createTempDirectory("events_ckpt_stage")
    val ckpt = java.nio.file.Files.createTempDirectory("events_ckpt_meta")
    val outDir = java.nio.file.Files.createTempDirectory("events_ckpt_out")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events_a.parquet"))

    def runOnce(): Unit = {
      val q = EventStream.dedupe(EventStream.read(spark, stage.toString))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }

    runOnce() // run 1: processes file a, then terminates (simulated stop)
    val total = Graft.table(spark, dir, "events").count()
    assert(spark.read.parquet(outDir.toString).count() == total)

    // redeliver the ENTIRE original file (every event a duplicate), plus
    // 5 genuinely new events 3 h past the old max ts (ahead of the
    // restored watermark, so they must flow)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events_b.parquet"))
    // encoding-agnostic: readBatch surfaces ts as TIMESTAMP whatever the
    // stored form; write the synthesized rows back in the stored form by
    // reusing the staged file's own schema (cast by matching name).
    val raw = EventStream.readBatch(spark, stage.resolve("events_a.parquet").toString)
    val maxId = raw.agg(max(col("event_id"))).collect()(0).getLong(0)
    val storedTsType = EventStream
      .storedSchemaOf(spark, stage.resolve("events_a.parquet").toString)("ts").dataType
    val tmpNew = java.nio.file.Files.createTempDirectory("events_ckpt_new")
    // readBatch surfaces ts as TIMESTAMP whatever the stored form, so the
    // collected max is a java.sql.Timestamp.
    val maxTs = raw.agg(max(col("ts")).as("max_ts")).collect()(0)
      .getAs[java.sql.Timestamp]("max_ts")
    val shifted = raw.orderBy(col("event_id")).limit(5)
      .withColumn("event_id", col("event_id") + lit(maxId + 1))
      // 3 h PAST the restored watermark (max ts - 2 h), so they must flow
      .withColumn("ts", lit(maxTs) + expr("INTERVAL 3 HOURS"))
    // Cast ts back to the staged files' stored encoding: run 2 reads the
    // whole stage dir under one schema (storedSchemaOf), so events_c must
    // match events_a/b on disk. Legacy testdata stores ts as nanos-long.
    val restoredForm = storedTsType match {
      case LongType => shifted.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case t        => shifted.withColumn("ts", col("ts").cast(t))
    }
    restoredForm
      .coalesce(1).write.mode("overwrite").parquet(tmpNew.toString)
    val part = java.nio.file.Files.list(tmpNew).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var copied = false
    while (part.hasNext && !copied) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        java.nio.file.Files.copy(p, stage.resolve("events_c.parquet"))
        copied = true
      }
    }
    assert(copied, "no part file written for the new events")

    runOnce() // run 2: restart from the same checkpoint
    val out = spark.read.parquet(outDir.toString)
    assert(out.count() == total + 5,
      s"expected exactly-once output ${total + 5}, got ${out.count()}")
    assert(out.select("event_id").distinct().count() == total + 5)
  }

  test("nearDupIngest: within-batch canonicals, cross-batch quarantine, idempotent replay") {
    import spark.implicits._
    val g = new GateScaffold(spark, "ndi")
    def docs(rows: (Long, String)*) = rows.map { case (id, text) =>
      (id, text, "en", "crawl", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // batch 0: docs 1/2 are near-dups of each other, doc 3 unique
    g.stage("a.parquet", docs(
      1L -> base,
      2L -> (base.dropRight(3) + "zzz"),
      3L -> (1 to 30).map(i => s"u$i").mkString(" ")))
    val q = DocStream.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, threshold = 0.5)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("doc_id").as[Long].collect().toSet
      assert(idx1 == Set(1L, 3L), s"batch-0 index: $idx1")
      // batch 1: doc 10 near-dups INDEXED doc 1; doc 11 is novel
      g.stage("b.parquet", docs(
        10L -> (base.dropRight(3) + "yyy"),
        11L -> (1 to 30).map(i => s"v$i").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    def snapshot() = g.sinks(Seq("doc_id", "text", "ingest_batch"),
        r => (r.getLong(0), r.getString(1), r.getInt(2)))(
      Seq("doc_id", "matched_id", "reason", "ingest_batch"),
        r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
    val (idx, quar) = snapshot()
    assert(idx.map(_._1) == Set(1L, 3L, 11L), s"final index: $idx")
    assert(quar.map(t => (t._1, t._2, t._3)) == Set(
      (2L, 1L, "within_batch"), (10L, 1L, "index_near_dup")), s"quarantine: $quar")
    val j = spark.read.parquet(g.quar)
      .filter(col("doc_id") === 10L).select("jaccard").as[Double].collect()(0)
    assert(j >= 0.5, s"cross-batch match jaccard $j")
    // REPLAY batch 1 (foreachBatch is at-least-once): dynamic partition
    // overwrite + own-partition exclusion must leave both sinks unchanged
    val replayIn = DocStream.cleanFeedBatch(
      g.staged("b.parquet", DocStream.storedSchema))
    // file b's micro-batch id = the partition doc 11 landed in (the
    // stream may interleave empty batches, so it isn't always 1)
    val bBatch = idx.collectFirst { case (11L, _, p) => p.toLong }.get
    // an UNRELATED cached relation (another workload sharing the session)
    // must survive the micro-batch: ingest releases only its own
    // operator-internal persists (Graft.cacheScope), never clearCache()
    val bystander = spark.range(0, 16).toDF("n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bystander.count()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    DocStream.ingestBatch(replayIn, bBatch, g.index, g.quar, threshold = 0.5)
    assert(snapshot() == ((idx, quar)), "replayed batch changed the sinks")
    assert(bystander.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
      "ingestBatch must not evict caches it does not own")
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore,
      "ingestBatch must release its own operator-internal persists " +
        "(minhash shingle sets/signatures) at scope exit")
    bystander.unpersist(false)
    // (VecStream's vector twin of this loop is specced separately below)
    // same replay under RELIABLE checkpointing (the preemptible-cluster
    // conf): the ingest's pre-write materialization must route through
    // checkpoint() and still leave both sinks unchanged
    val ckDir = java.nio.file.Files.createTempDirectory("ndi_reliable").toString
    spark.conf.set("graft.checkpoint.dir", ckDir)
    try {
      DocStream.ingestBatch(replayIn, bBatch, g.index, g.quar,
        threshold = 0.5)
      assert(snapshot() == ((idx, quar)),
        "reliable-checkpoint replay changed the sinks")
      assert(new java.io.File(ckDir).listFiles != null &&
        new java.io.File(ckDir).listFiles.nonEmpty,
        "reliable mode must write checkpoint files under the conf dir")
    } finally spark.conf.unset("graft.checkpoint.dir")
  }

  test("VecStream.nearDupIngest: vector twin — canonicals, cross-batch quarantine, replay") {
    import spark.implicits._
    val g = new GateScaffold(spark, "vdi")
    def axis(i: Int, eps: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0f); a(i) = 1f; if (eps != 0f) a((i + 1) % 64) = eps
      a
    }
    def vecs(rows: (Long, Array[Float], Long)*) =
      rows.toDF("vec_id", "embedding", "label")
    // batch 0: vectors 1/2 near-identical (cos ~0.9999), 3 orthogonal
    g.stage("a.parquet", vecs(
      (1L, axis(0), 0L), (2L, axis(0, 0.01f), 0L), (3L, axis(7), 1L)))
    val q = VecStream.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, threshold = 0.9)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("vec_id").as[Long].collect().toSet
      assert(idx1 == Set(1L, 3L), s"batch-0 index: $idx1")
      // batch 1: vector 10 near-dups INDEXED vector 1; 11 is novel
      g.stage("b.parquet", vecs(
        (10L, axis(0, 0.02f), 0L), (11L, axis(23), 2L)))
      q.processAllAvailable()
    } finally q.stop()
    def snapshot() = g.sinks(Seq("vec_id", "ingest_batch"),
        r => (r.getLong(0), r.getInt(1)))(
      Seq("vec_id", "matched_id", "reason"),
        r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val (idx, quar) = snapshot()
    assert(idx.map(_._1) == Set(1L, 3L, 11L), s"final index: $idx")
    assert(quar == Set(
      (2L, 1L, "within_batch"), (10L, 1L, "index_near_dup")),
      s"quarantine: $quar")
    val sim = spark.read.parquet(g.quar)
      .filter(col("vec_id") === 10L).select("sim").as[Double].collect()(0)
    assert(sim >= 0.9, s"cross-batch match sim $sim")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (11L, p) => p.toLong }.get
    VecStream.ingestBatch(g.staged("b.parquet", VecStream.storedSchema),
      bBatch, g.index, g.quar, threshold = 0.9)
    assert(snapshot() == ((idx, quar)), "replayed batch changed the sinks")
  }

  test("MediaStream.nearDupIngest: perceptual gate — cross-format dups quarantined, replay idempotent") {
    import spark.implicits._
    import graft.pipelines.MultimodalFixture
    val g = new GateScaffold(spark, "mdi")
    // gif assets 0/1/10 are mutually beyond the radius-7 banding (the
    // m11 pair set at sf-independent fixture scale excludes all three
    // pairs); 100 is the SAME PICTURE as 0 re-encoded as BMP — a
    // within-batch cross-format duplicate no byte fingerprint can see
    def gifBytes(id: Long) = MultimodalFixture.gifMedia(id)
    def bmpOf(id: Long) = {
      val (w, h) = MultimodalFixture.gifDims(id)
      graft.sources.MediaBinary.encodeBmp(w, h, MultimodalFixture.gifPixels(id))
    }
    g.stageAssets("a.parquet", Seq(
      (0L, "gif", gifBytes(0)), (1L, "gif", gifBytes(1)),
      (100L, "image", bmpOf(0)),
      (999L, "blob", Array.tabulate[Byte](256)(i => (i * 37 + 11).toByte))))
    val q = AssetStream.Image.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, maxHamming = 7)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("asset_id").as[Long].collect().toSet
      assert(idx1 == Set(0L, 1L), s"batch-0 index: $idx1")
      // batch 1: 201 is the PNG re-encode of INDEXED picture 1 (zero
      // shared bytes with anything at rest); 210 carries novel content
      g.stageAssets("b.parquet", Seq(
        (201L, "png", MultimodalFixture.percMedia(1)),
        (210L, "gif", gifBytes(10))))
      q.processAllAvailable()
    } finally q.stop()
    val (idx, quar) = g.assetSinks()
    assert(idx.map(_._1) == Set(0L, 1L, 210L), s"final index: $idx")
    assert(quar == Set(
      (100L, 0L, "within_batch"), (201L, 1L, "index_near_dup"),
      (999L, -1L, "undecodable")), s"quarantine: $quar")
    val ham = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 201L).select("hamming")
      .as[Long].collect()(0)
    assert(ham == 0L, s"PNG re-encode of a lossless source must match " +
      s"at distance 0, got $ham")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (210L, p) => p.toLong }.get
    AssetStream.Image.ingestBatch(
      g.staged("b.parquet", AssetStream.storedSchema), bBatch, g.index, g.quar,
      maxHamming = 7)
    assert(g.assetSinks() == ((idx, quar)), "replayed batch changed the sinks")
  }

  test("extractFeatures: real pooled features match hand-computed values") {
    import spark.implicits._
    import graft.sources.MediaBinary
    // 4x4 BMP with dim=16: each 4x4-grid block is exactly one pixel, and
    // pixel (y, x) has all three channels = y*4+x — so feature[i] must
    // equal i exactly (mean of three identical bytes).
    val px = new Array[Byte](4 * 4 * 3)
    for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
      px((y * 4 + x) * 3 + c) = (y * 4 + x).toByte
    val bmp = MediaBinary.encodeBmp(4, 4, px)
    // mono 16-bit WAV, 32 frames, sample f = ±100·f (alternating sign):
    // window i holds frames {2i, 2i+1} → mean |sample| = 200·i + 50.
    val data = new Array[Byte](32 * 2)
    for (f <- 0 until 32) {
      val v = if (f % 2 == 0) 100 * f else -100 * f
      data(2 * f) = (v & 0xff).toByte
      data(2 * f + 1) = ((v >> 8) & 0xff).toByte
    }
    val wav = MediaBinary.encodeWav(8000, 1, 16, data)
    // two 4x4 AVI frames: frame 0 pixel (y,x) = y*4+x, frame 1 doubles
    // it — temporal pooling over one-pixel blocks → feature[i] = 1.5·i.
    val avi = MediaBinary.encodeAvi(4, 4, 40000, Array(
      px, px.map(b => (b * 2).toByte)))
    val assets = Seq(
      Multimodal.Asset(1L, "image", bmp),
      Multimodal.Asset(2L, "audio", wav),
      Multimodal.Asset(3L, "video", avi),
      Multimodal.Asset(4L, "video", Array[Byte](1, 2, 3, 4))).toDS()
    val feats = Multimodal.extractFeatures(assets, dim = 16)
      .collect().map(f => f.asset_id -> f.features.toSeq).toMap
    assert(feats(1L) == (0 until 16).map(_.toDouble))
    assert(feats(2L) == (0 until 16).map(i => 200.0 * i + 50))
    assert(feats(3L) == (0 until 16).map(i => 1.5 * i))
    // unparseable payloads keep the declared stub: deterministic,
    // bounded to [-1, 1)
    assert(feats(4L).length == 16 && feats(4L).forall(v => v >= -1 && v < 1))
  }

  test("CropStream.nearDupIngest: region gate — cropped reposts quarantined, replay idempotent") {
    import spark.implicits._
    import graft.pipelines.MultimodalFixture
    val g = new GateScaffold(spark, "cdi")
    // cloud-texture pictures 0/1 are unrelated (id-keyed coarse random
    // fields); 100 is the CENTER CROP of 0 — a within-batch crop
    // relation the whole-image dHash gate would miss entirely
    // 998 is a genuine 4x4 BMP — decodable, but every region window is
    // sub-grid (rw<9): quarantined as 'too_small', NOT 'undecodable'
    g.stageAssets("a.parquet", Seq(
      (0L, "image", MultimodalFixture.cpercBaseMedia(0)),
      (1L, "image", MultimodalFixture.cpercBaseMedia(1)),
      (100L, "image", MultimodalFixture.cpercCenterMedia(0)),
      (998L, "image",
        graft.sources.MediaBinary.encodeBmp(4, 4, new Array[Byte](48))),
      (999L, "blob", Array.tabulate[Byte](256)(i => (i * 37 + 11).toByte))))
    val q = AssetStream.Crop.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, maxHamming = 7)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("asset_id").as[Long].collect().toSet
      assert(idx1 == Set(0L, 1L), s"batch-0 index: $idx1")
      // batch 1: 201 is the TL-CROP of INDEXED picture 1 — a cropped
      // repost arriving later, zero shared bytes, whole-image dHash
      // ~20 bits away; 210 carries novel content
      g.stageAssets("b.parquet", Seq(
        (201L, "image", MultimodalFixture.cpercTlMedia(1)),
        (210L, "image", MultimodalFixture.cpercBaseMedia(2))))
      q.processAllAvailable()
    } finally q.stop()
    val (idx, quar) = g.assetSinks()
    assert(idx.map(_._1) == Set(0L, 1L, 210L), s"final index: $idx")
    // R=7 region rows per indexed image (the region-fingerprint shape)
    val regionRows = spark.read.parquet(g.index)
      .filter(col("asset_id") === 0L).count()
    assert(regionRows == 7,
      s"image 0 should index one row per region window, got $regionRows")
    assert(quar == Set(
      (100L, 0L, "within_batch"), (201L, 1L, "index_near_dup"),
      (998L, -1L, "too_small"),
      (999L, -1L, "undecodable")), s"quarantine: $quar")
    // the cropped repost matches its indexed original EXACTLY: its
    // full window reproduces the original's TL region window
    val ham = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 201L).select("hamming")
      .as[Long].collect()(0)
    assert(ham == 0L, s"TL crop of picture 1 should match at 0, got $ham")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (210L, p) => p.toLong }.get
    AssetStream.Crop.ingestBatch(
      g.staged("b.parquet", AssetStream.storedSchema), bBatch, g.index, g.quar,
      maxHamming = 7)
    assert(g.assetSinks() == ((idx, quar)), "replayed batch changed the sinks")
  }

  test("OrientStream.nearDupIngest: orientation gate — rotated/mirrored reposts quarantined at 0, replay idempotent") {
    import spark.implicits._
    import graft.pipelines.MultimodalFixture
    val g = new GateScaffold(spark, "odi")
    // 100 is the MIRRORED copy of 0 — a within-batch orientation
    // relation; 998 a genuine 4x4 BMP (too_small); 999 undecodable
    g.stageAssets("a.parquet", Seq(
      (0L, "image", MultimodalFixture.opercBaseMedia(0)),
      (1L, "image", MultimodalFixture.opercBaseMedia(1)),
      (100L, "image", MultimodalFixture.opercFlipMedia(0)),
      (998L, "image",
        graft.sources.MediaBinary.encodeBmp(4, 4, new Array[Byte](48))),
      (999L, "blob", Array.tabulate[Byte](256)(i => (i * 41 + 13).toByte))))
    val q = AssetStream.Orient.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, maxHamming = 7)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("asset_id").as[Long].collect().toSet
      assert(idx1 == Set(0L, 1L), s"batch-0 index: $idx1")
      // batch 1: 201 is the ROT-90 of INDEXED picture 1 — a rotated
      // repost arriving later, zero shared bytes, invisible to the
      // whole-image dHash gate AND the crop gate; 210 carries novel
      // content
      g.stageAssets("b.parquet", Seq(
        (201L, "image", MultimodalFixture.opercRotMedia(1)),
        (210L, "image", MultimodalFixture.opercBaseMedia(2))))
      q.processAllAvailable()
    } finally q.stop()
    val (idx, quar) = g.assetSinks()
    assert(idx.map(_._1) == Set(0L, 1L, 210L), s"final index: $idx")
    // 8 orientation rows per indexed image (the family-index shape)
    val orientRows = spark.read.parquet(g.index)
      .filter(col("asset_id") === 0L).count()
    assert(orientRows == 8,
      s"image 0 should index one row per orientation, got $orientRows")
    assert(quar == Set(
      (100L, 0L, "within_batch"), (201L, 1L, "index_near_dup"),
      (998L, -1L, "too_small"),
      (999L, -1L, "undecodable")), s"quarantine: $quar")
    // the rotated repost matches its indexed original EXACTLY: group
    // closure — its orientation family is the original's hash set
    val ham = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 201L).select("hamming")
      .as[Long].collect()(0)
    assert(ham == 0L, s"rot-90 of picture 1 should match at 0, got $ham")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (210L, p) => p.toLong }.get
    AssetStream.Orient.ingestBatch(
      g.staged("b.parquet", AssetStream.storedSchema), bBatch, g.index, g.quar,
      maxHamming = 7)
    assert(g.assetSinks() == ((idx, quar)), "replayed batch changed the sinks")
  }

  test("RotCropStream.nearDupIngest: composed-edit gate — rotated-crop reposts quarantined at 0, replay idempotent") {
    import spark.implicits._
    import graft.pipelines.MultimodalFixture
    val g = new GateScaffold(spark, "rci")
    // 100 is the FLIP-CENTER-CROP of 0 — a within-batch composed
    // relation; 998 a genuine 4x4 BMP (too_small); 999 undecodable
    g.stageAssets("a.parquet", Seq(
      (0L, "image", MultimodalFixture.rcpercBaseMedia(0)),
      (1L, "image", MultimodalFixture.rcpercBaseMedia(1)),
      (100L, "image", MultimodalFixture.rcpercFlipCenterMedia(0)),
      (998L, "image",
        graft.sources.MediaBinary.encodeBmp(4, 4, new Array[Byte](48))),
      (999L, "blob", Array.tabulate[Byte](256)(i => (i * 37 + 11).toByte))))
    // production radius 3 (the m26 config): compositions are exact 0s
    val q = AssetStream.RotCrop.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, maxHamming = 3)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("asset_id").as[Long].collect().toSet
      assert(idx1 == Set(0L, 1L), s"batch-0 index: $idx1")
      // batch 1: 201 is the ROT-90 TL-CROP of INDEXED picture 1 — a
      // composed repost arriving later, invisible to the byte,
      // whole-image-dHash, crop, AND orientation gates individually;
      // 210 carries novel content
      g.stageAssets("b.parquet", Seq(
        (201L, "image", MultimodalFixture.rcpercRotTlMedia(1)),
        (210L, "image", MultimodalFixture.rcpercBaseMedia(2))))
      q.processAllAvailable()
    } finally q.stop()
    val (idx, quar) = g.assetSinks()
    assert(idx.map(_._1) == Set(0L, 1L, 210L), s"final index: $idx")
    // 14 union-family rows per indexed image (7 upright regions + 7
    // non-identity orientations — the m24 family-index shape)
    val famRows = spark.read.parquet(g.index)
      .filter(col("asset_id") === 0L).count()
    assert(famRows == 14,
      s"image 0 should index one row per family member, got $famRows")
    assert(quar == Set(
      (100L, 0L, "within_batch"), (201L, 1L, "index_near_dup"),
      (998L, -1L, "too_small"),
      (999L, -1L, "undecodable")), s"quarantine: $quar")
    // the composed repost matches its indexed original EXACTLY:
    // window-family group closure — the index holds the base's upright
    // region rows, the arrival hashes its inverse orientation
    val ham = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 201L).select("hamming")
      .as[Long].collect()(0)
    assert(ham == 0L,
      s"rot-TL crop of picture 1 should match at 0, got $ham")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (210L, p) => p.toLong }.get
    AssetStream.RotCrop.ingestBatch(
      g.staged("b.parquet", AssetStream.storedSchema), bBatch, g.index, g.quar,
      maxHamming = 3)
    assert(g.assetSinks() == ((idx, quar)), "replayed batch changed the sinks")
  }

  test("VideoStream.nearDupIngest: temporal gate — cross-codec/cross-resolution dups quarantined, replay idempotent") {
    import spark.implicits._
    import graft.pipelines.MultimodalFixture
    val g = new GateScaffold(spark, "vdi")
    // wave clips 0/1/2 are mutually far beyond the radius (unrelated
    // worst slot >= 25 — VideoAudioPerceptualSpec pins it); 100 is the
    // SAME clip as 0 at HALF RESOLUTION — a within-batch
    // cross-representation duplicate sharing zero bytes
    g.stageAssets("a.parquet", Seq(
      (0L, "video", MultimodalFixture.vpercDibMedia(0)),
      (1L, "video", MultimodalFixture.vpercDibMedia(1)),
      (100L, "video", MultimodalFixture.vpercDownMedia(0)),
      (999L, "blob", Array.tabulate[Byte](256)(i => (i * 37 + 11).toByte))))
    val q = AssetStream.Video.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, maxHamming = 15)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("asset_id").as[Long].collect().toSet
      assert(idx1 == Set(0L, 1L), s"batch-0 index: $idx1")
      // batch 1: 201 is the MJPEG RE-ENCODE of INDEXED clip 1 —
      // different codec, zero shared bytes with anything at rest; 202
      // is the FRAME-DUPLICATED DOUBLE-RATE re-encode of indexed clip 0
      // (the round-14 fps axis: different frame count, caught only
      // because duration-fraction slots align on content time); 210
      // carries novel content
      g.stageAssets("b.parquet", Seq(
        (201L, "video", MultimodalFixture.mjpegMedia(1)),
        (202L, "video", MultimodalFixture.vperc2xMedia(0)),
        (210L, "video", MultimodalFixture.vpercDibMedia(2))))
      q.processAllAvailable()
    } finally q.stop()
    val (idx, quar) = g.assetSinks()
    assert(idx.map(_._1) == Set(0L, 1L, 210L), s"final index: $idx")
    // k slot rows per indexed clip (the frame-signature index shape) —
    // ALWAYS k=4 since the round-14 duration-fraction geometry (frames
    // repeat across slots when the clip has fewer than k frames)
    val slotRows = spark.read.parquet(g.index)
      .filter(col("asset_id") === 0L).count()
    assert(slotRows == 4,
      s"clip 0 should index one row per sampled slot, got $slotRows")
    assert(quar == Set(
      (100L, 0L, "within_batch"), (201L, 1L, "index_near_dup"),
      (202L, 0L, "index_near_dup"),
      (999L, -1L, "undecodable")), s"quarantine: $quar")
    val ham = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 201L).select("hamming")
      .as[Long].collect()(0)
    assert(ham <= 3L, s"MJPEG re-encode of clip 1 should match within " +
      s"the measured cross-codec envelope, got $ham")
    // the fps twin matches its indexed original EXACTLY: every
    // duration-fraction slot lands on the same content frame
    val hamFps = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 202L).select("hamming")
      .as[Long].collect()(0)
    assert(hamFps == 0L,
      s"double-rate re-encode of clip 0 should match at 0, got $hamFps")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (210L, p) => p.toLong }.get
    AssetStream.Video.ingestBatch(
      g.staged("b.parquet", AssetStream.storedSchema), bBatch, g.index, g.quar,
      maxHamming = 15)
    assert(g.assetSinks() == ((idx, quar)), "replayed batch changed the sinks")
  }

  test("AudioStream.nearDupIngest: amplitude-sign gate — gain/requantized dups quarantined, replay idempotent") {
    import spark.implicits._
    import graft.pipelines.MultimodalFixture
    val g = new GateScaffold(spark, "adi")
    // audio assets 1 and 4 are unrelated recordings (>= 22 bits apart —
    // VideoAudioPerceptualSpec pins it); 100 is asset 1 GAIN-HALVED — a
    // within-batch duplicate sharing zero bytes with its base
    g.stageAssets("a.parquet", Seq(
      (1L, "audio", MultimodalFixture.media(1)),
      (4L, "audio", MultimodalFixture.media(4)),
      (100L, "audio", MultimodalFixture.apercGainMedia(1)),
      (999L, "blob", Array.tabulate[Byte](256)(i => (i * 37 + 11).toByte))))
    val q = AssetStream.Audio.nearDupIngest(spark, g.feed.toString, g.index,
      g.quar, g.ckpt, maxHamming = 7)
    try {
      q.processAllAvailable()
      val idx1 = spark.read.parquet(g.index)
        .select("asset_id").as[Long].collect().toSet
      assert(idx1 == Set(1L, 4L), s"batch-0 index: $idx1")
      // batch 1: 201 is the REQUANTIZED copy of INDEXED recording 4 —
      // zero shared bytes with anything at rest; 210 is novel
      g.stageAssets("b.parquet", Seq(
        (201L, "audio", MultimodalFixture.apercQuantMedia(4)),
        (210L, "audio", MultimodalFixture.media(7))))
      q.processAllAvailable()
    } finally q.stop()
    val (idx, quar) = g.assetSinks()
    assert(idx.map(_._1) == Set(1L, 4L, 210L), s"final index: $idx")
    assert(quar == Set(
      (100L, 1L, "within_batch"), (201L, 4L, "index_near_dup"),
      (999L, -1L, "undecodable")), s"quarantine: $quar")
    val ham = spark.read.parquet(g.quar)
      .filter(col("asset_id") === 201L).select("hamming")
      .as[Long].collect()(0)
    assert(ham == 0L, s"requantized copy should match at distance 0 " +
      s"(measured envelope), got $ham")
    // replay batch 1: dynamic partition overwrite + own-partition
    // exclusion must leave both sinks unchanged
    val bBatch = idx.collectFirst { case (210L, p) => p.toLong }.get
    AssetStream.Audio.ingestBatch(
      g.staged("b.parquet", AssetStream.storedSchema), bBatch, g.index, g.quar,
      maxHamming = 7)
    assert(g.assetSinks() == ((idx, quar)), "replayed batch changed the sinks")
  }
}
