package graft

import org.apache.spark.sql.DataFrame

import graft.pipelines.MultimodalFixture
import graft.streaming._

/** The near-dup stream gates' at-rest contract, for every gate of the
  * shared micro-batch core: the parquet schemas of the index and the
  * quarantine (names, order, types), so indexes written by an earlier
  * build keep loading; exactly-once sinks after a crash between the two
  * writes; and a loud failure on another gate's index dir.
  */
class StreamGateSpec extends SparkSpec {
  import spark.implicits._
  import GateScaffold.blob

  private val words = (1 to 30).map(i => s"w$i").mkString(" ")
  private def docs(rows: (Long, String)*): DataFrame =
    DocStream.cleanFeedBatch(rows.map { case (id, t) =>
      (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
  private def axis(i: Int, eps: Float = 0f): Array[Float] = {
    val a = Array.fill(64)(0f); a(i) = 1f; if (eps != 0f) a((i + 1) % 64) = eps
    a
  }
  private def assets(rows: (Long, Array[Byte])*): DataFrame =
    GateScaffold.assets(spark, rows.map { case (id, m) => (id, "image", m) })
  private def tiny = graft.sources.MediaBinary.encodeBmp(4, 4, new Array[Byte](48))

  /** Per gate: two batches (the second near-dups the first's index) and
    * one micro-batch of its ingest.
    */
  private case class Gate(name: String, b0: () => DataFrame,
      b1: () => DataFrame, ingest: (DataFrame, Long, String, String) => Unit)

  private val gates = Seq(
    Gate("doc",
      () => docs(1L -> words, 2L -> (words.dropRight(3) + "zzz"),
        3L -> (1 to 30).map(i => s"u$i").mkString(" ")),
      () => docs(10L -> (words.dropRight(3) + "yyy"),
        11L -> (1 to 30).map(i => s"v$i").mkString(" ")),
      (b, id, i, q) => DocStream.ingestBatch(b, id, i, q, threshold = 0.5)),
    Gate("vec",
      () => Seq((1L, axis(0), 0L), (2L, axis(0, 0.01f), 0L), (3L, axis(7), 1L))
        .toDF("vec_id", "embedding", "label"),
      () => Seq((10L, axis(0, 0.02f), 0L), (11L, axis(23), 2L))
        .toDF("vec_id", "embedding", "label"),
      (b, id, i, q) => VecStream.ingestBatch(b, id, i, q, threshold = 0.9)),
    Gate("image",
      () => assets(0L -> MultimodalFixture.gifMedia(0),
        1L -> MultimodalFixture.gifMedia(1), 999L -> blob()),
      () => assets(201L -> MultimodalFixture.percMedia(1),
        210L -> MultimodalFixture.gifMedia(10)),
      (b, id, i, q) => AssetStream.Image.ingestBatch(b, id, i, q, maxHamming = 7)),
    Gate("audio",
      () => assets(1L -> MultimodalFixture.media(1),
        100L -> MultimodalFixture.apercGainMedia(1), 999L -> blob()),
      () => assets(201L -> MultimodalFixture.apercQuantMedia(1),
        210L -> MultimodalFixture.media(7)),
      (b, id, i, q) => AssetStream.Audio.ingestBatch(b, id, i, q, maxHamming = 7)),
    Gate("video",
      () => assets(0L -> MultimodalFixture.vpercDibMedia(0),
        100L -> MultimodalFixture.vpercDownMedia(0), 999L -> blob()),
      () => assets(202L -> MultimodalFixture.vperc2xMedia(0),
        210L -> MultimodalFixture.vpercDibMedia(2)),
      (b, id, i, q) => AssetStream.Video.ingestBatch(b, id, i, q, maxHamming = 15)),
    Gate("crop",
      () => assets(0L -> MultimodalFixture.cpercBaseMedia(0),
        100L -> MultimodalFixture.cpercCenterMedia(0), 998L -> tiny,
        999L -> blob()),
      () => assets(201L -> MultimodalFixture.cpercTlMedia(0),
        210L -> MultimodalFixture.cpercBaseMedia(2)),
      (b, id, i, q) => AssetStream.Crop.ingestBatch(b, id, i, q, maxHamming = 7)),
    Gate("orient",
      () => assets(0L -> MultimodalFixture.opercBaseMedia(0),
        100L -> MultimodalFixture.opercFlipMedia(0), 998L -> tiny,
        999L -> blob()),
      () => assets(201L -> MultimodalFixture.opercRotMedia(0),
        210L -> MultimodalFixture.opercBaseMedia(2)),
      (b, id, i, q) => AssetStream.Orient.ingestBatch(b, id, i, q, maxHamming = 7)),
    Gate("rotcrop",
      () => assets(0L -> MultimodalFixture.rcpercBaseMedia(0),
        100L -> MultimodalFixture.rcpercFlipCenterMedia(0), 998L -> tiny,
        999L -> blob()),
      () => assets(201L -> MultimodalFixture.rcpercRotTlMedia(0),
        210L -> MultimodalFixture.rcpercBaseMedia(2)),
      (b, id, i, q) => AssetStream.RotCrop.ingestBatch(b, id, i, q, maxHamming = 3)))

  private val family = "asset_id:bigint,%s:int,dhash:bigint,byte_size:bigint"
  private val assetQuar =
    "asset_id:bigint,matched_id:bigint,hamming:bigint,reason:string"
  /** (index, quarantine) columns as written, before the partition column. */
  private val pinned = Map(
    "doc" -> ("doc_id:bigint,text:string,lang:string,source:string," +
      "n_chars:bigint,ts:timestamp,fp:string,n_tokens:bigint,quality:double",
      "doc_id:bigint,matched_id:bigint,jaccard:double,reason:string"),
    "vec" -> ("vec_id:bigint,embedding:array<float>,label:bigint",
      "vec_id:bigint,matched_id:bigint,sim:double,reason:string"),
    "image" -> ("asset_id:bigint,dhash:bigint,byte_size:bigint", assetQuar),
    "audio" -> ("asset_id:bigint,dhash:bigint,byte_size:bigint", assetQuar),
    "video" -> (family.format("slot"), assetQuar),
    "crop" -> (family.format("region"), assetQuar),
    "orient" -> (family.format("orient"), assetQuar),
    "rotcrop" -> (family.format("fam"), assetQuar))

  test("every gate's index and quarantine parquet schemas are pinned") {
    gates.foreach { g =>
      val d = new GateScaffold(spark, s"pin_${g.name}")
      g.ingest(g.b0(), 0L, d.index, d.quar)
      g.ingest(g.b1(), 1L, d.index, d.quar)
      val (idx, quar) = pinned(g.name)
      // each batch's files on their own (a whole-dir read takes one
      // footer's schema) and the whole dir with its partition column
      Seq(0, 1).foreach { b =>
        val got = spark.read.parquet(s"${d.index}/ingest_batch=$b").schema
        assert(got.simpleString == s"struct<$idx>", s"${g.name} index batch $b")
      }
      Seq(0, 1).foreach { b =>
        val got = spark.read.parquet(s"${d.quar}/ingest_batch=$b").schema
        assert(got.simpleString == s"struct<$quar>", s"${g.name} quarantine batch $b")
      }
      assert(spark.read.parquet(d.index).schema.simpleString ==
        s"struct<$idx,ingest_batch:int>", g.name)
      assert(spark.read.parquet(d.quar).schema.simpleString ==
        s"struct<$quar,ingest_batch:int>", g.name)
      // batch 1 matched the index: its quarantine row is a cross match
      assert(spark.read.parquet(s"${d.quar}/ingest_batch=1")
        .filter($"reason" === "index_near_dup").count() == 1, g.name)
    }
  }

  /** Both sinks in full, duplicates kept (a double append must show). */
  private def sinkRows(d: GateScaffold): (Seq[String], Seq[String]) = (
    spark.read.parquet(d.index).collect().map(_.toString).sorted.toSeq,
    spark.read.parquet(d.quar).collect().map(_.toString).sorted.toSeq)

  test("a crash between the index and quarantine writes replays to the uncrashed sinks") {
    gates.filter(g => Set("doc", "crop")(g.name)).foreach { g =>
      val d = new GateScaffold(spark, s"crash_${g.name}")
      g.ingest(g.b0(), 0L, d.index, d.quar)
      g.ingest(g.b1(), 1L, d.index, d.quar)
      val uncrashed = sinkRows(d)
      // the index write of batch 1 landed, its quarantine write did not
      val lost = new java.io.File(s"${d.quar}/ingest_batch=1")
      assert(lost.isDirectory, g.name)
      org.apache.commons.io.FileUtils.deleteDirectory(lost)
      assert(sinkRows(d)._2.size < uncrashed._2.size, g.name)
      g.ingest(g.b1(), 1L, d.index, d.quar) // the restarted stream's replay
      assert(sinkRows(d) == uncrashed, s"${g.name}: replay after the crash")
    }
  }

  test("a gate's first micro-batch on a missing index dir logs no FileStreamSink warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the batch starts the session first: Spark's logging set-up replaces
    // the log4j configuration, and with it an appender added earlier
    val vec = gates.find(_.name == "vec").get
    val batch = vec.b0()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture-fss", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    val d = new GateScaffold(spark, "missing")
    val (index, quar) = (s"${d.index}/idx", s"${d.quar}/quar")
    try vec.ingest(batch, 0L, index, quar)
    finally { logger.removeAppender(capture); logger.setLevel(level) }
    assert(spark.read.parquet(index).count() > 0)
    assert(seen.isEmpty, seen)
  }

  test("an asset gate fails loudly on another gate's index dir") {
    val image = gates.find(_.name == "image").get
    val crop = gates.find(_.name == "crop").get
    val d = new GateScaffold(spark, "foreign")
    image.ingest(image.b0(), 0L, d.index, d.quar)
    val before = sinkRows(d)
    val e = intercept[IllegalArgumentException](
      crop.ingest(crop.b1(), 1L, d.index, d.quar))
    assert(e.getMessage.contains(d.index) && e.getMessage.contains("region"),
      e.getMessage)
    // nothing was appended: the image-gate index keeps its one layout
    assert(sinkRows(d) == before)
  }
}
