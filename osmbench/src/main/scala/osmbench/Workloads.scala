package osmbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.pipelines.OsmFixture
import graft.shape.OsmShape
import graft.sources.OsmXml
import graft.streaming.DocStream
import graft.tools.GenOsm

/** What one op returned: its row count, the collected rows and schema
  * of a query op (checked by digest, and dumped for the oracle), and the
  * layer figures a traced op measured.
  */
final case class Answer(rows: Long,
    collected: Option[(Array[Row], StructType)] = None,
    layers: Map[String, Double] = Map.empty)

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One benchmark workload. The harness owns the session and the clock;
  * a workload owns its inputs, the op it runs, and the check of that
  * op's answer.
  */
trait Workload {
  /** Op types in round-robin order; one round runs each once. */
  def opTypes: IndexedSeq[String]
  /** Timed rounds per run, for a run measuring about `seconds`. */
  def rounds(seconds: Int): Int
  /** Untimed input generation (not part of setup_s). */
  def prepare(): Unit = ()
  /** Timed set-up work of one set-up repetition, after the session exists. */
  def setUp(spark: SparkSession): Unit = ()
  /** Untimed work right before an op (e.g. dropping a batch into a feed). */
  def beforeOp(spark: SparkSession, opType: String): Unit = ()
  /** The timed op. */
  def run(spark: SparkSession, opType: String, traced: Boolean): Answer
  /** Untimed check of the op's answer; throws [[CheckFailed]]. Returns
    * the layer figures the check itself measured.
    */
  def verify(spark: SparkSession, opType: String, a: Answer): Map[String, Double]
  /** Starts a probe before its first op (the stream probe starts its
    * stream here).
    */
  def begin(spark: SparkSession): Unit = ()
  /** Stops what [[begin]] started. */
  def tearDown(spark: SparkSession): Unit = ()
  /** DuckDB oracle SQL per op type, for the answers dumped in set-up. */
  def oracleSql: Map[String, String] = Map.empty
  /** A second workload whose ops the traced run also records, for a
    * layer this workload does not reach.
    */
  def probe: Option[Workload] = None
}

object Workload {
  def apply(name: String, seed: Long, data: Path): Workload = name match {
    case "osm_queries" => new OsmQueriesWorkload(seed, data)
    case "neardup_queries" => new NearDupQueriesWorkload(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Canonical, order-insensitive digest of a result: each row rendered
    * with map entries sorted, the row strings sorted, then SHA-256.
    */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(x => f"$x%02x").mkString
  }
}

/** Shared shape of the two query workloads: each op builds one declared
  * query through `SparkEntry.queries` and collects it, which
  * materialises every output column. The first answer of each op type
  * is the reference every later answer must equal (row count and
  * digest, computed in the untimed check); it is dumped and
  * compared with DuckDB running `SparkEntry.oracleSql` on the same
  * input.
  */
abstract class QueryWorkload extends Workload {
  /** The `sfDir` argument the queries receive. */
  def dir: String
  private val reference = scala.collection.mutable.Map[String, (Long, String)]()

  def run(spark: SparkSession, opType: String, traced: Boolean): Answer = {
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(opType)(spark, dir)
    val built = System.nanoTime()
    val rows = df.collect()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val phases = df.queryExecution.tracker.phases
        Map("queries.build_ms" -> (built - t0) / 1e6,
          "queries.plan_ms" -> phases.values.map(_.durationMs).sum.toDouble)
      }
    Answer(rows.length, Some((rows, df.schema)), layers)
  }

  def verify(spark: SparkSession, opType: String, a: Answer): Map[String, Double] = {
    spark.catalog.clearCache()
    val digest = Workload.digest(a.collected.fold(Array.empty[Row])(_._1))
    reference.get(opType) match {
      case None => reference(opType) = (a.rows, digest)
      case Some((n, d)) =>
        if (n != a.rows || d != digest)
          throw new CheckFailed(s"$opType answered ${a.rows} rows / digest " +
            s"${digest.take(12)}, reference $n rows / ${d.take(12)}")
    }
    Map.empty
  }

  override def oracleSql: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => opTypes.contains(k) }
}

/** `osm_queries`: the paper's aggregation questions (o1-o19) on a
  * seeded `GenOsm` extract, shaped by `OsmFixture.build` in set-up.
  * The fixture root comes from SPARK_GRAFT_OSM_DIR, which the launcher
  * points into the run directory.
  */
final class OsmQueriesWorkload(seed: Long, data: Path) extends QueryWorkload {
  val nNodes = 9000
  val nWays = 1000
  def dir: String = data.toString
  /** Five of the paper's own questions, one per aggregation shape: a
    * count, a top-k `$group`, an `$unwind`, a date-part `$group` and the
    * raw tag census on the second table.
    */
  val opTypes: IndexedSeq[String] = IndexedSeq(
    "o1_doc_count", "o4_top_contributors", "o5_most_referenced",
    "o11_edits_by_dow", "o13_key_census")
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / 1.2).toInt)

  override def prepare(): Unit = {
    require(OsmFixture.root.startsWith(data.toString),
      s"SPARK_GRAFT_OSM_DIR must point into the run directory, is ${OsmFixture.root}")
    GenOsm.write(OsmFixture.xmlPath, nNodes = nNodes, nWays = nWays, seed = seed)
    // the fixture regenerates synth.osm with its own fixed seed unless the
    // version marker matches, so write the marker next to the seeded file
    Files.writeString(Path.of(OsmFixture.root, "GENERATOR_VERSION"),
      OsmFixture.generatorVersion.toString)
  }

  override def setUp(spark: SparkSession): Unit =
    OsmFixture.build(spark)

  /** The ETL probe of the traced run (see [[EtlWorkload]]). */
  override def probe: Option[Workload] = Some(new EtlWorkload(seed, data.resolve("etl")))

  override def verify(spark: SparkSession, opType: String, a: Answer): Map[String, Double] = {
    if (opType == "o1_doc_count") {
      val n = a.collected.map(_._1.head.getLong(0)).getOrElse(-1L)
      if (n != nNodes + nWays)
        throw new CheckFailed(s"o1 counted $n docs, the seeded extract has ${nNodes + nWays}")
    }
    super.verify(spark, opType, a)
  }
}

/** `neardup_queries`: one query per near-dup/similarity family on a
  * seeded derivation of the sf0.1 documents and embeddings (written by
  * the launcher). Memos build cold into the run-private
  * `graft.memo.restDir` of each set-up repetition.
  */
final class NearDupQueriesWorkload(data: Path) extends QueryWorkload {
  def dir: String = data.toString
  /** MinHash pairs (read from a RestMemo'd dedup pipeline), SimHash
    * pairs (operator compute and shuffle, no memo) and cosine pairs
    * blocked by a RestMemo'd IVF cell assignment.
    */
  val opTypes: IndexedSeq[String] = IndexedSeq(
    "x7_minhash_neardups", "x8_simhash_neardups", "v5_cosine_neardups")
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / 0.65).toInt)

  /** The stream probe of the traced run (see [[StreamWorkload]]). */
  override def probe: Option[Workload] = Some(new StreamWorkload(data))
}

/** The OSM ETL probe: the paper's own pipeline, one shard of a seeded
  * `GenOsm` extract per op: `OsmXml` nodes and ways, `OsmShape.shape`,
  * a parquet write. Traced ops split parse / shape / write with
  * persist-and-count barriers. The same pipeline runs untraced inside
  * `OsmFixture.build` in every `osm_queries` set-up; as a probe of the
  * `osm_queries` traced run it gives that work its per-layer split.
  */
final class EtlWorkload(seed: Long, data: Path) extends Workload {
  val shards = 3
  val nNodes = 9000
  val nWays = 1000
  val opTypes: IndexedSeq[String] = IndexedSeq("shard_etl")
  def rounds(seconds: Int): Int = shards
  private var next = 0
  private var current = 0
  private def xml(j: Int) = data.resolve(s"shard-$j.osm").toString
  private def out(j: Int) = data.resolve(s"docs-$j.parquet").toString

  override def prepare(): Unit = (0 until shards).foreach { j =>
    GenOsm.write(xml(j), nNodes = nNodes, nWays = nWays, seed = seed * 1000 + 1 + j)
  }

  override def beforeOp(spark: SparkSession, opType: String): Unit = {
    current = next % shards
    next += 1
  }

  /** Always split: the probe only runs in the traced run. */
  def run(spark: SparkSession, opType: String, traced: Boolean): Answer = {
    val path = xml(current)
    // barriers: each stage is materialised before the next one starts
    val t0 = System.nanoTime()
    val n = OsmXml.nodes(spark, path, Some(OsmXml.nodeSchema)).persist()
    val w = OsmXml.ways(spark, path, Some(OsmXml.waySchema)).persist()
    val elements = n.count() + w.count()
    val t1 = System.nanoTime()
    val docs = OsmShape.shape(n, w).persist()
    docs.count()
    val t2 = System.nanoTime()
    docs.write.mode("overwrite").parquet(out(current))
    val t3 = System.nanoTime()
    docs.unpersist(true); n.unpersist(true); w.unpersist(true)
    val inBytes = Files.size(Path.of(path)).toDouble
    val outBytes = Files.walk(Path.of(out(current))).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble
    Answer(elements, None, Map(
      "sources.parse_ms" -> (t1 - t0) / 1e6,
      "shape.shape_ms" -> (t2 - t1) / 1e6,
      "sinks.write_ms" -> (t3 - t2) / 1e6,
      "sources.elements_per_s" -> elements / ((t1 - t0) / 1e9),
      "sinks.out_bytes_per_in_byte" -> outBytes / inBytes))
  }

  def verify(spark: SparkSession, opType: String, a: Answer): Map[String, Double] = {
    val n = spark.read.parquet(out(current)).count()
    if (n != nNodes + nWays)
      throw new CheckFailed(s"shard $current shaped $n docs, generated ${nNodes + nWays}")
    Map.empty
  }
}

/** The near-dup stream probe: a fixed sequence of seeded micro-batches
  * (parquet files written by the launcher under `data/batches`) fed one
  * at a time to `DocStream.nearDupIngest`; one op is one batch through
  * `processAllAvailable()`. The stream gets its own feed, index,
  * quarantine and checkpoint dirs and starts with batch 0, which is not
  * recorded. Too slow per op to be a timed workload within the
  * benchmark's time budget (see README.md), it runs as the probe of the
  * `neardup_queries` traced run.
  */
final class StreamWorkload(data: Path) extends Workload {
  val opTypes: IndexedSeq[String] = IndexedSeq("stream_batch")
  def rounds(seconds: Int): Int = 2
  private val batches: IndexedSeq[Path] = {
    val s = Files.list(data.resolve("batches"))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toIndexedSeq.sorted
    finally s.close()
  }
  private val root = data.resolve("stream")
  private var query: StreamingQuery = _
  private var cursor = 0
  private var fed = 0L
  private var batchRows = 0L
  private var indexRows = 0L
  private var lastProgress = -1L

  private def dir(n: String) = root.resolve(n).toString

  override def begin(spark: SparkSession): Unit = {
    Files.createDirectories(root.resolve("feed"))
    query = DocStream.nearDupIngest(spark, dir("feed"), dir("index"),
      dir("quarantine"), dir("checkpoint"))
    // batch 0 starts the stream; it is neither timed nor counted
    beforeOp(spark, "stream_batch")
    query.processAllAvailable()
    verify(spark, "stream_batch", Answer(batchRows))
    lastProgress = Option(query.lastProgress).fold(-1L)(_.batchId)
  }

  override def beforeOp(spark: SparkSession, opType: String): Unit = {
    require(cursor < batches.size, s"only ${batches.size} batches were generated")
    val src = batches(cursor)
    batchRows = spark.read.parquet(src.toString).count()
    val tmp = root.resolve("feed").resolve(s".${src.getFileName}.tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, root.resolve("feed").resolve(src.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    cursor += 1
  }

  /** The probe only runs in the traced run, so every op reads its
    * micro-batches' progress.
    */
  def run(spark: SparkSession, opType: String, traced: Boolean): Answer = {
    query.processAllAvailable()
    val ps = query.recentProgress.filter(_.batchId > lastProgress)
    ps.lastOption.foreach(p => lastProgress = p.batchId)
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum.toDouble
    Answer(batchRows, None, Map(
      "streaming.batch_ms" -> d("triggerExecution"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.planning_ms" -> d("queryPlanning"),
      "streaming.wal_commit_ms" -> d("walCommit")))
  }

  def verify(spark: SparkSession, opType: String, a: Answer): Map[String, Double] = {
    fed += batchRows
    def count(n: String) =
      try spark.read.parquet(dir(n)).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val idx = count("index")
    val quarantined = count("quarantine")
    if (idx + quarantined != fed)
      throw new CheckFailed(s"fed $fed docs, index $idx + quarantined $quarantined")
    val novel = idx - indexRows
    indexRows = idx
    Map("streaming.index_rows" -> idx.toDouble,
      "streaming.novel_frac" -> novel.toDouble / math.max(1L, batchRows))
  }

  override def tearDown(spark: SparkSession): Unit =
    if (query != null) { query.stop(); query = null }
}
