package graft.pipelines

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.shape.OsmShape
import graft.sources.OsmXml
import graft.tools.GenOsm

/** At-scale OSM fixture: the synthetic ~50 MB extract (tools.GenOsm),
  * shaped once into parquet that both the o* capstone queries (Spark)
  * and their DuckDB oracle SQL (`read_parquet` of the same absolute
  * path) read. Self-healing: any consumer calls `ensure` and the first
  * one builds; later calls are a file-existence check.
  *
  * The fixture is sf-independent by design — it models the reference's
  * actual input (one metro extract, README.md:874), not the TPC-H scale
  * ladder — so the docs path is fixed rather than derived from sfDir.
  */
object OsmFixture {

  /** Repo-local (gitignored) so the parquet survives across rounds. */
  private val defaultRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_OSM_DIR", "/root/repo/data/osm")
  @volatile private var rootOverride: Option[String] = None
  def root: String = rootOverride.getOrElse(defaultRoot)

  /** Run `body` with the fixture rooted at `dir` instead — for specs
    * that build and rewrite a small private fixture without touching
    * the shared one. The root is an input of every o* plan that no plan
    * memo dependency records, so the memoized plans are dropped on the
    * way in and out (`PlanMemo.dropAll`).
    */
  private[graft] def withRoot[T](dir: String)(body: => T): T = synchronized {
    val prev = rootOverride
    rootOverride = Some(dir)
    graft.PlanMemo.dropAll()
    try body finally { rootOverride = prev; graft.PlanMemo.dropAll() }
  }
  def xmlPath: String = s"$root/synth.osm"
  def docsPath: String = s"$root/docs.parquet"
  def rawTagsPath: String = s"$root/raw_tags.parquet"

  /** Bump when GenOsm's output changes: a cached fixture built by an
    * older generator silently diverges from the code otherwise.
    * v2: contributor skew planted (top user ~27%, as in the reference).
    */
  val generatorVersion = 2
  private def versionPath = s"$root/GENERATOR_VERSION"
  private def cachedVersion: Int =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get(versionPath)).trim.toInt
    catch { case _: Throwable => 0 }

  /** The root the last `ensure` found (or made) complete. */
  @volatile private var readyRoot: String = null

  def ensure(spark: SparkSession): Unit = if (readyRoot != root) synchronized {
    if (readyRoot == root) return
    if (!new File(s"$docsPath/_SUCCESS").exists() ||
        !new File(s"$rawTagsPath/_SUCCESS").exists() ||
        cachedVersion != generatorVersion) build(spark)
    readyRoot = root
  }

  /** Generate XML (if absent or stale), shape, write parquet. ~1 min, once. */
  def build(spark: SparkSession): Unit = {
    graft.Graft.tune(spark)
    if (!new File(xmlPath).exists() || cachedVersion != generatorVersion)
      GenOsm.write(xmlPath)

    val nodes = OsmXml.nodes(spark, xmlPath, Some(OsmXml.nodeSchema))
    val ways = OsmXml.ways(spark, xmlPath, Some(OsmXml.waySchema))

    // Shaped docs. created.timestamp → TIMESTAMP_NTZ before writing:
    // NTZ lands in parquet as TIMESTAMP(isAdjustedToUTC=false), which
    // DuckDB reads as a naive TIMESTAMP — same wall clock both engines,
    // no session-timezone dependence (the same convention as the
    // testdata tables).
    val docs = OsmShape.shape(nodes, ways)
      .withColumn("created", col("created")
        .withField("timestamp", col("created.timestamp").cast("timestamp_ntz")))
    // One file per task slot, for both tables: scan parallelism for the
    // capstone queries without thousands of tiny row groups. A one-slot
    // session (Graft.oneSlot) writes one file, which its scans read as
    // one partition anyway. (At 100 TB the XML source splits by record
    // boundary and this explicit spread is unnecessary.)
    val files = spark.sparkContext.defaultParallelism
    docs.repartition(files).write.mode("overwrite").parquet(docsPath)

    // RAW tag arrays (pre-routing, problemchars included) for the
    // tags.py key census (o13) — the one capstone query that runs on
    // unshaped input (mapparser.py:16-21).
    val rawTags = nodes.select(lit("node").as("etype"),
        col("_id").as("id"), col("tag"))
      .unionByName(ways.select(lit("way").as("etype"),
        col("_id").as("id"), col("tag")))
    rawTags.repartition(files).write.mode("overwrite").parquet(rawTagsPath)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(versionPath), generatorVersion.toString)
  }
}
