package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink surface (SURVEY §2.2 K1-K6).
  *
  * The reference's terminal stores are NDJSON files and a MongoDB
  * collection; our engine's canonical store is Parquet + a registered
  * view (the "collection"), with NDJSON/CSV writers for parity.
  */
object Sinks {

  /** K1: NDJSON, one document per line; timestamps serialize ISO-8601
    * like the reference's bson json_util intent (data.py:138-151).
    */
  def ndjson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** K2: pipe-delimited CSV with header (01/ercot_coast_stats.py:48-54). */
  def pipeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "|").option("header", "true").csv(path)

  /** K3: good/bad row routing (03/validity.py:47-57) in ONE pass:
    * partition the output by the validity flag instead of scanning twice
    * with complementary filters.
    */
  def routeByValidity(df: DataFrame, validCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(validCol).parquet(path)

  /** K4/K5: the "collection" load with drop-if-exists semantics
    * (README.md:822-849 mongoimport --drop): overwrite parquet + replace
    * the temp view.
    */
  def saveCollection(df: DataFrame, path: String, viewName: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    // bare read: the round-trip must read back the files just written
    val back = df.sparkSession.read.parquet(path)
    back.createOrReplaceTempView(viewName)
    back
  }

  /** K4/K5 literal form: bulk insert into a MongoDB collection via the
    * mongo-spark connector, drop-if-exists (README.md:822-849
    * `mongoimport --drop`; insert.py:12-14 `insert_many`). The connector
    * is an OPTIONAL runtime dependency — this build ships without it
    * (BASELINE allows the parquet+view substitute `saveCollection`), so
    * availability is probed through the DataSource registry and absence
    * reports as a clear error instead of a ClassNotFoundException from
    * deep inside a write job. SinksSpec skips when absent.
    */
  def mongoAvailable(spark: org.apache.spark.sql.SparkSession): Boolean =
    try {
      org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
        "mongodb", spark.sessionState.conf)
      true
    } catch { case _: Throwable => false }

  def saveToMongo(df: DataFrame, uri: String, database: String,
      collection: String): Unit = {
    require(mongoAvailable(df.sparkSession),
      "mongo-spark connector not on the classpath — add " +
        "org.mongodb.spark:mongo-spark-connector to use saveToMongo, or " +
        "use saveCollection (parquet + registered view) instead")
    df.write.format("mongodb")
      .option("connection.uri", uri)
      .option("database", database)
      .option("collection", collection)
      .mode("overwrite") // drop-if-exists load, like mongoimport --drop
      .save()
  }

  /** Range-sorted parquet layout: globally range-partition on `sortCols`
    * then sort within partitions before writing.
    *
    * This is the data-skipping lever at rest: each parquet row group's
    * min/max statistics cover a NARROW, disjoint slice of the sort key,
    * so a pushed-down range/equality predicate skips whole row groups
    * (and, with one file per range, whole files) instead of decoding and
    * filtering every page. On an unsorted layout every row group's
    * min/max spans the full domain and nothing can be skipped — at
    * 100 TB that is the difference between scanning the partition
    * pruned-to and scanning everything in it. LayoutSpec measures the
    * scan-metric difference on identical data.
    */
  def writeRangeSorted(df: DataFrame, path: String, sortCols: Seq[String],
      numFiles: Int = 0, options: Map[String, String] = Map.empty): Unit = {
    val n = if (numFiles > 0) numFiles
      else df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").options(options).parquet(path)
  }

  /** Quantize a numeric column to `bits`-bit bucket ids over [minV, maxV]
    * (clamped) — the z-value input domain.
    */
  def quantize(c: Column, minV: Double, maxV: Double, bits: Int = 16): Column = {
    val buckets = (1 << bits).toDouble
    least(lit((1 << bits) - 1L), greatest(lit(0L),
      floor((c.cast("double") - minV) / (maxV - minV + 1e-9) * buckets)
        .cast("long")))
  }

  /** Morton (Z-order) interleave of two pre-quantized non-negative ints
    * (each < 2^bits): bit i of `a` lands at position 2i, of `b` at
    * 2i+1. Sorting the layout by this value clusters BOTH dimensions,
    * so row-group min/max stats prune filters on EITHER column — a
    * linear sort only ever serves its leading column. The curve is pure
    * bit arithmetic (codegen'd), no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce((x, y) => x.bitwiseOR(y))

  /** Z-ordered parquet layout: range-partition and sort by the z-value
    * WITHOUT materializing it — the curve exists only in the shuffle
    * and sort keys, the written schema is untouched.
    */
  def writeZOrdered(df: DataFrame, path: String, z: Column,
      numFiles: Int = 0, options: Map[String, String] = Map.empty): Unit = {
    val n = if (numFiles > 0) numFiles
      else df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(n, z).sortWithinPartitions(z)
      .write.mode("overwrite").options(options).parquet(path)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetBytes` files. Streaming sinks and per-batch appends leave
    * thousands of KB-scale files; at 100 TB the resulting
    * task-per-tiny-file scheduling and footer-read overhead dominate
    * scans, so compaction is regular maintenance, not cleanup. The
    * rewrite goes through a temp dir then swaps, so a failed compaction
    * never destroys the input.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val dir = new java.io.File(path)
    val bytes = Option(dir.listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = s"$path.__compact_tmp"
    // bare read: compaction rewrites the directory it reads
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmp)
    val target = java.nio.file.Paths.get(path)
    val backup = java.nio.file.Paths.get(s"$path.__compact_old")
    java.nio.file.Files.move(target, backup)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target)
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    rm(backup)
  }
}
