package graft

import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** Operational maintenance at rest: small-files compaction and
  * schema-evolution reads — both routine at 100 TB (streaming sinks
  * fragment files; producers add columns over time).
  */
class MaintenanceSpec extends SparkSpec {

  test("compact: many tiny files → few, identical data, crash-safe swap") {
    val path = "/tmp/graft_compact/t"
    val df = spark.range(0, 10000).select(col("id"),
      (col("id") % 97).as("k"))
    df.repartition(50).write.mode("overwrite").parquet(path)
    def files() = Option(new java.io.File(path).listFiles).get
      .count(_.getName.endsWith(".parquet"))
    assert(files() == 50)
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq

    Sinks.compact(spark, path, targetBytes = 10L * 1024 * 1024)
    assert(files() <= 4, s"expected few files after compaction, got ${files()}")
    val after = spark.read.parquet(path).orderBy("id").collect().toSeq
    assert(after === before)
    // no temp/backup residue
    assert(!new java.io.File(s"$path.__compact_tmp").exists)
    assert(!new java.io.File(s"$path.__compact_old").exists)
  }

  test("schema evolution: old files without the new column read as nulls") {
    val path = "/tmp/graft_compact/evolve"
    // v1 writer: (id, a)
    spark.range(0, 100).select(col("id"), lit("old").as("a"))
      .write.mode("overwrite").parquet(path)
    // v2 writer appends with an extra column (id, a, b)
    spark.range(100, 200).select(col("id"), lit("new").as("a"),
        (col("id") * 2).as("b"))
      .write.mode("append").parquet(path)

    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet == Set("id", "a", "b"))
    assert(merged.count() == 200)
    // old rows surface the new column as null; new rows carry it
    assert(merged.filter(col("a") === "old" && col("b").isNull).count() == 100)
    assert(merged.filter(col("a") === "new" && col("b").isNotNull).count() == 100)
  }
}
