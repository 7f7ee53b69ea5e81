package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Graft
import graft.functions.Vectors

/** Interleaved A/B of the two Lloyd-iteration dataflows (the only fair
  * comparison on a host with roaming external load — both forms run in
  * the same JVM, alternating):
  *
  *   A. window assignment (rank over per-id cell sims) + posexplode
  *      means (n·dim rows through a two-level groupBy) — the pre-r4 form;
  *   B. max_by assignment (partial-aggregating argmax) + dim wide
  *      per-dimension decimal aggregates — the current form.
  *
  * Values are bit-identical (same double cosine, same decimal sums);
  * only the plan shape differs. Not engine surface.
  */
object ProfileKmeans {

  private def lowestIdCentroids(c: DataFrame, nCells: Int): DataFrame =
    broadcast(c.orderBy(col("id").asc).limit(nCells)
      .select(col("id").as("cell"), col("vec").as("centroid")))

  private def assignWindow(c: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("__csim").desc, col("cell").asc)
    c.crossJoin(centroids)
      .withColumn("__csim", Vectors.cosineFast(col("vec"), col("centroid")))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= 1)
      .drop("__csim", "__rank", "centroid")
  }

  private def meansExplode(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(col("x").cast("double").cast("decimal(30,12)")).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("centroid"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/dev/shm/graft-sf1")
    val nCells = 16
    val spark: SparkSession = Graft.session()

    val c = Graft.table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[km] corpus: ${c.count()} vectors")
    val centroids = lowestIdCentroids(c, nCells)
    centroids.count()

    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[km] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    val dim = 64
    val meanCols = (1 to dim).map(i =>
      (sum(element_at(col("vec"), i).cast("double").cast("decimal(30,12)"))
        .cast("double") / count(lit(1)).cast("double")).cast("float").as(s"_m$i"))
    def meansWide(assigned: DataFrame): DataFrame =
      assigned.groupBy("cell").agg(meanCols.head, meanCols.tail: _*)
        .select(col("cell"),
          array((1 to dim).map(i => col(s"_m$i")): _*).as("centroid"))
    def assignMaxBy(cc: DataFrame): DataFrame = {
      val joined = cc.crossJoin(centroids)
        .withColumn("__csim", Vectors.cosineFast(col("vec"), col("centroid")))
      val payload = struct(col("vec"), col("cell"))
      val ord = struct(col("__csim"), (col("cell") * lit(-1L)).as("__nc"))
      joined.groupBy(col("id")).agg(max_by(payload, ord).as("__p"))
        .select(col("id"), col("__p.vec").as("vec"), col("__p.cell").as("cell"))
    }

    for (r <- 1 to 3) {
      t(s"win+explode r$r")(meansExplode(assignWindow(c, centroids)).count())
      t(s"win+wide    r$r")(meansWide(assignWindow(c, centroids)).count())
      t(s"maxby+explode r$r")(meansExplode(assignMaxBy(c)).count())
      t(s"maxby+wide  r$r")(meansWide(assignMaxBy(c)).count())
    }
    spark.stop()
  }
}
