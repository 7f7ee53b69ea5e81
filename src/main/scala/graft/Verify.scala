package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY (4 at a time): Spark's scheduler interleaves
  * independent jobs across the local cores, which roughly halves the
  * wall-clock of 48 small queries vs. sequential submission and
  * amortizes any single-query stall.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [prefix,...] [key=value ...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // `key=value` arguments are session confs (e.g. graft.memo.restDir)
    val (confs, pos) = Graft.splitArgs(args.toSeq)
    val (sfDir, outDir) = (pos(0), pos(1))
    // Optional third arg (local iteration only — the driver passes two):
    // comma-separated name prefixes; runs and oracles only matching
    // queries so check_oracle.py sees a consistent subset.
    val prefixes = pos.lift(2).map(_.split(',').toSeq)
    val keep: String => Boolean = name => prefixes.forall(_.exists(name.startsWith))
    val spark = Graft.session(confs = confs)
    new java.io.File(outDir).mkdirs()

    // Write oracle_sql.json FIRST: the driver's compare needs it even if
    // a query write below dies or the round is cut short.
    val json = Json.obj(SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => k -> Json.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    SparkEntry.warm(spark)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.filter(kv => keep(kv._1))
      .map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    spark.stop()
  }
}
