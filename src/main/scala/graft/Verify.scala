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
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local iteration only — the driver passes two):
    // comma-separated name prefixes; runs and oracles only matching
    // queries so check_oracle.py sees a consistent subset.
    val keep: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(',').toSeq
        name => ps.exists(name.startsWith)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)
    new java.io.File(outDir).mkdirs()

    // Write oracle_sql.json FIRST: the driver's compare needs it even if
    // a query write below dies or the round is cut short.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
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
