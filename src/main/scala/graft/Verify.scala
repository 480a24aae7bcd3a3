package graft
import graft.util.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: a SparkEntry.selected query list (dev filter;
    // the driver always runs the full two-arg form)
    val sfDir = args(0)
    val outDir = args(1)
    val spark = EngineConf.local(EngineConf.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var ok, bad = 0
    SparkEntry.selected(args.lift(2)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case e: Throwable =>
        bad += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // One greppable summary so a mass failure (round 3: a testdata
    // schema drift silently dropped 93 queries) is visible in the
    // driver log even when no one reads the per-query stderr.
    System.err.println(s"[verify] wrote $ok queries, $bad failed")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
