package graft

import graft.util.Json
import java.nio.file.{Files, Paths}

/** Full-registry materialization gate: run EVERY [[SparkEntry.queries]]
  * entry at the given SF through [[BenchAction.consume]] — every output
  * column of every row is computed, so any per-row error (ANSI divide,
  * overflow, bad cast) surfaces even when the DuckDB oracle scale's
  * data never exercises the edge case. The round-8 defect class: the
  * oracle runs at sf0.01, but sf0.1 is the first SF with zero-price
  * candles, and two queries crashed there undetected by 245 green
  * oracle rows (and undetected by the then-`count()` bench action,
  * which pruned the broken columns away).
  *
  * Usage: runMain graft.MatCheck <sfDir> [outJson]
  * Writes {"sf":…, "n":…, "n_err":…, "queries":{name:{"rows":…,
  * "checksum":…}|{"err":…}}} and exits nonzero on any error.
  */
object MatCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "MATCHECK.json"
    val spark = EngineConf.local(EngineConf.cpus(16))
    spark.sparkContext.setLogLevel("ERROR")
    var nErr = 0
    // optional SPARK_GRAFT_ONLY filter (SparkEntry.selected): a targeted
    // run whose rows are merged into a full artifact notes the merge there
    val rows = SparkEntry.selected().toSeq.sortBy(_._1).map { case (name, fn) =>
      val cell = try {
        val (n, h) = BenchAction.consume(fn(spark, sfDir))
        s"""{"rows":$n,"checksum":$h}"""
      } catch { case e: Throwable =>
        nErr += 1
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        System.err.println(s"[matcheck] $name FAILED: $msg")
        s"""{"err":${Json.str(msg)}}"""
      }
      s"${Json.str(name)}: $cell"
    }
    val json = s"""{"sf":${Json.str(sfDir)},"n":${rows.size},"n_err":$nErr,""" +
      s""""queries":${rows.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(outPath), json)
    System.err.println(s"[matcheck] ${rows.size} queries, $nErr failed -> $outPath")
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
