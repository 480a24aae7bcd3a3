package graft

import java.nio.file.{Files, Paths}

import graft.obs.MetricsListener
import graft.scale.GraphTelemetry
import graft.util.Json
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Diagnostics main. Not part of the driver contract; changes nothing a
  * registered query computes. Every mode runs on the engine session
  * ([[EngineConf.local]]; `SPARK_GRAFT_CPUS` defaults to 4 for `bytes`,
  * 32 otherwise), resolves its queries through [[SparkEntry.selected]]
  * and starts with the same [[coldPass]]; measured runs then use the
  * build-plan variant ([[SparkEntry.benchImpls]]) like Bench's warm pass.
  *
  * {{{
  * runMain graft.Diag run <names> [sfDir] [explain]
  * runMain graft.Diag phases <names> [sfDir] [reps]
  * runMain graft.Diag bytes            # SPARK_GRAFT_SF_DIR, SPARK_GRAFT_ONLY
  * runMain graft.Diag graph [sfDir] [names]
  * }}}
  * `sfDir` defaults to sf0.1; `<names>` is a [[SparkEntry.selected]]
  * list (comma-separated names or `headline`).
  */
object Diag {
  type Query = (SparkSession, String) => DataFrame

  /** The queries that drive the distributed graph loops. */
  private val graphLoops = "graph_deep_chain,graph_kcore,graph_core_numbers,er_clusters,dedup_clusters"

  def main(args: Array[String]): Unit = {
    val sf01 = "/root/testdata/sf0.1"
    def arg(i: Int, default: String): String = args.lift(i).getOrElse(default)
    def named(list: String): Seq[(String, Query)] =
      SparkEntry.selected(Some(list)).toSeq.sortBy(_._1)
    // arguments resolve (and fail) before the session starts
    val mode: SparkSession => Unit = arg(0, "") match {
      case "run" =>
        val (qs, dir) = (named(arg(1, "")), arg(2, sf01))
        s => run(s, dir, qs, args.contains("explain"))
      case "phases" =>
        val (qs, dir, reps) = (named(arg(1, "")), arg(2, sf01), arg(3, "3").toInt)
        s => phases(s, dir, qs, reps)
      case "bytes" =>
        val qs = SparkEntry.selected().toSeq.sortBy(_._1)
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf01)
        s => { bytes(s, dir, qs, ""); () }
      case "graph" =>
        val (dir, qs) = (arg(1, sf01), named(arg(2, graphLoops)))
        s => graph(s, dir, qs)
      case other =>
        throw new IllegalArgumentException(
          s"usage: graft.Diag run|phases|bytes|graph ... (got '$other')")
    }
    val spark = EngineConf.local(EngineConf.cpus(if (args(0) == "bytes") 4 else 32))
    spark.sparkContext.setLogLevel("ERROR")
    try mode(spark) finally spark.stop()
  }

  /** The shared warm-up: each query's PUBLIC entry once through
    * [[BenchAction.consume]], in order. It warms the session (codegen,
    * parquet footers, JIT) and materializes every shared memo, so later
    * measured runs see steady-state marginal cost with index builds
    * attributed to the index's own query — Bench's cold-pass contract.
    * `each` sees every query's wall seconds and (rows, checksum), or
    * what it threw. */
  private def coldPass(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)])(
      each: (String, Double, Either[Throwable, (Long, Long)]) => Unit): Unit =
    qs.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = try Right(BenchAction.consume(fn(spark, sfDir)))
        catch { case e: Throwable => Left(e) }
      each(name, (System.nanoTime() - t0) / 1e9, r)
    }

  private def warmImpl(name: String, fn: Query): Query =
    SparkEntry.benchImpls.getOrElse(name, fn)

  private def sec(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

  /** Cold run plus three warm runs per query, or (`explain`) the
    * formatted physical plan of each query under a `== <name> ==`
    * header, followed by `== <name>/bench ==` for the rows with a
    * [[SparkEntry.benchImpls]] variant. `scripts/plan_diff.py` diffs two
    * such dumps. */
  def run(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
      explain: Boolean): Unit =
    if (explain) qs.foreach { case (name, fn) =>
      val variants = (name -> fn) +: SparkEntry.benchImpls.get(name).map(s"$name/bench" -> _).toSeq
      variants.foreach { case (label, f) =>
        println(s"== $label ==")
        f(spark, sfDir).explain("formatted")
      }
    }
    else {
      coldPass(spark, sfDir, qs) { (name, wall, r) =>
        val (n, _) = r.toTry.get
        println(s"[runone] $name cold: ${sec(wall)} s, $n rows")
      }
      qs.foreach { case (name, fn) =>
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val (n, _) = BenchAction.consume(warmImpl(name, fn)(spark, sfDir))
          println(s"[runone] $name warm$i: ${sec((System.nanoTime() - t0) / 1e9)} s, $n rows")
        }
      }
    }

  /** Splits each rep's wall time into Catalyst phases (analysis /
    * optimization / physical planning), janino codegen compilation (count,
    * and seconds estimated from the compile-time histogram) and the rest
    * (`exec~`), plus the stage count and the hot stages: those over
    * 150 ms, as tasks/stage wall(summed task ms)[name] — wall ≈ sum means
    * the stage ran without parallelism. */
  def phases(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
      reps: Int): Unit = {
    coldPass(spark, sfDir, qs) { (name, _, r) =>
      r.left.foreach(e => println(s"[phase] $name warmup failed: ${e.getMessage}"))
    }
    def compileStats(): (Long, Double) = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getMean)
    }
    withListener(spark) { listener =>
      println(f"${"query"}%-26s ${"wall"}%7s ${"analys"}%7s ${"optim"}%7s ${"plan"}%7s ${"ncomp"}%6s ${"cg_est"}%7s ${"exec~"}%7s")
      qs.foreach { case (n, fn) =>
        (1 to reps).foreach { _ =>
          val (c0, m0) = compileStats()
          val t0 = System.nanoTime()
          val out = BenchAction.action(warmImpl(n, fn)(spark, sfDir))
          out.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          val (c1, m1) = compileStats()
          val ph = out.queryExecution.tracker.phases
            .map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) / 1e3 }
          def g(k: String) = ph.getOrElse(k, 0.0)
          val nComp = c1 - c0
          val cgEst = (c1 * m1 - c0 * m0) / 1e3 // sec, estimated from histogram mean*count
          val known = g("analysis") + g("optimization") + g("planning")
          listener.quiesce() // let trailing stage events land
          val stages = listener.drainStages()
          val hot = stages.filter(_.wallMs > 150).sortBy(-_.wallMs).take(4)
            .map(s => s"${s.tasks}t/${s.wallMs}ms(sum ${s.taskMs})[${s.name}]").mkString(" ")
          println(f"$n%-26s $wall%7.3f ${g("analysis")}%7.3f ${g("optimization")}%7.3f ${g("planning")}%7.3f $nComp%6d $cgEst%7.3f ${wall - known}%7.3f  nstages=${stages.size}%3d hot: $hot")
        }
      }
    }
  }

  /** Per-query BYTE costs to `<outDir>/SHUFFLE_<sf basename>.json`:
    * shuffle read/write, spill, input scan, executor task time and
    * summed per-stage execution-memory peaks, from one measured pass
    * after the cold pass. Returns the file written.
    *
    * Wall-clock on a shared host carries 2–8× noise; bytes do not — a
    * query's shuffle volume is a pure function of its plan and its data,
    * so a single measured pass is exact and two scale factors give an
    * exact growth ratio (`scripts/shuffle_ratio.py`): a query whose
    * shuffle bytes grow 10× on 10× data is linear in the wire cost of its
    * exchanges, one that grows 100× has a pair blowup. The file name
    * carries the SF directory's basename so multi-SF runs cannot clobber
    * each other. */
  def bytes(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
      outDir: String): String = {
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    coldPass(spark, sfDir, qs) { (name, _, r) => if (r.isLeft) failed += name }
    val rows = withListener(spark) { listener =>
      qs.map { case (name, fn) =>
        val (before, settledBefore) = listener.quiesce()
        val t0 = System.nanoTime()
        try { BenchAction.consume(warmImpl(name, fn)(spark, sfDir)); () }
        catch { case _: Throwable => failed += name }
        val wallSec = (System.nanoTime() - t0) / 1e9
        val (after, settledAfter) = listener.quiesce()
        name -> Map(
          "settled" -> (if (settledBefore && settledAfter) 1L else 0L),
          "shuffle_read" -> (after.shuffleRead - before.shuffleRead),
          "shuffle_write" -> (after.shuffleWrite - before.shuffleWrite),
          "spill_mem" -> (after.spillMem - before.spillMem),
          "spill_disk" -> (after.spillDisk - before.spillDisk),
          "input_read" -> (after.inputRead - before.inputRead),
          "task_time_ms" -> (after.taskTimeMs - before.taskTimeMs),
          "sum_peak_exec_mem" -> (after.peakMemSum - before.peakMemSum),
          "stages" -> (after.stages - before.stages),
          "jobs" -> (after.jobs - before.jobs),
          "wall_ms" -> (wallSec * 1000).toLong)
      }
    }
    def obj(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + v }
        .mkString("{", ",", "}")
    val errs = failed.map(Json.str).mkString("[", ",", "]")
    val out = Paths.get(outDir).resolve(s"SHUFFLE_${new java.io.File(sfDir).getName}.json")
    Files.writeString(out, s"""{"sf":${Json.str(sfDir)},"n_queries":${rows.size},"errors":$errs,"queries":${
      rows.map { case (k, v) => Json.str(k) + ":" + obj(v) }.mkString("{", ",", "}")}}""" + "\n")
    def mb(key: String*): Long = rows.map(r => key.map(r._2).sum).sum / 1048576
    println(s"""{"metric":"shuffle_audit","out":${Json.str(out.toString)},"n_queries":${rows.size},"n_errors":${failed.size},"shuffle_read_mb":${mb("shuffle_read")},"shuffle_write_mb":${mb("shuffle_write")},"spill_mb":${mb("spill_mem", "spill_disk")}}""")
    out.toString
  }

  /** Round-level receipts for the distributed graph loops: per query, one
    * `[telemetry]` line per loop run (edges, partitions, rounds, wall)
    * and one per round (wall, convergence measure), read from
    * [[GraphTelemetry]] around the query's cold run. Queries whose graph
    * fits the driver edge cap report zero distributed runs (the adaptive
    * union-find branch). */
  def graph(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)]): Unit = {
    GraphTelemetry.clear()
    coldPass(spark, sfDir, qs) { (name, wall, r) =>
      val (n, _) = r.toTry.get
      val (rounds, runs) = GraphTelemetry.snapshot()
      GraphTelemetry.clear()
      println(s"[telemetry] $name: ${sec(wall)} s, $n rows, " +
        s"${runs.size} distributed loop run(s)")
      runs.foreach { r =>
        println(s"[telemetry]   ${r.loop}: edges=${r.edges} parts=${r.parts} " +
          s"rounds=${r.rounds} wall=${sec(r.wallSec)}s")
      }
      rounds.foreach { r =>
        println(s"[telemetry]     ${r.loop} round ${r.round}: " +
          s"${sec(r.wallSec)}s measure=${r.measure}")
      }
    }
  }

  private def withListener[T](spark: SparkSession)(body: MetricsListener => T): T = {
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try body(listener) finally spark.sparkContext.removeSparkListener(listener)
  }
}
