package graft
import org.apache.spark.sql.SparkSession

/** The engine's one session shape. [[local]] builds it for every main
  * (Bench, Verify, MatCheck, Plans, Diag, GenScale,
  * scale.GenIvf2Fixture, streaming.StreamBench) and for the test suite
  * (`SparkSpec.session`), so tests, benches, stream numbers and
  * diagnostics all measure the same engine. A caller that needs an
  * extra SQL conf sets it with `spark.conf.set` after the build
  * (StreamBench's state-store provider). [[tune]] is the part that is
  * independent of the master; the perfbench harness applies it to its
  * own builder.
  *
  * [[tune]] sets:
  *   - `spark.sql.extensions = graft.plans.GraftExtensions` — the
  *     documented production wiring for graft's Catalyst surface
  *     (custom functions, the as-of strategy, and the r15
  *     [[graft.plans.DedupWindowExpressions]] rule that collapses
  *     duplicate window aggregates engine-wide).
  *   - `spark.sql.codegen.cache.maxEntries` — Spark's generated-class
  *     cache holds 100 entries by default, sized for a handful of
  *     long-running queries. This engine's registry is 267 queries ×
  *     several codegen units each, so a full sweep evicts everything
  *     and every re-execution pays full janino compilation again
  *     (measured: warm per-query times ≈ cold). 4096 entries keeps one
  *     sweep resident. JVM-level and scale-independent — the same
  *     registry compiles the same classes on a 1000-node cluster; the
  *     env knob exists for memory-constrained drivers.
  */
object EngineConf {
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      // the codegen-stage id is embedded in the generated CLASS NAME
      // purely as a debugging aid; under AQE the id reflects runtime
      // replanning order, so two executions of the SAME multi-stage
      // plan generate textually different classes and miss the cache
      // (measured: ann_recall2 recompiled 36-54 classes — 0.9-2.0 s —
      // on every warm run). Dropping the id makes generated source a
      // pure function of the subplan, so the cache can do its job.
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** `local[cpus]` with `partitions` shuffle partitions, UTC session
    * time zone (the oracle SQL is written against naive UTC
    * timestamps), no UI, and [[tune]]. */
  def local(cpus: Int, partitions: Int): SparkSession =
    tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()

  /** One shuffle partition per core. */
  def local(cpus: Int): SparkSession = local(cpus, cpus)

  /** The `SPARK_GRAFT_CPUS` core count, or `default` when unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
