package graft.scale

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate sketch aggregates — the 100 TB substitutes for exact
  * distinct/percentile (SURVEY §2.6 note + §7.1 scale mandate):
  * `approx_count_distinct` (HyperLogLog++) and `percentile_approx`
  * (Greenwald-Khanna) are mergeable, constant-memory, one-pass — an
  * exact distinct at 100 TB shuffles every distinct value, a sketch
  * shuffles kilobytes per partition.
  *
  * Oracle shape: the estimate itself is engine-specific, so each query
  * emits the EXACT value (computable in both engines) plus a
  * within-tolerance boolean derived from the Spark-side sketch; the
  * DuckDB oracle pins the exact values and expects the boolean TRUE —
  * an out-of-tolerance sketch hash-mismatches the driver's compare.
  */
object Sketches {

  /** HLL++ distinct-count sketch vs exact, per group. rsd 0.02 with a 5%
    * acceptance band (HLL error is deterministic for a fixed input set —
    * the sketch is order-insensitive). */
  def skApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    // r16: the mixed countDistinct + approx_count_distinct aggregate
    // plans the distinct via (type, value) grouping with the partial
    // HLL sketch ALREADY in the aggregation buffer — a 410-column
    // (~3.3 KB) partial sketch PER DISTINCT PAIR crossing the first
    // exchange (plans/r16/sk_approx_distinct_before.txt, Results[412]).
    // HLL insertion is idempotent (duplicates drive the same register
    // to the same max), so both aggregates compute identically over
    // the distinct pairs: distinct first (16-byte rows through the
    // exchange), sketches built only ABOVE it — one sketch buffer per
    // event_type, not per pair. Both aggregates skip the null value
    // (as countDistinct did), so n_exact / n_approx are value-identical,
    // and a type whose values are all null keeps its row with 0.
    val d = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .distinct()
    d.groupBy(col("event_type"))
      .agg(
        count(col("value")).as("n_exact"),
        approx_count_distinct(col("value"), 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact") * 0.05).as("within_5pct"))
  }

  val skApproxDistinctSql: String =
    """SELECT event_type, count(DISTINCT value) AS n_exact, TRUE AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  /** GK quantile sketch vs exact interpolated percentile, per group.
    * accuracy 10000 → rank error ≤ n/10000; acceptance band = 1% of the
    * group's value range (generous: merge order may jitter the estimate
    * by ulps, the band must not). */
  def skApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
        expr("percentile_approx(value, 0.5, 10000)").as("p50_sketch"),
        (max(col("value")) - min(col("value"))).as("rng"))
      .select(col("event_type"), col("p50_exact"),
        (abs(col("p50_sketch") - col("p50_exact")) <= col("rng") * 0.01)
          .as("within_1pct_of_range"))

  val skApproxPercentileSql: String =
    """SELECT event_type, round(quantile_cont(value, 0.5), 6) + 0 AS p50_exact,
      |       TRUE AS within_1pct_of_range
      |FROM events GROUP BY event_type""".stripMargin

  /** Count-Min sketch vs the exact heavy-hitter counts: the sketch the
    * 100 TB boilerplate detector actually ships (mergeable, fixed
    * memory, one pass over shingle rows); the exact top-20
    * ([[Sampling.heavyHitters]]) is its verification oracle. CMS
    * guarantees: estimate ≥ exact ALWAYS (counters only over-count) —
    * that deterministic bound is what the oracle pins; the upper band
    * est ≤ exact + ε·N holds only with probability 1−δ per item, so a
    * fixture/seed change can legitimately break it — the band is
    * asserted in SketchesSpec, not hash-pinned here. The sketch
    * aggregates distributed; only the 20 verified items touch the
    * driver. */
  def skHeavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the shared shingle index serves the sketch build AND the exact
    // top-20 (Sampling.heavyHitters reads the same memoized relation)
    val sh = Dedup.shingleIndex(spark, dir)
    val cms = sh.stat.countMinSketch(col("s"), eps = 0.001, confidence = 0.99, seed = 42)
    val top = Sampling.heavyHitters(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    top.map { case (s, exact) =>
      val est = cms.estimateCount(s)
      (s, exact, est >= exact)
    }.toSeq.toDF("s", "n_docs", "sketch_ge_exact")
  }

  /** The probabilistic ε-band companion for SketchesSpec: per heavy
    * hitter, how far the CMS estimate over-counts vs ε·N. Not oracle-
    * checked (the band holds w.p. 1−δ, not always). */
  def cmsErrorBand(spark: SparkSession, dir: String): Seq[(String, Long, Long, Long)] = {
    val sh = Dedup.shingleIndex(spark, dir)
    val eps = 0.001
    val cms = sh.stat.countMinSketch(col("s"), eps = eps, confidence = 0.99, seed = 42)
    val slack = math.ceil(eps * sh.count()).toLong
    val top = Sampling.heavyHitters(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    top.toSeq.map { case (s, exact) => (s, exact, cms.estimateCount(s), slack) }
  }

  val skHeavyHittersCmsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Dedup.tokensSql} AS ts FROM documents),
       |shs AS (
       |  SELECT doc_id, unnest(list_distinct(${Dedup.shinglesSql})) AS s FROM toks)
       |SELECT s, count(*) AS n_docs, TRUE AS sketch_ge_exact
       |FROM shs GROUP BY s
       |ORDER BY n_docs DESC, s LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- hll rollup
  /** Mergeable HLL ROLLUP — the property that makes sketches the 100 TB
    * answer: per-day DataSketches HLL sketches of the distinct-user set
    * are built ONCE (one pass over events), then the month's distinct
    * count comes from UNIONING the 30 daily sketches — never re-reading
    * the raw data. This is the materialized-rollup pattern every metrics
    * store ships (daily sketch partitions; any ad-hoc date range =
    * sketch union, constant work): an exact monthly distinct would
    * re-shuffle every event, the union touches 30 kilobyte-sized
    * sketches. Emits one row per day plus the month row; each row pins
    * the EXACT distinct (cross-engine computable) and a within-2%
    * acceptance band on the sketch estimate (lgConfigK=12 → ~1.6% rse;
    * the sketch is order-insensitive, so the band is deterministic for
    * a fixed input set). */
  def skHllRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(
        hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    val dayRows = daily.select(
      lit("day").as("level"), col("day").cast("string").as("bucket"),
      col("n_exact"),
      (abs(hll_sketch_estimate(col("sk")) - col("n_exact")) <=
        col("n_exact") * 0.02).as("within_2pct"))
    // month = union of the DAILY sketches (the rollup read path) checked
    // against the exact distinct over the raw table (the write path it
    // replaces)
    val monthExact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    val monthRow = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .crossJoin(monthExact)
      .select(lit("month").as("level"), lit("ALL").as("bucket"),
        col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.02)
          .as("within_2pct"))
    dayRows.unionByName(monthRow)
  }

  val skHllRollupSql: String =
    """SELECT 'day' AS level, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS bucket,
      |       count(DISTINCT user_id) AS n_exact, TRUE AS within_2pct
      |FROM events GROUP BY CAST(ts AS DATE)
      |UNION ALL
      |SELECT 'month', 'ALL', count(DISTINCT user_id), TRUE FROM events""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_approx_distinct"   -> (skApproxDistinct _),
    "sk_approx_percentile" -> (skApproxPercentile _),
    "sk_heavy_hitters_cms" -> (skHeavyHittersCms _),
    "sk_hll_rollup"        -> (skHllRollup _))

  def oracles: Map[String, String] = Map(
    "sk_approx_distinct"   -> skApproxDistinctSql,
    "sk_approx_percentile" -> skApproxPercentileSql,
    "sk_heavy_hitters_cms" -> skHeavyHittersCmsSql,
    "sk_hll_rollup"        -> skHllRollupSql)
}
