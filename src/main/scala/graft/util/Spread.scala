package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Bytes-aware sizing for the engine's EXPLICIT repartitions (r16).
  *
  * r15 added explicit-count hash repartitions in front of CPU-dense
  * stages (AQE coalesces post-shuffle partitions by BYTES and cannot
  * see per-row CPU, so KB-sized exchanges feeding levenshtein/md5/
  * window work collapsed to one task), but pinned every count to
  * `defaultParallelism` — right on local[32], wrong at 100 TB where the
  * guide (§2.2/§6) sizes partitions by bytes: a core-count-pinned
  * repartition of a large input UNDER-partitions it with no AQE escape
  * hatch (explicit counts are exempt from coalescing AND skew
  * splitting). This helper centralizes the policy instead of repeating
  * the pattern per site:
  *
  *   - [[width]]: max(cluster cores, plan-estimated bytes / target),
  *     capped. On the fixture inputs the estimate is tiny, so the local
  *     width stays `defaultParallelism` and bench numbers remain
  *     comparable round-over-round; on a corpus-sized input the width
  *     follows bytes (~128 MB/partition, `SPARK_GRAFT_SPREAD_TARGET_
  *     BYTES` overrides for cluster tuning).
  *   - [[ifNarrow]]: apply the spread ONLY when the frame's current
  *     partitioning under-fills the cluster — the bootstrap_ci gate
  *     (r15), now shared: a 100 TB scan is already thousands of tasks
  *     and must never pay a fact-table shuffle for "parallelism".
  */
object Spread {
  private def targetBytes: Long =
    sys.env.get("SPARK_GRAFT_SPREAD_TARGET_BYTES").map(_.toLong)
      .getOrElse(128L * 1024 * 1024)

  /** Explicit partition count for a repartition of `df`: the cluster
    * width as a floor (spread small CPU-dense frames across all cores),
    * the Catalyst size estimate over ~128 MB as the scale term, capped
    * at `maxParts` (the unknown-stats estimate is Long.MaxValue-ish —
    * never turn a bad estimate into a million-task shuffle).
    *
    * Plans containing a Join or Generate do NOT use the plan-level
    * estimate: Catalyst multiplies child sizes through joins and
    * explodes, so a KB-scale self-join reads as TB-scale (observed:
    * the containment candidate join drove width to 65536 = a 65k-task
    * shuffle of 50k rows). For those shapes the width follows the SUM
    * of the leaf estimates — the real bytes entering the pipeline —
    * which still grows with corpus size at 100 TB but cannot be
    * inflated by join-cardinality guesses.
    *
    * The 4096 default cap holds for EVERY caller on purpose, not only
    * the join/generate shapes: no caller passes another value, and a
    * bytes-derived width past 4096 × ~128 MB (~512 GB estimated) is
    * the size where a bad estimate, not real data, is the likelier
    * cause. An input that really is larger gets 4096 partitions of
    * more than the target size rather than an unbounded task count. */
  def width(df: DataFrame, maxParts: Int = 4096): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Generate}
    val para = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val multiplicative =
      plan.exists { case _: Join | _: Generate => true; case _ => false }
    val est =
      if (multiplicative)
        plan.collectLeaves().map(_.stats.sizeInBytes).foldLeft(BigInt(0))(_ + _)
      else plan.stats.sizeInBytes
    // UNKNOWN estimates surface as defaultSizeInBytes (Long.MaxValue)
    // or its products — e.g. a LogicalRDD/localCheckpoint child. Treat
    // anything past a sanity bound (4 PB) as unknown and fall back to
    // the cluster width rather than exploding to maxParts.
    val unknown = est <= 0 || est > BigInt(4L << 50)
    val byBytes =
      if (unknown) para
      else if (est > BigInt(maxParts) * targetBytes) maxParts
      else (est.toLong / targetBytes + 1).toInt
    math.min(maxParts, math.max(para, byBytes))
  }

  /** True iff the plan-level size estimate is KNOWN and the whole
    * frame fits inside one ~128 MB target partition — the bound under
    * which skew-aware layouts (range distribution, salting) cannot pay
    * for their own overhead because no key can be hot enough to
    * matter. Unknown estimates return false: scale-safety must never
    * hinge on a missing statistic. */
  def fitsOnePartition(df: DataFrame): Boolean = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    est > 0 && est <= BigInt(targetBytes)
  }

  /** Hash-repartition `df` on `keys` at [[width]] — but only when its
    * current partitioning under-fills the cluster (a small/local scan).
    * An already-wide frame is returned untouched: same plan, no
    * exchange. */
  def ifNarrow(df: DataFrame, keys: Column*): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < para) df.repartition(width(df), keys: _*)
    else df
  }
}
