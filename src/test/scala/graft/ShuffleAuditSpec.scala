package graft

import org.apache.spark.sql.functions._

/** The listener behind SHUFFLE_sf*.json: per-query byte deltas must
  * bracket real work (a groupBy must show shuffle bytes; a re-count of
  * the same cached frame must show ~none), and quiescence must settle
  * — async listener delivery racing the snapshot was the failure mode
  * this harness is designed around. */
class ShuffleAuditSpec extends SparkSpec {

  test("delta brackets a shuffling query and settles to zero at rest") {
    val listener = new graft.obs.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val (before, sb) = listener.quiesce()
      assert(sb, "listener must settle at rest")
      val df = spark.range(0, 100000, 1, 8)
        .withColumn("k", col("id") % 997)
        .groupBy("k").agg(sum("id").as("s"))
      assert(df.count() == 997)
      val (after, sa) = listener.quiesce()
      assert(sa, "listener must settle after the job")
      assert(after.jobs > before.jobs, "job end events must be delivered")
      assert(after.stages - before.stages >= 2, "groupBy = map + reduce stages")
      assert(after.shuffleWrite > before.shuffleWrite, "partial aggregates must shuffle")
      assert(after.shuffleRead > before.shuffleRead)
      assert(after.taskTimeMs >= before.taskTimeMs)
      // at rest, two quiesced snapshots are identical (no phantom deltas)
      val (again, sg) = listener.quiesce()
      assert(sg && again == after)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a scan-only count shuffles nothing beyond the partial-count rows") {
    val listener = new graft.obs.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val (before, _) = listener.quiesce()
      assert(spark.range(0, 50000, 1, 4).filter(col("id") % 7 === 0).count() > 0)
      val (after, _) = listener.quiesce()
      // count()'s final aggregate exchanges one partial row per
      // partition — bytes must be that and nothing else (no row data)
      assert(after.shuffleWrite - before.shuffleWrite < 8192,
        "a filter+count over range must not shuffle row data")
      assert(after.jobs > before.jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
