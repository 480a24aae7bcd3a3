package graft.scale

import graft.SparkSpec

/** The Count-Min ε-band lives here, not in the DuckDB oracle: the
  * upper bound est ≤ exact + ε·N holds with probability 1−δ per item,
  * so it is a property of this fixed (fixture, seed) pair — pinning
  * TRUE in a hash-compared oracle would turn a legitimate probabilistic
  * miss into a correctness failure. The deterministic guarantee
  * (est ≥ exact, counters only over-count) stays oracle-checked in
  * `sk_heavy_hitters_cms`. */
class SketchesSpec extends SparkSpec {

  test("CMS estimates over-count and stay inside the eps band on the fixed fixture") {
    val band = Sketches.cmsErrorBand(spark, sfDir)
    assert(band.size == 20)
    band.foreach { case (s, exact, est, slack) =>
      assert(est >= exact, s"'$s': CMS must never under-count ($est < $exact)")
      assert(est <= exact + slack,
        s"'$s': est $est exceeds exact $exact + eps*N $slack on the fixed seed/fixture")
    }
  }

  test("sk_approx_distinct keeps a type whose values are all null, with n_exact 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sketches").toString
    try {
      val ts = new java.sql.Timestamp(1700000040000L)
      Seq[(Long, java.sql.Timestamp, Long, String, Option[Double], String)](
        (1L, ts, 1L, "click", Some(1.0), "{}"), (2L, ts, 1L, "click", Some(2.0), "{}"),
        (3L, ts, 2L, "click", Some(2.0), "{}"), (4L, ts, 2L, "click", None, "{}"),
        (5L, ts, 3L, "view", None, "{}"), (6L, ts, 3L, "view", None, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      // the oracle's count(DISTINCT value) GROUP BY event_type
      val got = Sketches.skApproxDistinct(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == Set(("click", 2L, true), ("view", 0L, true)))
    } finally graft.util.Scratch.cleanupPath(dir)
  }
}
