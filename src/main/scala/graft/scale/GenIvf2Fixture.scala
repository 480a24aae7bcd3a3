package graft.scale

import org.apache.spark.sql.functions._

/** Writes the nested two-level-IVF parity fixture: n deterministic
  * 64-dim vectors (the same generator `SimilaritySpec` pins structure
  * on) to `<out>/embeddings.parquet`. At the default n = 5000 the
  * schedule resolves to k = 32, k1 = 16 — the smallest corpus where
  * [[Similarity.annIvf2Assign]]/[[Similarity.annIvf2Search]] run in
  * genuinely NESTED mode (supers ≠ centroids, multi-centroid groups) —
  * so running `graft.Verify` + `scripts/check.py` over this dir pins
  * Spark-vs-DuckDB tie-break parity for the nested shape, which the
  * sf0.001–sf0.1 oracle fixtures cannot (they degenerate to k1 = k).
  * The committed `IVF2_NESTED_r10.json` artifact is that run.
  *
  * Usage: runMain graft.scale.GenIvf2Fixture <outDir> [n]
  */
object GenIvf2Fixture {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val n = if (args.length > 1) args(1).toLong else 5000L
    val spark = graft.EngineConf.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    // distributed generation: spark.range scales to any n without the
    // driver materializing the corpus (same values as the previous
    // driver-side tabulate — SIN is java.lang.Math.sin on both paths)
    spark.range(n)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0L), lit(63L)),
          d => sin(lit(0.37) * (col("id") * 64 + d)).cast("float")).as("embedding"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    System.err.println(s"[gen-ivf2] wrote $n vectors -> $out/embeddings.parquet")
    spark.stop()
  }
}
