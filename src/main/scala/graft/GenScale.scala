package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× scaler for the driver testdata — the empirical leg
  * of the scale posture (r5 verdict item 5: "10× data is the cheapest
  * empirical test"). Replica 0 is the identity copy, so id-keyed
  * queries (point lookups, vec_id<10 ANN queries) keep their rows;
  * replicas 1..N−1 shift every key by a replica offset chosen to
  * preserve the id-derived classes the operators key on (doc offset
  * 970 000 is divisible by 97 — the benchmark split — and by 10 — the
  * incremental-batch split).
  *
  * Linearity by construction: replicated TEXT gets a per-replica token
  * prefix (distinct shingle vocabularies → no cross-replica near-dups,
  * so the pair graphs grow 10×, not 45× per clique), and replicated
  * EMBEDDINGS are rotated by k dims (a per-replica isometry: all
  * within-replica cosines are bit-preserved, cross-replica vectors
  * decorrelate). Without these, a naive copy makes every doc a 10-way
  * exact duplicate and the near-dup stages go quadratic inside each
  * clone family — a different (harder) workload than 10× data.
  *
  * The word tags also decorrelate byte HISTOGRAMS, not just shingle
  * vocabularies: each tag carries two replica-keyed code characters
  * (base-62 digits of k), so a replica's tag contributes ~2 bytes per
  * word — 30–40% of the doc's byte mass — at a byte value that differs
  * between any two replicas. That shifts every doc's mean byte by far
  * more than the pHash candidate threshold (|Δmean| ≤ 0.1) and flips
  * histogram-signature bits per replica, so the multimodal blob
  * channel (media = utf-8 text bytes) no longer forms cross-replica
  * pHash clone families (r7 measured 86% of a 141× pair blowup as
  * cross-replica before this perturbation). Within a replica every doc
  * gets the SAME tag, so genuine within-replica near-dup blobs shift
  * near-identically and survive — a per-doc salt would instead differ
  * between the very pair members the operator exists to find. The
  * replica-keyed rotation mirrors the embedding isometry: uniform
  * within a replica, decorrelating across replicas. Whitespace token
  * COUNTS are unchanged (the tag extends a word, it does not add one),
  * so token/packing queries still measure 10× docs.
  *
  * Usage: runMain graft.GenScale <srcDir> <outDir> [factor=10] */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = EngineConf.local(EngineConf.cpus(8))
    spark.sparkContext.setLogLevel("WARN")

    /** Replicates `table` with `shift`; `caps` guards EVERY shifted
      * column's replica offset — the offsets are constants sized to the
      * sf0.1 key ranges, and a larger source (sf1, or chaining GenScale
      * output) would make replica ranges OVERLAP, silently merging
      * distinct rows. The guard covers shifted NON-key columns too
      * (o_custkey, l_partkey/l_suppkey, event_id): a source whose
      * event_id already exceeds its offset would collide replica ranges
      * while the primary-key check stays green. Fail loudly instead. */
    def replicate(table: String, caps: (String, Long)*)
                 (shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val maxRow = base.agg(
        caps.head match { case (c, _) => max(col(c).cast("long")) },
        caps.tail.map { case (c, _) => max(col(c).cast("long")) }: _*).head()
      caps.zipWithIndex.foreach { case ((colName, cap), i) =>
        val maxKey = maxRow.getLong(i)
        require(maxKey < cap,
          s"$table: max $colName = $maxKey exceeds the replica offset $cap — " +
            "scale the original sf data, not GenScale output")
      }
      val scaled = (0 until factor).map(k => shift(base, k)).reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[genscale] $table: ${base.count()} -> ${scaled.count()}")
    }

    // dimension tables: copy as-is (joins fan out through the fact side)
    for (t <- Seq("region", "nation")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] $t: copied")
    }
    replicate("customer", "c_custkey" -> 15000L)((df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + k * 15000L))
    replicate("supplier", "s_suppkey" -> 1000L)((df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + k * 1000L))
    // part names get a replica-tagged noun (the ER block key is
    // (noun, type, size_bucket)): a verbatim clone would grow every ER
    // block 10× → 100× candidate pairs — a quadratic clone-family
    // workload, not 10× data (measured: er_clusters 14.9 s vs the
    // ~linear 1.5 s after this perturbation)
    replicate("part", "p_partkey" -> 20000L)((df, k) =>
      if (k == 0) df
      else df.withColumn("p_partkey", col("p_partkey") + k * 20000L)
        .withColumn("p_name", regexp_replace(col("p_name"), " ", s" r$k")))
    replicate("orders", "o_orderkey" -> 150000L, "o_custkey" -> 15000L)((df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + k * 150000L)
        .withColumn("o_custkey", col("o_custkey") + k * 15000L))
    replicate("lineitem", "l_orderkey" -> 150000L,
        "l_partkey" -> 20000L, "l_suppkey" -> 1000L)((df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + k * 150000L)
        .withColumn("l_partkey", col("l_partkey") + k * 20000L)
        .withColumn("l_suppkey", col("l_suppkey") + k * 1000L))
    // events: new user population per replica, identical per-user series
    // (window operators scale by key count, the production shape)
    replicate("events", "user_id" -> 1500L, "event_id" -> 10000000L)((df, k) =>
      df.withColumn("event_id", col("event_id") + k * 10000000L)
        .withColumn("user_id", col("user_id") + k * 1500L))
    // documents: replica-tagged vocabulary AND byte histogram (see
    // scaladoc); the two base-62 code chars make the tag's byte values
    // replica-distinct (unique below factor 62² = 3844); n_chars tracks
    // the rewritten text (the fixture invariant n_chars = length(text))
    val b62 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    replicate("documents", "doc_id" -> 970000L) { (df, k) =>
      if (k == 0) df
      else {
        // fixed-width tag (k zero-padded to 3): every tag is exactly 6
        // chars, so no tag can be a PREFIX of another — variable-width
        // "r$k" let replica-1's "r110"+word collide with replica-110's
        // "r110M1"+word, leaking a sliver of cross-replica shingle
        // correlation the decorrelation exists to remove
        require(k <= 999, "fixed-width replica tag covers k <= 999")
        val tag = f"r$k%03d${b62(k % 62)}${b62((k / 62) % 62)}"
        val tagged = concat(lit(tag), regexp_replace(col("text"), " ", s" $tag"))
        df.withColumn("doc_id", col("doc_id") + k * 970000L)
          .withColumn("text", tagged)
          .withColumn("n_chars", length(tagged).cast("long"))
      }
    }
    // embeddings: rotate by k mod 64 dims per replica, composed with a
    // global sign flip for k >= 64 (both isometries: within-replica
    // cosines are bit-preserved; cross-replica vectors decorrelate —
    // the flip keeps replicas 64..127 distinct from 0..63, which pure
    // rotation cannot at factors above the 64-dim fixture layout)
    require(spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0) == 64,
      "embedding rotation assumes 64 dims")
    require(factor <= 128, "embedding decorrelation covers 128 distinct isometries")
    replicate("embeddings", "vec_id" -> 2000000L) { (df, k) =>
      if (k == 0) df
      else {
        val r = k % 64
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r))
        val iso = if (k < 64) rotated else transform(rotated, x => -x)
        df.withColumn("vec_id", col("vec_id") + k * 2000000L)
          .withColumn("embedding", iso)
      }
    }
    spark.stop()
  }
}
