package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-duplicate check against the STORED vector index — the
  * production complement of [[CorpusIngest]]: the ingest channel dedups
  * arrivals against each other (within the watermark window), while THIS
  * channel checks each arriving embedding against the corpus the engine
  * has already indexed, the streamed form of the daily
  * [[graft.scale.Dedup.dedupIncremental]] batch and of the reference's
  * always-on ingest guards (reference: `app/services/data_validator.py:242`
  * checks every fetched frame for duplicates against what it already
  * holds before storing; this channel is that guard at embedding
  * granularity, against the stored ANN index).
  *
  * The serve plan is STATELESS — no watermark, no streaming aggregation,
  * no state store — which is what lets it run at ingest rates:
  *
  *  1. quantize the arriving vector map-side with the one SQ8 quantizer
  *     the batch index uses ([[graft.functions.Sq8Quantize]]), so a
  *     streamed arrival scores bit-identically to the batch index rows;
  *  2. route it super→group with the ivf2 argmins in one codegen'd pass
  *     ([[graft.functions.IvfProbe]]) over a ONE-ROW static frame that
  *     carries the fit-sized routing tables. The frame is collected once
  *     per [[nearDupStream]] call, so a trigger broadcasts it from local
  *     rows instead of re-aggregating the stored tables (a stream-static
  *     cross join — the streaming equivalent of the batch plan's
  *     query→super broadcast; a groupBy argmin would need a watermarked
  *     streaming aggregation for no gain);
  *  3. fetch the nprobe=2 probed lists by stream-static EQUI-join on
  *     cid against the stored index re-laid one-row-per-inverted-list
  *     ([[graft.scale.Similarity.ivfSqStreamIndex]] — the contiguous
  *     list layout FAISS serves from, each row O(list) ≈ 256 vectors);
  *  4. pick the best quantized cosine inside the ≤ 2 candidate arrays
  *     with one more codegen'd pass ([[graft.functions.Sq8Best]]),
  *     excluding the arrival itself.
  *
  * Per-arrival cost is exactly the index's serve promise — routing dots
  * + nprobe list scans — and per micro-batch the static list table scan
  * is shared across every arrival in the batch (the same amortization
  * the batch serve rows get across |queries|; SCALE.md's 1k-query
  * receipt). No step shuffles. At 100 TB the list table is the
  * already-stored int8 corpus (4× smaller than the floats) and a
  * deployment would bucket it by cid for IO pruning; nothing in the
  * plan holds state, so parallelism is pure executor count.
  */
object IndexNearDup {

  /** The channel over explicit index frames (the spec drives this with
    * batch arrivals too — same function, streaming vs batch input, for
    * the micro-batch-boundary equivalence pin).
    * `arrivals`: (vec_id BIGINT, v ARRAY<DOUBLE>, ts TIMESTAMP).
    * Emits one verdict row per arrival: near_dup iff some already-
    * indexed vector (other than itself) scores quantized cosine ≥ tau
    * within the probed lists. */
  def nearDupAgainst(arrivals: DataFrame, routing: DataFrame,
      lists: DataFrame, tau: Double): DataFrame = {
    import graft.functions.GraftFunctions.{dot, ivfProbe, sq8, sq8Best}
    // (1) arrival-side SQ8 quantization
    val quantized = arrivals
      .withColumn("aq", sq8(col("v")))
      .withColumn("aqn", sqrt(dot(col("aq"), col("aq"))))
    // (2) two-level routing: best-2 supers by sqdist, then best-2 lists
    // among the probed supers' groups — the same (dist, id)
    // lexicographic tie-break as the batch ivf2Probes
    val routed = quantized.crossJoin(routing)
      .withColumn("cids", ivfProbe(col("v"), col("supers"), col("groups")))
      .select(col("vec_id"), col("ts"), col("aq"), col("aqn"),
        get(col("cids"), lit(0)).as("cid1"), get(col("cids"), lit(1)).as("cid2"))
    // (3) candidate fetch: stream-static equi-joins on the probed cids
    // (left: a routed list can be empty-of-entries only in degenerate
    // fixtures, and cid2 is null when a tiny index has a single list)
    val cand = routed
      .join(lists.select(col("cid").as("cid1"), col("entries").as("e1")),
        Seq("cid1"), "left")
      .join(lists.select(col("cid").as("cid2"), col("entries").as("e2")),
        Seq("cid2"), "left")
    // (4) best candidate: quantized cosine (integer dot — EXACT in
    // float, no summation-order hazard), self excluded, (cosine desc,
    // vec_id asc) tie-break like the batch stage-1 cut; a zero-norm
    // candidate's cosine is NULL and never wins
    cand.withColumn("best", sq8Best(col("aq"), col("aqn"), col("vec_id"), col("e1"), col("e2")))
      .select(col("vec_id"), col("ts"),
        when(col("best").getField("cos") >= tau,
          col("best").getField("vid")).as("match_id"),
        when(col("best").getField("cos") >= tau,
          round(col("best").getField("cos"), 6)).as("est_cosine"),
        when(col("best").getField("cos") >= tau, lit("near_dup"))
          .otherwise(lit("unique")).as("verdict"))
  }

  /** The channel against the stored index at `dir`, self-healing the
    * index tables on a fresh JVM ([[graft.scale.Similarity
    * .ivfSqStreamIndex]]). tau = 0.4 matches the batch embedding
    * near-dup family's threshold. */
  def nearDupStream(spark: SparkSession, dir: String, arrivals: DataFrame,
      tau: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (routing, lists) = graft.scale.Similarity.ivfSqStreamIndex(spark, dir)
    nearDupAgainst(arrivals, routing, lists, tau)
  }
}
