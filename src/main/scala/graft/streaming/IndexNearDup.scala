package graft.streaming

import graft.functions.IvfSqSnapshot
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
  * no state store — which is what lets it run at ingest rates. A
  * micro-batch is one map-only job: the arrivals' scan and the
  * projections of one codegen stage, with no join, no exchange and no
  * broadcast job.
  *
  *  1. quantize the arriving vector map-side with the one SQ8 quantizer
  *     the batch index uses ([[graft.functions.Sq8Quantize]]), so a
  *     streamed arrival scores bit-identically to the batch index rows;
  *  2. serve it from a resident snapshot of the stored index in one
  *     codegen'd pass ([[graft.functions.IvfSqBest]]): route super→group
  *     with the ivf2 argmins to the nprobe=2 lists (the same (dist, id)
  *     tie-break as the batch ivf2Probes), look both lists up by cid,
  *     and pick the best quantized cosine inside them, excluding the
  *     arrival itself.
  *
  * The snapshot ([[graft.functions.IvfSqSnapshot]]) is the one-row
  * routing frame plus the stored index re-laid one-row-per-inverted-list
  * ([[graft.scale.Similarity.ivfSqStreamIndex]] — the contiguous list
  * layout FAISS serves from, each row O(list) ≈ 256 vectors), collected
  * once per [[nearDupStream]] call as Catalyst data and shipped with a
  * single broadcast. So the routing and the lists a stream serves come
  * from one build of the index, and no trigger re-reads the list table
  * or plans a stream-static join (whose per-trigger broadcast jobs cost
  * far more than the scoring itself).
  *
  * Per-arrival cost is exactly the index's serve promise — routing dots
  * + nprobe list scans. The snapshot is the stored int8 corpus (4×
  * smaller than the floats), collected once and held once per
  * executor; the collect is bounded by `spark.driver.maxResultSize`,
  * which fails loudly. An index past that size would shard the lists by cid across
  * executors. Nothing in the plan holds state, so parallelism is pure
  * executor count.
  */
object IndexNearDup {

  /** The snapshot of the stored index at `dir` that [[nearDupStream]]
    * serves, self-healing the index tables on a fresh JVM or a
    * rewritten corpus ([[graft.scale.Similarity.ivfSqStreamIndex]]). */
  private[graft] def snapshot(spark: SparkSession, dir: String): IvfSqSnapshot = {
    val (routing, lists) = graft.scale.Similarity.ivfSqStreamIndex(spark, dir)
    IvfSqSnapshot.collect(routing, lists)
  }

  /** The channel against the stored index at `dir`, over one
    * [[snapshot]] taken and broadcast per call; `arrivals` is a stream
    * or a batch of (vec_id BIGINT, v ARRAY<DOUBLE>, ts TIMESTAMP).
    * Emits one verdict row per arrival: near_dup iff some already-
    * indexed vector (other than itself) scores quantized cosine ≥ tau
    * within the probed lists. tau = 0.4 matches the batch embedding
    * near-dup family's threshold. */
  def nearDupStream(spark: SparkSession, dir: String, arrivals: DataFrame,
      tau: Double = 0.4): DataFrame = {
    import graft.functions.GraftFunctions.{dot, ivfSqBest, sq8}
    graft.functions.GraftFunctions.register(spark)
    val index = spark.sparkContext.broadcast(snapshot(spark, dir))
    // (1) arrival-side SQ8 quantization; (2) routing, list lookup and
    // best candidate: quantized cosine (integer dot — EXACT in float,
    // no summation-order hazard), self excluded, (cosine desc, vec_id
    // asc) tie-break like the batch stage-1 cut; a zero-norm
    // candidate's cosine is NULL and never wins
    arrivals
      .withColumn("aq", sq8(col("v")))
      .withColumn("aqn", sqrt(dot(col("aq"), col("aq"))))
      .withColumn("best", ivfSqBest(col("v"), col("aq"), col("aqn"), col("vec_id"), index))
      .select(col("vec_id"), col("ts"),
        when(col("best").getField("cos") >= tau,
          col("best").getField("vid")).as("match_id"),
        when(col("best").getField("cos") >= tau,
          round(col("best").getField("cos"), 6)).as("est_cosine"),
        when(col("best").getField("cos") >= tau, lit("near_dup"))
          .otherwise(lit("unique")).as("verdict"))
  }
}
