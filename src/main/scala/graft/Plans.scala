package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for a representative query per plan
  * family into PLANS.md — the artifact that shows the physical shapes
  * (pushdown, broadcast, single window exchange, group limits, the
  * custom as-of exec) without running anything.
  *
  * Usage: `sbt "runMain graft.Plans [outFile]"`. */
object Plans {
  private val picks = Seq(
    "q1_agg"              -> "partial+final hash aggregate, pushed filter",
    "s10_range_scan"      -> "predicate pushdown + column pruning at the scan",
    "w24_roll_stats"      -> "indicator suite: ONE window exchange over the candle agg",
    "pipeline_full"       -> "4-stage save path fused into one lazy plan",
    "j1_enrich_join"      -> "dimension broadcast join",
    "j5_skew_salted"      -> "salted skew join: explode below, salt in the keys",
    "j8_asof_exec"        -> "custom AsOfJoinExec: sort+exchange per side, merge walk",
    "o4_topk_group"       -> "native partial+final WindowGroupLimit",
    "dedup_minhash_lsh"   -> "band-bucket join: docs x bands, never docs^2",
    "dedup_containment"   -> "prefix-filter candidates + codegen'd merge verify",
    "ann_ivf_search"      -> "broadcast centroids, list-probe join, re-rank",
    "curriculum_order"    -> "two-phase global rank: bucket histogram + partitioned row_number",
    "layout_zorder"       -> "z-value map stage + one manifest aggregate",
    "sample_mixture"      -> "census broadcast back over the corpus, no corpus shuffle",
    "chunk_documents"     -> "context-window chunking: pure map-side explode, zero exchanges",
    "chunk_documents_gen" -> "same chunking through the custom Generator (UDTF tier)",
    "quality_calibrate"   -> "fit-small/broadcast-apply quantile calibration, no corpus sort",
    "sk_hll_rollup"       -> "mergeable daily HLL sketches unioned into the month row",
    "graph_pagerank"      -> ("fixed-point PageRank, integer units. ADAPTIVE: below 100k edges " +
      "the fit replays driver-side (bit-exact - the plan here is the resulting local relation); " +
      "above it, the checkpointed distributed rounds run (GraphOps.scala:37)"),
    "q3_star_join"        -> "star join: broadcast dims over the fact scan, filters pushed",
    "er_candidates"       -> "blocked ER self-join: equi-join on block keys, never corpus^2",
    "q5_local_supplier"   -> "multi-way reorder: broadcast dim chains + local-supplier residual",
    "text_bigram_nll"     -> "bigram LM: map-side pair rows (zip-with-tail), AQE-chosen count join",
    "t8_client_fanout"    -> "T8 fan-out: broadcast client set, per-(client,channel,day) budget window",
    "ann_ivf_assign"      -> "centroid assignment as hash-aggregate argmin: partial-combines map-side, no sort",
    "ann_ivf2_assign"     -> ("two-level IVF assignment: supers broadcast twice (centroid routing, " +
      "vector routing), group-local exact argmin — three hash aggregates, zero sorts, n*(k1 + k/k1) dots"),
    "ann_ivf2_search"     -> ("two-level IVF search: query routes super->group->list (k1 + 2k/k1 dots, " +
      "never k), tiny probe frames broadcast into ONE corpus-sized list join"),
    "ann_lsh_mp_search"   -> ("multi-table multi-probe LSH: all L buckets per row from ONE codegen'd " +
      "LshBuckets pass (r12 — the composed 80-node when/dot tree fell out of codegen at sf10) then " +
      "L-row explode, Hamming<=1 probe set broadcast, cross-table dedup, exact re-rank"),
    "ann_ivf2_serve"      -> ("two-level IVF PRODUCTION shape: index materialized once, search " +
      "reads the stored tables — the 4 build-time nested-loop stages collapse to the single " +
      "query->super routing broadcast, and the (vec_id, cid) assignment broadcasts (known small " +
      "size), so the corpus never shuffles"),
    "ann_sq8_search"      -> ("scalar-quantized ANN (r12): stage 1 scans ONLY the (vec_id, q, qn) " +
      "projection of the int8-quantized corpus against the broadcast query set; stage 2 fetches " +
      "the <=10/query winners' exact vectors through equi-joins and re-ranks — the float corpus " +
      "never enters the corpus-sized join"),
    "ann_sq8_serve"       -> ("SQ8 PRODUCTION shape (r13): stage 1 reads the STORED " +
      "(vec_id, q TINYINT[], qn) parquet — the 4x-smaller scan that is SQ8's point — instead of " +
      "re-quantizing the float corpus inline; since r14 the quantized QUERY rows also come from " +
      "the stored table, so embeddings appears only in stage 2 (exact fetch + exact query rows)"),
    "ann_sq8_append"      -> ("SQ8 corpus ingest (r14, the FAISS add contract's corpus half): " +
      "day-0 quantize-and-write + batch quantize-and-APPEND — the vec_id slice filters push " +
      "through the quantization to the embeddings scan, so each write job quantizes only its " +
      "slice and the append adds files without touching day-0 parts; the read-back runs the " +
      "identical two-stage search plan as ann_sq8_search over the stored table"),
    "ann_sq8_delete"      -> ("SQ8 corpus COW delete (r14, FAISS remove_ids' code half): dirty-" +
      "file census with vec_id<cutoff pushed to row-group stats on the range-clustered int8 " +
      "table (clean files IO-pruned), surviving rows of dirty files rewritten, journaled swap; " +
      "the read-back projects survivors to integer-exact scalars — no corpus-sized join anywhere"),
    "ann_ivfsq_delete"    -> ("composed IVF-SQ8 delete (r14, end-to-end remove_ids): one SCATTERED " +
      "purge predicate (vec_id%20=13) COW-deleted from BOTH stored halves (assignment + int8 corpus), " +
      "then the composed search over the post-delete staged tables — candidates join the purged " +
      "assignment so deleted ids cannot route, and the purged qtable so they cannot score"),
    "ann_opq_search"      -> ("OPQ (r14): PQ's ADC plan behind the fixed orthogonal Hadamard-with-" +
      "signs rotation — the 4096-term projection (the row's real cost) is ONE codegen'd column " +
      "expression in the corpus scan's Project, map-side, adding ZERO exchanges over vanilla PQ; " +
      "the stored-rotated-corpus serve variant exists if the projection ever dominates"),
    "ann_ivf2_rebuild"    -> ("index RETRAIN-AND-SWAP (r15, the staleness census's executor): the " +
      "stale day-0 generation and the retrained one are built ASIDE behind completion markers, " +
      "the cutover is one atomic pointer rename, and THIS plan — the serve read through the " +
      "pointer — is just the stored-table ivf2 serve shape: the rebuild never touches the serve path"),
    "ann_ivfsq_delete_mor" -> ("MERGE-ON-READ composed delete (r15, the deletion-vector mechanism): " +
      "delete time writes ONLY the tombstone sidecar; the serve plan anti-joins the BROADCAST " +
      "sidecar into BOTH stored halves (BroadcastHashJoin LeftAnti, no shuffle added) before the " +
      "composed search — O(purge set) delete cost where the COW row full-rewrites both tables"),
    "ann_ivfsq_mor_fold"  -> ("the FOLD half of merge-on-read (r15, OPTIMIZE folding deletion " +
      "vectors): the keyed COW kernel selects doomed rows by broadcast semi-join against the " +
      "sidecar, rewrites, swaps; the post-fold serve is the PLAIN composed search — the anti-joins " +
      "are gone from the plan because the bytes are gone from the table"),
    "ann_ivfsq_search"    -> ("IVF-SQ8 composed index (r13, FAISS IVF<k>,SQ8): the ivf2 routing " +
      "argmins pick nprobe=2 lists, the probed lists scan QUANTIZED through equi-joins on " +
      "(cid)/(vec_id) — zero new nested loops — and the <=10/query winners re-score exact; " +
      "the nprobe/k row cut and the 4x byte cut compound in the corpus-sized stage"),
    "ann_ivfsq_serve"     -> ("IVF-SQ8 FULL production composition (r13): routing reads the " +
      "stored ivf2 tables, the probed lists read the stored TINYINT corpus — the 4 build-time " +
      "nested loops collapse to the single query->super broadcast and NOTHING recomputes; " +
      "steady-state = routing dots + nprobe/k quantized scan + <=10/query exact re-score"),
    "epoch_shuffle"       -> "deterministic epoch permutation: shard hash partition + per-shard window, no global sort",
    "imp_permutation"     -> "permutation importance: moments broadcast + co-partitioned shift join, ONE aggregate",
    "w40_pivot_points"    -> "day-level fit frame joined back to the intraday fact, no fact window",
    "graph_deep_chain"    -> ("FORCED distributed connected components (driverEdgeCap=0): the " +
      "labels are the pointer-doubling loop's checkpointed fixpoint (LogicalRDD) joined back " +
      "to the node frame — plain propagation would throw at the 12-round cap"),
    "w41_renko"           -> "per-user brick-size fit BROADCAST onto the sorted-group fold (typed state machine)",
    "graph_triangles"     -> ("triangle census, DEGREE-ORIENTED: edges point low-(deg,id) to high, " +
      "wedges enumerate from out-neighbors only (arboricity-bounded — hubs fan out zero wedges), " +
      "closing edge checked by one semi-join"),
    "text_zipf"           -> "one corpus token aggregate; rank window + OLS run on the vocab-sized frame only",
    "profile_histograms"  -> ("per-column histograms: 3-row min/max fit BROADCAST back, pure-BIGINT " +
      "bucketing, one grouped count — two scans, shuffle no wider than columns x buckets"),
    "pack_next_fit"       -> ("next-fit sequence packing: token counts map-side, ONE sort-group " +
      "exchange on the (lang, source) shard key, O(1) fold state"),
    "graph_core_numbers"  -> ("nested k-core peel: each level's fixpoint is a checkpointed " +
      "LogicalRDD feeding the next level; the plan shows the final max(k) fold over the " +
      "node-sized per-level survivor frames"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = EngineConf.local(4, 8)
    spark.sparkContext.setLogLevel("ERROR")
    // Memoized queries serve a localCheckpoint whose plan is just an
    // ExistingRDD scan; for those, show the build-time impl plan — the
    // shape that actually runs (once) per session.
    val qs = SparkEntry.queries ++ SparkEntry.benchImpls
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.Plans` at $sfDir; one pick per plan family.\n")
    picks.foreach { case (name, why) =>
      qs.get(name).foreach { fn =>
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        sb.append(s"\n## $name — $why\n\n```\n$plan```\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out (${picks.size} plans)")
    spark.stop()
  }
}
