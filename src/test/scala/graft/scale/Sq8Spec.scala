package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `ann_sq8_search` invariants beyond the oracle's content check: the
  * quantizer's range/anchor contract, the exactness of stage-2
  * re-scoring (quantization may reorder CANDIDATES, never the scores
  * of the survivors), and the recall the 10-wide candidate cut buys on
  * the fixture. */
class Sq8Spec extends SparkSpec {

  test("int8 quantizer: every cell in [-127,127], the max-|x| dim hits ±127, zero-safe") {
    val q = Similarity.sq8Corpus(spark, sfDir)
      .select(col("vec_id"), col("q"))
    val stats = q.select(
        max(array_max(transform(col("q"), x => abs(x)))).as("absmax"),
        min(array_max(transform(col("q"), x => abs(x)))).as("anchor"),
        sum(when(forall(col("q"), x => x === floor(x).cast("double")), 0)
          .otherwise(1)).as("nonint"))
      .head()
    assert(stats.getDouble(0) <= 127.0, "no quantized cell may exceed 127")
    // the max-|x| dim lands at ±127 up to floor's 1-ulp double-rounding
    // hazard ((x·127)/x can round to 126.999…, and the negative max to
    // -127-ulp — the clamp catches the latter), so the anchor bound is
    // 126, not an exact 127: corpus-independent, unlike the old ==127
    assert(stats.getDouble(1) >= 126.0, "each vector must anchor its scale near ±127")
    assert(stats.getLong(2) == 0L, "every quantized cell must be an exact integer")
  }

  test("serve path: stored-int8 stage 1 is bit-identical to the inline search") {
    val served = Similarity.annSq8Serve(spark, sfDir)
    val inline = Similarity.annSq8Search(spark, sfDir)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty,
      "TINYINT round-trip must not change a single row")
    // the physical claim: the warm read's stage-1 scan reads the stored
    // quantized table (TINYINT schema over the scratch path), not the
    // embeddings parquet re-quantized inline
    val plan = Similarity.sq8ServeRead(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val tmp = Similarity.sq8ServePath(sfDir)
    assert(plan.contains(tmp), "stage 1 must scan the materialized qtable:\n" + plan)
    graft.util.Scratch.cleanupPath(tmp)
  }

  test("stage-2 re-scoring is exact: surviving (query, neighbor) cosines equal brute force") {
    val sq8 = Similarity.annSq8Search(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val brute = Similarity.annBruteForce(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("bcos"))
    val joined = sq8.join(brute, Seq("query_id", "neighbor_id"))
    // every sq8 winner that brute force also ranked must carry the
    // IDENTICAL exact cosine — stage 2 is not approximate
    assert(joined.filter(col("cosine") =!= col("bcos")).isEmpty,
      "re-scored cosines must be bit-identical to exact search")
    // 10-wide candidates at 127-level resolution: top-3 recall vs
    // exact must be high; on the deterministic fixture pin ≥ 2/3 per
    // query (quantization may legitimately swap a near-tie boundary)
    val perQuery = joined.groupBy(col("query_id")).count()
    assert(perQuery.filter(col("count") < 2).isEmpty,
      "each query must recover at least 2 of the exact top-3")
  }

  test("IVF-SQ8 composition: results come only from probed lists, re-scored exactly") {
    val ivfsq = Similarity.annIvfSqSearch(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    // routing containment, asserted against the ROUTING-DEFINED
    // candidate population (assignment table joined to the per-query
    // probe set — computed independently of the quantized scan kernel):
    // an ivfsq winner outside it means the quantized list scan leaked a
    // vector routing never probed
    val idx = Similarity.ivf2Index(spark, sfDir)
    val allowed = idx.assigned.select(col("vec_id"), col("cid"))
      .join(Similarity.ivf2Probes(idx.c, idx.supers, idx.groups)
        .select(col("query_id"), col("cid")), Seq("cid"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    assert(ivfsq.select(col("query_id"), col("neighbor_id"))
      .exceptAll(allowed).isEmpty,
      "every IVF-SQ8 winner must lie in a probed list for its query")
    val exactCand = Similarity.annBruteForce(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("bcos"))
    val joined = ivfsq.join(exactCand, Seq("query_id", "neighbor_id"))
    // stage-2 exactness carries through the composition: any ivfsq
    // winner brute force also ranked carries the IDENTICAL cosine
    assert(joined.filter(col("cosine") =!= col("bcos")).isEmpty,
      "IVF-SQ8 re-scored cosines must be bit-identical to exact search")
    // and the top-1 per query must agree with the exact probed scan's
    // top-1 (127-level quantization cannot reorder a clear winner on
    // this fixture; deeper ranks may legitimately swap near-ties)
    val sqTop1 = ivfsq.join(Similarity.annIvfSqSearch(spark, sfDir)
        .filter(col("rank") === 1).select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"))
    val ivfTop1 = Similarity.annIvf2Search(spark, sfDir)
      .filter(col("rank") === 1).select(col("query_id"), col("neighbor_id"))
    assert(sqTop1.select(col("query_id"), col("neighbor_id"))
      .exceptAll(ivfTop1).isEmpty,
      "per-query top-1 must match the exact probed scan")
  }

  test("IVF-SQ8 serve: stored routing tables + stored int8 corpus, bit-identical") {
    val served = Similarity.annIvfSqServe(spark, sfDir)
    val inline = Similarity.annIvfSqSearch(spark, sfDir)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty,
      "the composed serve path must not change a single row")
    // both stored halves must appear in the warm read's scan set
    val plan = Similarity.ivfSqServeRead(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains(Similarity.ivf2ServePath(sfDir)),
      "routing must read the stored ivf2 index:\n" + plan)
    assert(plan.contains(Similarity.sq8ServePath(sfDir)),
      "the probed-list scan must read the stored int8 corpus:\n" + plan)
    graft.util.Scratch.cleanupPath(Similarity.ivf2ServePath(sfDir))
    graft.util.Scratch.cleanupPath(Similarity.sq8ServePath(sfDir))
  }

  test("append is a pure file add: day-0 files byte-identical, read-back = full-build search") {
    val tmp = Similarity.sq8AppendDay0(spark, sfDir)
    def snapshot(): Map[String, (Long, Long)] =
      Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val day0 = snapshot()
    assert(day0.nonEmpty, "day-0 build must land files")
    Similarity.sq8AppendBatch(spark, sfDir, tmp)
    val after = snapshot()
    // no-rewrite contract: every day-0 part survives the append with
    // identical length and mtime; the batch only ADDS files
    day0.foreach { case (name, sig) =>
      assert(after.get(name).contains(sig),
        s"append must not rewrite day-0 part $name") }
    assert(after.size > day0.size, "the appended batch must add files")
    // and the appended table searches identically to a full build
    // (batch ≡ incremental: per-vector quantization has no corpus state)
    val appended = Similarity.annSq8Append(spark, sfDir)
    val full = Similarity.annSq8Search(spark, sfDir)
    assert(appended.exceptAll(full).isEmpty && full.exceptAll(appended).isEmpty,
      "search over the appended table must equal the full-build search")
    // the COMPOSED index over the appended corpus: routing from the
    // in-plan ivf2 frames + quantized lists from the appended qtable
    // must be bit-identical to the self-contained ivfsq search — the
    // end-to-end ingest claim (routing appends via ann_ivf2_append,
    // corpus bytes via this row, results unchanged)
    val qview = spark.read.schema(Similarity.sq8Schema).parquet(tmp)
      .select(col("vec_id"), Similarity.vecDouble(col("q")).as("q"), col("qn"))
    val idx = Similarity.ivf2Index(spark, sfDir)
    val composed = Similarity.sq8Rescore(spark, sfDir,
      Similarity.ivfSqScoredOver(spark, sfDir, idx.supers, idx.groups,
        idx.assigned.select(col("vec_id"), col("cid")), qview))
    val inline = Similarity.annIvfSqSearch(spark, sfDir)
    assert(composed.exceptAll(inline).isEmpty && inline.exceptAll(composed).isEmpty,
      "IVF-SQ8 over the appended qtable must equal the self-contained search")
    graft.util.Scratch.cleanupPath(tmp)
  }

  test("corpus delete: a deleted vec_id's int8 row is gone and can never be served") {
    val src = StoredIndex.stage(spark, Similarity.sq8Stored(spark, sfDir), "sq8del", sfDir)
    val cutoff = Similarity.corpusCount(spark, sfDir) / 20L
    StoredIndex.cowApply(spark, src, StoredIndex.Doomed.where(col("vec_id") < cutoff))
    val survivors = src.read(spark)
    assert(survivors.filter(col("vec_id") < cutoff).isEmpty,
      "no doomed int8 row may survive the COW swap")
    assert(survivors.filter(col("vec_id") >= cutoff).count() ==
      Similarity.corpusCount(spark, sfDir) - cutoff,
      "every surviving row must still be present")
    graft.util.Scratch.cleanupPath(src.path)
  }

  test("tombstone-proof: an assignment-table delete alone already bars a vec_id from composed IVF-SQ8 output") {
    // the composed index's stage 1 inner-joins the assignment table, so
    // a routing-only delete (the int8 row still in the qtable) must be
    // enough to keep the deleted ids out of served results — the
    // contract annIvfSqServe's scaladoc pins for the window between the
    // routing delete landing and the corpus delete landing
    val src = StoredIndex.stage(spark, Similarity.ivf2Assigned(spark, sfDir), "ivf2del", sfDir)
    val cutoff = Similarity.corpusCount(spark, sfDir) / 20L
    StoredIndex.cowApply(spark, src, StoredIndex.Doomed.where(col("vec_id") < cutoff))
    val assigned = src.read(spark).select(col("vec_id"), col("cid"))
    val idx = Similarity.ivf2Index(spark, sfDir)
    val served = Similarity.sq8Rescore(spark, sfDir,
      Similarity.ivfSqScoredOver(spark, sfDir, idx.supers, idx.groups, assigned,
        Similarity.sq8Corpus(spark, sfDir).select(col("vec_id"), col("q"), col("qn"))))
    assert(served.filter(col("neighbor_id") < cutoff).isEmpty,
      "a vec_id deleted from the assignment table must never be served")
    assert(served.count() > 0, "the post-delete index must still serve results")
    graft.util.Scratch.cleanupPath(src.path)
  }

  test("serve plans touch the float table only in stage 2 (queries come from the stored qtable)") {
    def embScans(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      "embeddings\\.parquet".r.findAllIn(plan).length
    }
    // sq8 serve: stage 1 (corpus scan + quantized queries) reads the
    // stored int8 table; embeddings appears only for stage 2's exact
    // fetch and exact query rows — 2 scans, not 3
    assert(embScans(Similarity.sq8ServeRead(spark, sfDir)) <= 2,
      "sq8 serve must not re-quantize queries from the float table")
    // composed serve: + 1 scan for exact float ROUTING (by design —
    // routing tables are k-sized; compressing the query side of routing
    // buys nothing and would quantize the argmins)
    assert(embScans(Similarity.ivfSqServeRead(spark, sfDir)) <= 3,
      "ivfsq serve must read embeddings only for routing + stage 2")
    graft.util.Scratch.cleanupPath(Similarity.ivf2ServePath(sfDir))
    graft.util.Scratch.cleanupPath(Similarity.sq8ServePath(sfDir))
  }

  test("the storage claim is physical: a stored int8 table is a fraction of the float table") {
    // the scan-size win the operator's scaladoc claims, measured on
    // disk: the same vectors written as ARRAY<TINYINT> (the stored
    // form a deployment scans in stage 1) vs ARRAY<DOUBLE>. Random
    // doubles are incompressible (~8 B/dim); int8 cells bit-pack.
    val dir = graft.util.Scratch.path("sq8bytes", sfDir)
    val c = Similarity.sq8Corpus(spark, sfDir)
    c.select(col("vec_id"), transform(col("q"), x => x.cast("tinyint")).as("q"))
      .write.mode("overwrite").parquet(s"$dir/q8")
    c.select(col("vec_id"), col("v"))
      .write.mode("overwrite").parquet(s"$dir/f64")
    def bytes(p: String): Long =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (q8b, f64b) = (bytes(s"$dir/q8"), bytes(s"$dir/f64"))
    assert(q8b > 0 && f64b > 0)
    assert(q8b.toDouble / f64b < 0.45,
      f"quantized table must be well under half the float table: " +
        f"$q8b vs $f64b (${q8b.toDouble / f64b}%.2f)")
    graft.util.Scratch.cleanupPath(dir)
  }
}
