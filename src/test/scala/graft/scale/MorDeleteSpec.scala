package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `ann_ivfsq_delete_mor` / `ann_ivfsq_mor_fold` invariants beyond the
  * shared oracle's content check: the ZERO-REWRITE claim at delete
  * time (the whole point of merge-on-read — the eager COW row
  * full-rewrites both tables for the same purge), the deletion-vector
  * serve contract (tombstoned ids unservable while their bytes are
  * still in both tables), mechanism equivalence (MOR serve ≡ fold
  * serve ≡ eager COW, row for row), and the fold's physical claims
  * (sidecar retired, doomed bytes actually gone, no anti-join left in
  * the plan). */
class MorDeleteSpec extends SparkSpec {

  private def census(path: String): Map[String, (Long, Long)] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap

  test("MOR delete rewrites ZERO data files: both censuses byte-identical, sidecar tiny") {
    val asg = StoredIndex.stage(spark, Similarity.ivf2Assigned(spark, sfDir), "morspecA", sfDir)
    val qt = StoredIndex.stage(spark, Similarity.sq8Stored(spark, sfDir), "morspecQ", sfDir)
    val (a0, q0) = (census(asg.path), census(qt.path))
    assert(a0.nonEmpty && q0.nonEmpty, "staging must land files")
    val tomb = StoredIndex.tombstones(spark, asg, Similarity.ivfSqDoomed, "morspecT", sfDir)
    // the delete step is DONE here — name/length/mtime of every data
    // file in both halves must be untouched (the eager COW row
    // rewrites every file for this same scattered predicate)
    assert(census(asg.path) == a0, "MOR delete must not touch assignment files")
    assert(census(qt.path) == q0, "MOR delete must not touch int8 corpus files")
    // and the sidecar is purge-set-sized, not table-sized
    val tombBytes = census(tomb).values.map(_._1).sum
    val tableBytes = (a0.values ++ q0.values).map(_._1).sum
    assert(tombBytes > 0 && tombBytes < tableBytes / 10,
      s"sidecar must be a small fraction of the tables: $tombBytes vs $tableBytes")
    // deletion-vector contract: tombstoned ids are unservable even
    // though their bytes are still present in BOTH stored halves
    val served = Similarity.ivfSqMorServeRead(spark, sfDir, asg, qt, tomb)
    assert(served.filter(col("neighbor_id") % 20 === 13).isEmpty,
      "a tombstoned id must never be served")
    assert(served.count() > 0, "the post-delete index must still serve results")
    // mechanism equivalence: the anti-joined serve returns exactly the
    // eager COW row's results
    val eager = Similarity.annIvfSqDelete(spark, sfDir)
    assert(served.exceptAll(eager).isEmpty && eager.exceptAll(served).isEmpty,
      "merge-on-read serve must equal the eager COW delete, row for row")
    // the merge is a BROADCAST anti-join (purge sets are fit-sized —
    // the deletion-vector premise); a shuffled anti-join here would
    // put a corpus-sized exchange on the serve path
    val plan = served.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"),
      "tombstones must merge via broadcast anti-join:\n" + plan)
    Seq(asg.path, qt.path, tomb).foreach(graft.util.Scratch.cleanupPath)
  }

  test("fold applies tombstones through the keyed COW kernel and retires the sidecar") {
    val asg = StoredIndex.stage(spark, Similarity.ivf2Assigned(spark, sfDir), "foldspecA", sfDir)
    val qt = StoredIndex.stage(spark, Similarity.sq8Stored(spark, sfDir), "foldspecQ", sfDir)
    val tomb = StoredIndex.tombstones(spark, asg, Similarity.ivfSqDoomed, "foldspecT", sfDir)
    val nDoomed = spark.read.schema("vec_id BIGINT").parquet(tomb).count()
    assert(nDoomed > 0, "the fixture purge set must be non-empty")
    val keys = spark.read.schema("vec_id BIGINT").parquet(tomb)
    StoredIndex.cowApply(spark, asg, StoredIndex.Doomed.keys(keys))
    StoredIndex.cowApply(spark, qt, StoredIndex.Doomed.keys(keys))
    graft.util.Scratch.cleanupPath(tomb)
    // physical: the doomed bytes are genuinely gone from both halves
    val asgRows = asg.read(spark)
    val qtRows = qt.read(spark)
    assert(asgRows.filter(col("vec_id") % 20 === 13).isEmpty,
      "no doomed assignment row may survive the fold")
    assert(qtRows.filter(col("vec_id") % 20 === 13).isEmpty,
      "no doomed int8 row may survive the fold")
    val n = Similarity.corpusCount(spark, sfDir)
    assert(asgRows.count() == n - nDoomed && qtRows.count() == n - nDoomed,
      "every survivor must still be present in both halves")
    assert(!new java.io.File(tomb).exists(), "the folded sidecar must be retired")
    // the folded tables serve with NO anti-join anywhere in the plan —
    // the merge cost was paid once at compaction, not per query
    val folded = Similarity.sq8Rescore(spark, sfDir,
      Similarity.ivfSqScoredOver(spark, sfDir,
        Similarity.ivf2Index(spark, sfDir).supers,
        Similarity.ivf2Index(spark, sfDir).groups,
        asg.read(spark).select(col("vec_id"), col("cid")),
        qt.read(spark).select(col("vec_id"), Similarity.vecDouble(col("q")).as("q"), col("qn"))))
    val plan = folded.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("LeftAnti"),
      "the folded serve plan must carry no tombstone merge:\n" + plan)
    val eager = Similarity.annIvfSqDelete(spark, sfDir)
    assert(folded.exceptAll(eager).isEmpty && eager.exceptAll(folded).isEmpty,
      "the folded serve must equal the eager COW delete, row for row")
    Seq(asg.path, qt.path).foreach(graft.util.Scratch.cleanupPath)
  }
}
