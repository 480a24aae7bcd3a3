package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for per-(dir) derived indexes that multiple
  * registered queries read (cluster labels, the shingle-row index, ANN
  * ground truth): driver-side actions or cache() boundaries make
  * Spark's plan cache unable to deduplicate the repeat work by itself.
  *
  * Entries are STRONG references, evicted only by [[invalidateDir]].
  * Round 4 held them as SoftReferences and heap pressure
  * silently collected memoized frames mid-run: the localCheckpoint
  * blocks were GC-cleaned with the DataFrame and the index re-paid
  * non-deterministically, corrupting per-query bench attribution
  * (er_golden measured 3.2 s warm vs 0.5 s cold). The memo is bounded
  * by (#tags × #dirs) small checkpointed frames — index- not
  * corpus-sized — so deterministic retention is the right trade; a
  * checkpoint's blocks are MEMORY_AND_DISK and spill under pressure
  * without losing the frame.
  *
  * Locking is PER KEY (r16, the r15 advice item): the old single
  * global lock was held while `f` ran a full Spark job, so the
  * `Par.both` overlapped pipelines serialized the moment either branch
  * touched ANY memoized frame — one branch's build blocked even cache
  * HITS for unrelated (tag, dir) keys JVM-wide. Each key now computes
  * under its own holder's monitor; the shared map only ever takes a
  * brief bin lock to allocate a holder, so distinct builds overlap and
  * lookups never wait on someone else's job. (Nested getOrCompute
  * calls — one memo's build reading another memo — stay safe for the
  * same reason: map mutation never runs user code.) A build that
  * throws leaves its holder empty and is retried on the next call,
  * matching the old getOrElseUpdate semantics. */
private[graft] object DirMemo {
  private final class Holder(f: () => DataFrame) {
    @volatile private var v: DataFrame = _
    def df: DataFrame = {
      if (v == null) synchronized { if (v == null) v = f() }
      v
    }
    def computed: Option[DataFrame] = Option(v)
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Holder]()

  def getOrCompute(spark: SparkSession, tag: String, dir: String)
                  (f: => DataFrame): DataFrame =
    memo.computeIfAbsent((spark, tag, dir), _ => new Holder(() => f)).df

  /** Drop every memoized index derived from `dir` (all sessions, all
    * tags) — call after rewriting the data under it. */
  def invalidateDir(dir: String): Unit = {
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._3 == dir) {
        e.getValue.computed.foreach(_.unpersist())
        it.remove()
      }
    }
  }
}
