package graft.scale

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stored-table lifecycle every materialized ANN index (ivf2
  * routing, the sq8 int8 corpus, their ivfsq composition) runs, in one
  * place. An index is a directory of parquet tables plus a completion
  * marker; the lifecycle, in the order a deployment meets it:
  *
  *  1. BUILD ([[build]]) — drop the marker, write every table, then
  *     write the marker. The marker holds the key the tables were built
  *     for; a crash mid-build leaves no marker, never a half index
  *     behind a valid one.
  *  2. ENSURE ([[ensure]]) — the serve paths' entry: rebuild unless the
  *     marker holds the [[fingerprint]] of the corpus under the data
  *     dir, so a rewritten corpus is never served a stale index, while
  *     an unchanged one is built once per process.
  *  3. STAGE ([[stage]]) — copy a stored table into a scratch table
  *     range-clustered on vec_id into a fixed 8 files, the layout that
  *     keeps a cluster-key delete file-pruned (an unclustered table
  *     makes every file dirty and COW degenerates to a full rewrite).
  *  4. APPEND — `mode("append")` onto a built table: a pure file add,
  *     no existing part is rewritten (the index-specific writers in
  *     [[Similarity]]).
  *  5. COW DELETE ([[cowApply]]) — census the files holding doomed rows
  *     (a cluster-key predicate prunes clean files at the row-group
  *     stats), stage their survivors outside the table dir, commit a
  *     journal, swap.
  *  6. TOMBSTONE ([[tombstones]]) — merge-on-read instead: land only
  *     the doomed ids as a marker-gated sidecar; readers anti-join it
  *     ([[live]]) until a COW fold with [[Doomed.keys]] reclaims the
  *     bytes.
  *  7. CUTOVER ([[cutover]]) — publish a completed generation by an
  *     atomic rename of the `_GRAFT_CURRENT` pointer; the old generation
  *     stays on disk for in-flight readers.
  *
  * CRASH CONTRACT. A reader sees a complete index or none: the marker
  * is written last and checked first ([[ensure]], [[requireComplete]]),
  * the generation pointer moves by atomic rename only to a completed
  * generation, and the COW swap is journaled through
  * `_GRAFT_SWAP_PENDING` inside the table dir. [[cowPrepare]] stages
  * ALL surviving rows, hsyncs the journal and commits it by rename;
  * only [[cowRecover]] mutates the table, strictly roll-forward from
  * the journal, each filesystem op checked and idempotent. A kill
  * anywhere leaves one of two readable states: journal absent → the
  * table is byte-identical to pre-delete (staged files live outside
  * the dir, `_`-prefixed files are invisible to parquet reads); journal
  * present → the next [[cowRecover]] (run first by [[cowApply]], and by
  * any reader of a COW-maintained table) completes the identical swap.
  * The journal is synced, staged parts are closed by Spark's committer
  * without fsync: exact under process kills, best-effort under power
  * loss — the scope of a plain-parquet lakehouse commit without a
  * WAL'd metastore. */
private[graft] object StoredIndex {

  /** A stored parquet table and the explicit schema it is read with. */
  final case class Table(path: String, schema: String) {
    def read(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(path)
  }

  // ------------------------------------------------------------ marker
  private def completion(path: String): java.io.File =
    new java.io.File(s"$path/_GRAFT_INDEX_COMPLETE")

  /** The identity of the corpus under `dir`: names, sizes and mtimes of
    * `embeddings.parquet`'s files from one Hadoop listing — metadata
    * only, no Spark job. Spark's writer names part files uniquely, so
    * any rewrite changes it. */
  def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(s"$dir/embeddings.parquet")
    val listing = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(s => s"${s.getPath.getName}\t${s.getLen}\t${s.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Write the index at `path` unconditionally: invalidate, `write`,
    * then mark it complete for `key`. Returns `path`. */
  def build(path: String, key: String = "")(write: => Unit): String = {
    completion(path).delete() // invalidate before touching any table
    write
    java.nio.file.Files.write(completion(path).toPath, key.getBytes("UTF-8"))
    path
  }

  /** The index at `path` built from the corpus under `dir`: kept when
    * its marker holds the corpus's [[fingerprint]], (re)built otherwise
    * or when `rebuild` is set. Returns `path`. */
  def ensure(spark: SparkSession, dir: String, path: String, rebuild: Boolean = false)
      (write: => Unit): String = {
    val key = fingerprint(spark, dir)
    val m = completion(path)
    if (!rebuild && m.exists() &&
        new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8") == key) path
    else build(path, key)(write)
  }

  def requireComplete(path: String, what: String): Unit =
    require(completion(path).exists(), s"$what incomplete at $path")

  // ------------------------------------------------------- ivf2 tables
  /** Land the two-level index's three tables under `base` — the serve
    * index and every rebuild generation. `assigned` names the
    * assignment columns kept. */
  def writeIvf2(base: String, idx: Similarity.Ivf2Index, assigned: String*): Unit = {
    idx.supers.write.mode("overwrite").parquet(s"$base/supers")
    idx.groups.write.mode("overwrite").parquet(s"$base/groups")
    idx.assigned.select(assigned.map(col): _*).write.mode("overwrite").parquet(s"$base/assigned")
  }

  /** (supers, groups, (vec_id, cid) assignment) read back from `base`. */
  def readIvf2(spark: SparkSession, base: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.schema("sid BIGINT, sv ARRAY<DOUBLE>").parquet(s"$base/supers"),
      spark.read.schema("cid BIGINT, cv ARRAY<DOUBLE>, sid BIGINT").parquet(s"$base/groups"),
      spark.read.schema("vec_id BIGINT, cid BIGINT").parquet(s"$base/assigned"))

  // ----------------------------------------------------------- cutover
  private def pointer(root: String): java.io.File = new java.io.File(s"$root/_GRAFT_CURRENT")

  /** The live generation under `root` — None before the first cutover. */
  def currentGen(root: String): Option[String] = {
    val p = pointer(root)
    if (p.exists()) Some(new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8").trim)
    else None
  }

  /** Flip the pointer to the completed generation `gen`: tmp write +
    * ATOMIC_MOVE, so a reader sees the old pointer or the new one. */
  def cutover(root: String, gen: String): Unit = {
    requireComplete(s"$root/$gen", s"cutover target generation $gen")
    val tmp = java.nio.file.Paths.get(s"$root/_GRAFT_CURRENT.tmp")
    java.nio.file.Files.write(tmp, gen.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, pointer(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ----------------------------------------------------------- staging
  /** Copy `from` into the scratch table `(tag, dir)`, range-clustered
    * on vec_id into 8 files. The fixture stages 8 files; a production
    * table sizes file count from bytes like `annIvf2Compact` does. */
  def stage(spark: SparkSession, from: Table, tag: String, dir: String): Table = {
    val to = from.copy(path = graft.util.Scratch.path(tag, dir))
    from.read(spark).repartitionByRange(8, col("vec_id"))
      .write.mode("overwrite").parquet(to.path)
    to
  }

  // --------------------------------------------------------------- COW
  /** The doomed rows of a delete and their complement. */
  final case class Doomed(rows: DataFrame => DataFrame, survivors: DataFrame => DataFrame)
  object Doomed {
    /** A predicate, row-group-stats-prunable on the cluster key for the
      * census to stay file-pruned. */
    def where(p: Column): Doomed = Doomed(_.filter(p), _.filter(!p))
    /** A fit-sized id table: broadcast semi-join census, anti-join
      * survivors. Scattered ids touch every file — why merge-on-read
      * defers this to compaction. */
    def keys(ids: DataFrame): Doomed = Doomed(
      _.join(broadcast(ids), Seq("vec_id"), "left_semi"),
      _.join(broadcast(ids), Seq("vec_id"), "left_anti"))
  }

  /** COW delete: finish any interrupted swap, then prepare and swap. */
  def cowApply(spark: SparkSession, t: Table, doomed: Doomed): Unit = {
    cowRecover(spark, t.path)
    if (cowPrepare(spark, t, doomed)) cowRecover(spark, t.path)
  }

  /** Swap journal path. Its EXISTENCE is the commit point: written only
    * after every surviving row is staged. */
  def swapMarker(src: String): Path = new Path(src, "_GRAFT_SWAP_PENDING")

  /** Census the dirty files, stage their survivors OUTSIDE the table
    * dir, then commit the swap — a tab-separated journal (`R staged
    * dest` per part to adopt, `D path` per original to drop) written to
    * a temp name and atomically renamed to [[swapMarker]]. Returns
    * false (no journal, table untouched) when nothing is dirty. The
    * file-list collect is bounded by the table's file count, never its
    * row count. A crash in here leaves no journal; the orphan stage dir
    * is swept at exit by [[graft.util.Scratch]]. */
  def cowPrepare(spark: SparkSession, t: Table, doomed: Doomed): Boolean = {
    val src = t.path
    // the file-path metadata column is attached at the scan, BEFORE the
    // doomed-row selection runs (a filter sees through the projection;
    // the keyed semi-join could not request _metadata on its own output)
    val dirty = doomed.rows(t.read(spark)
        .withColumn("__graft_fp", col("_metadata.file_path")))
      .select(col("__graft_fp")).distinct()
      .collect().map(_.getString(0))
    if (dirty.isEmpty) return false
    val stage = graft.util.Scratch.register(s"$src.rewrite")
    doomed.survivors(spark.read.schema(t.schema).parquet(dirty.toIndexedSeq: _*))
      .write.mode("overwrite").parquet(stage)
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(stage))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getPath)
    val journal = parts.map(p => s"R\t$p\t${p.getName}") ++ dirty.map(d => s"D\t$d")
    val tmpMarker = new Path(src, "_GRAFT_SWAP_PENDING.tmp")
    val out = fs.create(tmpMarker, true)
    out.write((journal.mkString("\n") + "\n").getBytes("UTF-8"))
    // flush the journal to the device before the commit rename: without
    // it the marker's EXISTENCE could survive a power loss while its
    // CONTENT (or a staged part it references) sat in the page cache —
    // and roll-forward would adopt a truncated file. hsync() syncs where
    // the filesystem supports Syncable (HDFS, local RawLocalFileSystem)
    // and degrades to a flush elsewhere.
    out.hsync()
    out.close()
    require(fs.rename(tmpMarker, swapMarker(src)),
      s"COW swap: journal commit rename failed for $src")
    true
  }

  /** Roll forward from the committed journal: adopt every staged part
    * still at its staged path (an already-adopted one is skipped), drop
    * every dirty original still present, then clear the stage dir and
    * the journal. Every filesystem op that should succeed is REQUIRED
    * to (a false return raises instead of silently losing rows).
    * Idempotent; a no-journal call is a no-op. */
  def cowRecover(spark: SparkSession, src: String): Unit = {
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = swapMarker(src)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val journal = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    journal.foreach(_.split('\t') match {
      case Array("R", staged, destName) =>
        val s = new Path(staged)
        if (fs.exists(s))
          require(fs.rename(s, new Path(src, destName)),
            s"COW swap: adopt rename failed: $staged -> $src/$destName")
      case _ => ()
    })
    journal.foreach(_.split('\t') match {
      case Array("D", doomed) =>
        val d = new Path(doomed)
        if (fs.exists(d))
          require(fs.delete(d, false), s"COW swap: drop failed: $doomed")
      case _ => ()
    })
    val stage = new Path(s"$src.rewrite")
    if (fs.exists(stage)) fs.delete(stage, true)
    require(fs.delete(marker, false), s"COW swap: journal clear failed for $src")
  }

  // -------------------------------------------------------- tombstones
  /** Land the ids of `from` matching `doomed` as the tombstone sidecar
    * `(tag, dir)` — one tiny marker-gated file; `from` is untouched. */
  def tombstones(spark: SparkSession, from: Table, doomed: Column,
      tag: String, dir: String): String = {
    val tomb = graft.util.Scratch.path(tag, dir)
    build(tomb) {
      from.read(spark).filter(doomed).select(col("vec_id"))
        .coalesce(1).write.mode("overwrite").parquet(tomb)
    }
  }

  /** The sidecar's ids, refusing an incomplete one. */
  def tombstoneIds(spark: SparkSession, tomb: String): DataFrame = {
    requireComplete(tomb, "tombstone sidecar")
    spark.read.schema("vec_id BIGINT").parquet(tomb)
  }

  /** Merge on read: `df` without the tombstoned ids (broadcast anti-join). */
  def live(df: DataFrame, tombIds: DataFrame): DataFrame =
    df.join(broadcast(tombIds), Seq("vec_id"), "left_anti")

  // ---------------------------------------------------- ivfsq serve tail
  /** The composed IVF-SQ8 serve over a (vec_id, cid) assignment frame
    * and an int8 stage-1 frame: stored routing tables → quantized
    * probed-list scan → exact re-score. */
  def ivfSqServe(spark: SparkSession, dir: String, assigned: DataFrame,
      qcorpus: DataFrame): DataFrame = {
    val (supers, groups, _) = readIvf2(spark, Similarity.ivf2Stored(spark, dir))
    Similarity.sq8Rescore(spark, dir, Similarity.ivfSqScoredOver(spark, dir, supers, groups,
      assigned.select(col("vec_id"), col("cid")), qcorpus))
  }
}
