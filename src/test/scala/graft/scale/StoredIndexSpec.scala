package graft.scale

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.IndexNearDup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** The stored ANN indexes are keyed on the corpus they were built
  * from: rewriting `embeddings.parquet` under the same dir, in the same
  * JVM, must make every stored-index reader rebuild instead of serving
  * the index of the old corpus, and a new near-dup stream call serve a
  * snapshot of the new one. */
class StoredIndexSpec extends SparkSpec {

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def elementType(t: DataType): StructType = t match {
    case ArrayType(st: StructType, _) => st
    case other => fail(s"expected array<struct>, got $other")
  }

  private def rowsOf(a: ArrayData, t: DataType): Seq[Row] =
    CatalystTypeConverters.convertToScala(a, t).asInstanceOf[scala.collection.Seq[Row]].toSeq

  /** The elements of a Catalyst array<struct> as a frame. */
  private def frameOf(a: ArrayData, t: DataType): DataFrame =
    spark.createDataFrame(rowsOf(a, t).asJava, elementType(t))

  test("a rewritten corpus rebuilds every stored index before it is served") {
    val dir = java.nio.file.Files.createTempDirectory("graft_storedidx").toString
    val emb = s"$dir/embeddings.parquet"
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = src.count()
    try {
      src.write.mode("overwrite").parquet(emb)
      // build and serve every stored index over the first corpus
      Similarity.annSq8Serve(spark, dir).collect()
      Similarity.annIvf2Delete(spark, dir).collect()
      Similarity.annIvfSqServe(spark, dir).collect()
      Similarity.ivfSqStreamIndex(spark, dir)._2.collect()
      IndexNearDup.snapshot(spark, dir)

      // same dir, new corpus: each id takes the vector of id + 7, and
      // the last 20 ids are gone (so the memoized row count is stale too)
      src.select(((col("vec_id") + 7) % n).as("vec_id"), col("embedding"), col("label"))
        .filter(col("vec_id") < n - 20)
        .write.mode("overwrite").parquet(emb)
      spark.catalog.clearCache()
      DirMemo.invalidateDir(dir)

      val stale = Seq.newBuilder[String]
      def check(ok: Boolean, what: String): Unit = if (!ok) stale += what
      check(same(Similarity.sq8ServeRead(spark, dir), Similarity.annSq8Search(spark, dir)),
        "ann_sq8_serve served the int8 table of the old corpus")
      val idx = Similarity.ivf2Index(spark, dir)
      val fresh = Similarity.corpus(spark, dir).count()
      val liveAssign = idx.assigned.filter(col("vec_id") >= fresh / 20L)
        .select(col("vec_id"), col("cid").as("centroid_id"), round(col("d"), 6).as("dist_sq"))
      check(same(Similarity.annIvf2Delete(spark, dir), liveAssign),
        "ann_ivf2_delete staged the assignment table of the old corpus")
      check(same(Similarity.ivfSqServeRead(spark, dir), Similarity.annIvfSqSearch(spark, dir)),
        "ann_ivfsq_serve served the index of the old corpus")

      val (routing, lists) = Similarity.ivfSqStreamIndex(spark, dir)
      val storedLists = lists.select(col("cid"), explode(col("entries")).as("e"))
        .select(col("cid"), col("e.vec_id").as("vec_id"),
          transform(col("e.q"), _.cast("double")).as("q"), col("e.qn").as("qn"))
      val inlineLists = Similarity.sq8Corpus(spark, dir)
        .select(col("vec_id"), col("q"), col("qn"))
        .join(idx.assigned.select(col("vec_id"), col("cid")), "vec_id")
        .select(col("cid"), col("vec_id"), col("q"), col("qn"))
      check(same(storedLists, inlineLists),
        "ivfSqStreamIndex served the inverted lists of the old corpus")
      val storedSupers = routing.select(explode(col("supers")).as("s"))
        .select(col("s.sid").as("sid"), col("s.sv").as("sv"))
      val storedGroups = routing.select(explode(col("groups")).as("g"))
        .select(col("g.cid").as("cid"), col("g.cv").as("cv"), col("g.sid").as("sid"))
      check(same(storedSupers, idx.supers) && same(storedGroups, idx.groups),
        "ivfSqStreamIndex served the routing tables of the old corpus")

      // a new stream call serves a snapshot of the new corpus's index
      val snap = IndexNearDup.snapshot(spark, dir)
      val entryType = lists.schema("entries").dataType
      val snapLists = spark.createDataFrame(
          snap.lists.toSeq.flatMap { case (cid, es) => rowsOf(es, entryType).map(e => Row(cid +: e.toSeq: _*)) }.asJava,
          StructType(StructField("cid", LongType) +: elementType(entryType).fields))
        .select(col("cid"), col("vec_id"), transform(col("q"), _.cast("double")).as("q"), col("qn"))
      check(same(snapLists, inlineLists), "nearDupStream served the inverted lists of the old corpus")
      check(same(frameOf(snap.supers, routing.schema("supers").dataType), idx.supers) &&
        same(frameOf(snap.groups, routing.schema("groups").dataType), idx.groups),
        "nearDupStream served the routing tables of the old corpus")
      assert(stale.result().isEmpty, stale.result().mkString("\n"))
    } finally {
      spark.catalog.clearCache()
      DirMemo.invalidateDir(dir)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      graft.util.Scratch.registeredPaths.filter(_.contains(digest))
        .foreach(graft.util.Scratch.cleanupPath)
      graft.util.Scratch.cleanupPath(dir)
    }
  }
}
