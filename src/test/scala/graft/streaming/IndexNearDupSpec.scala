package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode

/** The streamed near-dup-against-the-stored-index channel: batch
  * equivalence against an INDEPENDENT mirror (joins + windows on the
  * higher-order-function arithmetic, where the channel runs codegen'd
  * kernels) across micro-batch boundaries, the statelessness that is
  * the channel's scale claim, and the per-trigger plan: one map-only
  * job running the kernels, with no join, broadcast or shuffle. */
class IndexNearDupSpec extends SparkSpec {

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

  private val tau = 0.4

  /** Arrivals: every 7th corpus id (present in the index — self must be
    * excluded) plus two synthetic ids NOT in the index: one the exact
    * negation of a corpus vector (cosine −1 to it: must come out
    * `unique`), one a corpus vector nudged by a tiny rotation-free
    * perturbation (stays near-dup to its source). */
  private def arrivalRows(): Seq[(Long, Seq[Double], java.sql.Timestamp)] = {
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    val streamed = base.filter(_._1 % 7 == 3)
      .map { case (id, v) => (id, v, ts(id % 60)) }
    val free = base.map(_._1).max + 1 // ids NOT in the index
    val neg = (free, base.head._2.map(x => -x), ts(61))
    val nudged = (free + 1, base(1)._2.map(_ * 0.999), ts(62))
    nudgedSource = base(1)._1
    (streamed :+ neg :+ nudged).toSeq
  }
  /** vec_id the nudged synthetic arrival was derived from. */
  private var nudgedSource: Long = -1L

  /** The independent batch mirror: same scalar arithmetic, structurally
    * different plan — quantization re-written here, routing via windows
    * (row_number over (d, id)) instead of array_sort folds, candidates
    * via explode + equi-join instead of twin list joins, best via a
    * window instead of an aggregate fold. */
  private def mirror(arrivals: DataFrame): DataFrame = {
    val (routing, lists) =
      graft.scale.Similarity.ivfSqStreamIndex(spark, sfDir)
    val supers = routing.select(explode(col("supers")).as("s"))
      .select(col("s.sid").as("sid"), col("s.sv").as("sv"))
    val groups = routing.select(explode(col("groups")).as("g"))
      .select(col("g.cid").as("cid"), col("g.cv").as("cv"), col("g.sid").as("sid"))
    val flat = lists.select(col("cid"), explode(col("entries")).as("e"))
      .select(col("cid"), col("e.vec_id").as("cand_id"),
        transform(col("e.q"), x => x.cast("double")).as("cq"),
        col("e.qn").as("cqn"))
    val gdot = graft.functions.GraftFunctions.dot _
    def sqd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, t) => s + t)
    val q = arrivals
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("aq", when(col("ma") > 0,
          transform(col("v"), x => greatest(lit(-127.0),
            least(lit(127.0), floor(x * lit(127.0) / col("ma")).cast("double")))))
        .otherwise(transform(col("v"), _ => lit(0.0))))
      .withColumn("aqn", sqrt(gdot(col("aq"), col("aq"))))
    val sup2 = q.crossJoin(supers)
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(sqd(col("v"), col("sv")), col("sid"))))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("v"), col("aq"), col("aqn"), col("sid"))
    val probes = sup2.join(groups, "sid")
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(sqd(col("v"), col("cv")), col("cid"))))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("aq"), col("aqn"), col("cid"))
    val best = probes.join(flat, "cid")
      .filter(col("cand_id") =!= col("vec_id"))
      .withColumn("cos", gdot(col("cq"), col("aq")) /
        nullif(col("cqn") * col("aqn"), lit(0.0)))
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc_nulls_last, col("cand_id"))))
      .filter(col("rk") === 1 && col("cos").isNotNull)
      .select(col("vec_id"), col("cand_id"), col("cos"))
    arrivals.select(col("vec_id"), col("ts"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("ts"),
        when(col("cos") >= tau, col("cand_id")).as("match_id"),
        when(col("cos") >= tau, round(col("cos"), 6)).as("est_cosine"),
        when(col("cos") >= tau, lit("near_dup")).otherwise(lit("unique"))
          .as("verdict"))
  }

  test("streamed verdicts equal the independent batch mirror across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = arrivalRows()
    assert(rows.length > 50, "fixture must exercise the channel meaningfully")
    val mem = MemoryStream[(Long, Seq[Double], java.sql.Timestamp)]
    val q = IndexNearDup.nearDupStream(spark, sfDir,
        mem.toDF().toDF("vec_id", "v", "ts"), tau)
      .writeStream.format("memory").queryName("neardup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      // three micro-batches: the channel is stateless, so boundaries
      // must be invisible in the output
      val (a, rest) = rows.splitAt(rows.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
      mem.addData(c: _*); q.processAllAvailable()
      val streamed = spark.table("neardup_t")
      val expected = mirror(rows.toDF("vec_id", "v", "ts"))
      assert(streamed.count() == rows.length, "one verdict row per arrival")
      assert(streamed.exceptAll(expected).count() == 0 &&
        expected.exceptAll(streamed).count() == 0,
        "streamed verdicts must match the batch mirror exactly")
      // the fixture must exercise BOTH verdicts or the test proves little
      val verdicts = streamed.groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(verdicts.getOrElse("near_dup", 0L) > 0, "no near-dup exercised")
      assert(verdicts.getOrElse("unique", 0L) > 0, "no unique exercised")
      // the nudged copy routes with its source's direction and must
      // match it (the SQ8 code ratios are scale-invariant up to float
      // dither, leaving its quantized cosine ≈ 1 ≫ tau)
      val byId = streamed.collect()
        .map(r => r.getLong(0) -> (r.getString(4), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      assert(byId(rows.last._1)._1 == "near_dup" && byId(rows.last._1)._2 == nudgedSource,
        s"the 0.999-scaled copy of vec $nudgedSource must near-dup to it")
      // statelessness IS the scale claim: no state store in the plan
      assert(q.lastProgress.stateOperators.isEmpty,
        "the serve plan must hold zero streaming state")
    } finally q.stop()
  }

  test("a micro-batch runs the codegen'd kernels, no HOF, and shuffles nothing") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = arrivalRows()
    val mem = MemoryStream[(Long, Seq[Double], java.sql.Timestamp)]
    val q = IndexNearDup.nearDupStream(spark, sfDir,
        mem.toDF().toDF("vec_id", "v", "ts"), tau)
      .writeStream.format("memory").queryName("neardup_plan")
      .outputMode(OutputMode.Append()).start()
    val listener = new graft.obs.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a: _*); q.processAllAvailable()
      val (before, sb) = listener.quiesce()
      mem.addData(b: _*); q.processAllAvailable()
      val (after, sa) = listener.quiesce()
      assert(sb && sa, "listener must settle around the micro-batch")
      assert(after.jobs - before.jobs == 1,
        s"a micro-batch must run one job, ran ${after.jobs - before.jobs}")
      assert(after.shuffleWrite == before.shuffleWrite,
        s"a micro-batch must shuffle nothing, wrote ${after.shuffleWrite - before.shuffleWrite} bytes")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      // descend into AQE query stages, should any appear
      val nodes = new AdaptiveSparkPlanHelper {}.collect(plan) { case p => p }
      val staticSide = nodes.map(_.getClass.getSimpleName).filter(n => n.contains("Join") ||
        Set("BroadcastExchangeExec", "BroadcastQueryStageExec", "AdaptiveSparkPlanExec")(n))
      assert(staticSide.isEmpty, s"the serve plan must hold no join, broadcast or AQE node: $staticSide")
      val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e.getClass.getSimpleName })
      val hofs = Set("ArraySort", "ArrayAggregate", "ArrayTransform", "ArrayFilter",
        "ArrayExists", "ZipWith")
      assert(exprs.filter(hofs).isEmpty, s"interpreted HOFs in the serve plan: ${exprs.filter(hofs)}")
      Seq("Sq8Quantize", "IvfSqBest").foreach(k =>
        assert(exprs.contains(k), s"$k missing from the serve plan"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      q.stop()
    }
  }

  test("the same channel function over batch input gives the same rows") {
    import spark.implicits._
    val rows = arrivalRows()
    val batch = IndexNearDup.nearDupStream(spark, sfDir, rows.toDF("vec_id", "v", "ts"), tau)
    val expected = mirror(rows.toDF("vec_id", "v", "ts"))
    assert(batch.exceptAll(expected).count() == 0 &&
      expected.exceptAll(batch).count() == 0,
      "batch invocation must equal the mirror too")
  }
}
