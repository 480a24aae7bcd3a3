package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Entry of an inverted list, as stored: (vec_id, int8 codes, code norm). */
case class NdEntry(vec_id: Option[Long], q: Option[Seq[Option[Byte]]], qn: Option[Double])
case class NdSuper(sid: Option[Long], sv: Option[Seq[Option[Double]]])
case class NdGroup(cid: Option[Long], cv: Option[Seq[Option[Double]]], sid: Option[Long])
case class NdRoute(tag: String, v: Option[Seq[Option[Double]]],
    supers: Option[Seq[Option[NdSuper]]], groups: Option[Seq[Option[NdGroup]]])
case class NdServe(tag: String, vec_id: Option[Long], v: Option[Seq[Option[Double]]])
case class NdArrival(tag: String, aq: Option[Seq[Option[Double]]], aqn: Option[Double],
    vec_id: Option[Long], e1: Option[Seq[Option[NdEntry]]], e2: Option[Seq[Option[NdEntry]]])

/** The near-dup serve kernels ([[Sq8Quantize]], [[IvfProbe]],
  * [[Sq8Best]]) against the higher-order-function forms they replaced
  * — kept here verbatim as the reference — and [[IvfSqBest]] against
  * the join form it replaced (probe, two left list joins on the probed
  * cids, best fold), on fixture embeddings and
  * the stored index, plus adversarial rows: distance ties only the id
  * breaks, a single-list index, null and empty candidate arrays,
  * zero-norm candidates and arrivals, an arrival whose best match is
  * itself, and the null-element / arity contract of each scaladoc.
  * Every comparison runs twice: generated code only (no fallback), and
  * interpreted only. Doubles compare by raw bits. */
class NearDupKernelsSpec extends SparkSpec {

  private def ivfProbe(v: Column, supers: Column, groups: Column): Column =
    call_function("graft_ivf_probe", v, supers, groups)

  private def sq8Best(aq: Column, aqn: Column, self: Column, lists: Column*): Column =
    call_function("graft_sq8_best", aq +: aqn +: self +: lists: _*)

  private def hofSq8(v: Column): Column = {
    val ma = array_max(transform(v, x => abs(x)))
    when(ma > 0, transform(v, x => greatest(lit(-127.0),
        least(lit(127.0), floor(x * lit(127.0) / ma).cast("double")))))
      .otherwise(transform(v, _ => lit(0.0)))
  }

  private def sqd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, t) => s + t)

  private def hofProbe(v: Column, supers: Column, groups: Column): Column = {
    val sup2 = slice(array_sort(transform(supers, s =>
      struct(sqd(v, s.getField("sv")).as("d"), s.getField("sid").as("sid")))), 1, 2)
    transform(slice(array_sort(transform(
      filter(groups, g => exists(sup2, s => s.getField("sid") === g.getField("sid"))),
      g => struct(sqd(v, g.getField("cv")).as("d"), g.getField("cid").as("cid")))), 1, 2),
      c => c.getField("cid"))
  }

  private def hofBest(aq: Column, aqn: Column, self: Column, e1: Column, e2: Column): Column =
    aggregate(flatten(filter(array(e1, e2), a => a.isNotNull)),
      struct(lit(-2.0).as("cos"), lit(-1L).as("vid")),
      (acc, e) => {
        val cs = GraftFunctions.dot(transform(e.getField("q"), x => x.cast("double")), aq) /
          nullif(e.getField("qn") * aqn, lit(0.0))
        when(e.getField("vec_id") =!= self &&
            (cs > acc.getField("cos") ||
             (cs === acc.getField("cos") && e.getField("vec_id") < acc.getField("vid"))),
          struct(cs.as("cos"), e.getField("vec_id").as("vid")))
          .otherwise(acc)
      })

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true"),
    "interpreted" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** (kernel, hof) columns of `df`, collected once per mode; returns the
    * kernel values of the last mode. */
  private def sameAsHof(df: DataFrame, kernel: Column, hof: Column, key: String): Map[String, Any] = {
    GraftFunctions.register(spark)
    var out = Map.empty[String, Any]
    modes.foreach { case (mode, confs) =>
      val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val rows = df.select(col(key).cast("string"), kernel.as("k"), hof.as("h")).collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(same(r.get(1), r.get(2)), s"[$mode] ${r.get(0)}: kernel ${r.get(1)} != hof ${r.get(2)}")
        }
        out = rows.map(r => r.getString(0) -> r.get(1)).toMap
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    out
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x, y) => x == y
  }

  private def fixtureVectors: DataFrame =
    graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def vec(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Some(_)))

  test("graft_sq8 is bit-identical to the HOF quantizer") {
    assert(sameAsHof(fixtureVectors, GraftFunctions.sq8(col("v")), hofSq8(col("v")), "vec_id")
      .size > 100)
    import spark.implicits._
    val rows = Seq(
      "zero" -> vec(0.0, -0.0, 0.0),
      "neg-zero" -> vec(-0.0, 1.0, -2.0),
      "neg-max" -> vec(-3.0, 1.0, 2.9999999999999996),
      "tiny" -> vec(1e-300, -1e-300, 5e-324),
      "null-elem" -> Some(Seq(Some(1.0), None, Some(-2.0))),
      "null-only" -> Some(Seq(None, None)),
      "nan" -> vec(1.0, Double.NaN),
      "inf" -> vec(Double.PositiveInfinity, 1.0),
      "empty" -> vec(),
      "null" -> None
    ).toDF("tag", "v").repartition(1)
    val out = sameAsHof(rows, GraftFunctions.sq8(col("v")), hofSq8(col("v")), "tag")
    // the contract spelled out in the scaladoc
    assert(out("null") == null)
    assert(out("empty") == Seq())
    assert(out("null-elem") == Seq(63.0, 127.0, -127.0))
    assert(out("null-only") == Seq(0.0, 0.0))
    assert(out("neg-max") == Seq(-127.0, 42.0, 126.0))
  }

  test("graft_ivf_probe routes fixture vectors like the HOF folds") {
    val (routing, _) = graft.scale.Similarity.ivfSqStreamIndex(spark, sfDir)
    val df = fixtureVectors.crossJoin(routing)
    val out = sameAsHof(df, ivfProbe(col("v"), col("supers"), col("groups")),
      hofProbe(col("v"), col("supers"), col("groups")), "vec_id")
    assert(out.size > 100 && out.values.forall(_.asInstanceOf[scala.collection.Seq[_]].size == 2))
  }

  test("graft_ivf_probe adversarial rows: id-only ties, one list, nulls, arity") {
    import spark.implicits._
    def s(sid: Long, xs: Double*) = Some(NdSuper(Some(sid), vec(xs: _*)))
    def g(cid: Long, sid: Long, xs: Double*) = Some(NdGroup(Some(cid), vec(xs: _*), Some(sid)))
    val supers = Some(Seq(s(5, 1, 0), s(3, 1, 0), s(7, 0, 1)))
    val groups = Some(Seq(g(9, 5, 1, 0), g(4, 3, 1, 0), g(2, 7, 0, 1), g(6, 5, 1, 0)))
    val rows = Seq(
      NdRoute("ties", vec(1, 0), supers, groups),
      NdRoute("one-list", vec(0.5, 0.5), Some(Seq(s(0, 1, 1))), Some(Seq(g(0, 0, 1, 1)))),
      NdRoute("no-group", vec(1, 0), Some(Seq(s(1, 1, 0))), Some(Seq(g(0, 0, 1, 0)))),
      NdRoute("null-v", None, supers, groups),
      NdRoute("null-elem-v", Some(Seq(Some(1.0), None)), supers, groups),
      NdRoute("null-supers", vec(1, 0), None, groups),
      NdRoute("null-groups", vec(1, 0), supers, None),
      NdRoute("empty-groups", vec(1, 0), supers, Some(Seq())),
      NdRoute("short-sv", vec(1, 0), Some(Seq(s(5, 1, 0), s(8, 1))), groups),
      NdRoute("null-sid-super", vec(1, 0), Some(Seq(Some(NdSuper(None, vec(1, 0))), s(5, 1, 0))),
        groups),
      NdRoute("null-elements", vec(1, 0), Some(Seq(None, s(5, 1, 0), s(3, 0, 1))),
        Some(Seq(None, Some(NdGroup(Some(1), vec(1, 0), None)), g(9, 5, 0, 0),
          Some(NdGroup(None, vec(1, 0), Some(5))), g(4, 3, 1, 0))))
    ).toDF().repartition(1)
    val out = sameAsHof(rows, ivfProbe(col("v"), col("supers"), col("groups")),
      hofProbe(col("v"), col("supers"), col("groups")), "tag")
    assert(out("ties") == Seq(4L, 6L), "equal distances rank by id")
    assert(out("one-list") == Seq(0L), "a single-list index probes one list (cid2 null)")
    assert(out("no-group") == Seq())
    assert(out("null-groups") == null)
    assert(out("null-supers") == Seq())
    assert(out("null-elements") == Seq(null, 9L), "a null distance and a null id rank first")
  }

  test("graft_sq8_best picks the stored index's best candidate like the HOF fold") {
    val (_, lists) = graft.scale.Similarity.ivfSqStreamIndex(spark, sfDir)
    val nLists = lists.count()
    // e2 is the arrival's own list (it holds the arrival: self must be
    // skipped), e1 the next list over
    val own = lists.select(col("cid"), explode(col("entries.vec_id")).as("vec_id"))
    val arrivals = fixtureVectors
      .withColumn("aq", hofSq8(col("v")))
      .withColumn("aqn", sqrt(GraftFunctions.dot(col("aq"), col("aq"))))
      .join(own, "vec_id")
      .join(lists.select(col("cid").as("c1"), col("entries").as("e1")),
        col("c1") === (col("cid") + 1) % nLists, "left")
      .join(lists.select(col("cid").as("c2"), col("entries").as("e2")), col("c2") === col("cid"))
    val out = sameAsHof(arrivals,
      sq8Best(col("aq"), col("aqn"), col("vec_id"), col("e1"), col("e2")),
      hofBest(col("aq"), col("aqn"), col("vec_id"), col("e1"), col("e2")), "vec_id")
    assert(out.size > 100)
    assert(out.values.forall(r => r.asInstanceOf[Row].getLong(1) >= 0), "every arrival has a candidate")
  }

  test("graft_sq8_best adversarial rows: self, ties, zero norms, nulls, arity") {
    import spark.implicits._
    def e(id: Long, qn: Double, q: Byte*) = Some(NdEntry(Some(id), Some(q.map(Some(_))), Some(qn)))
    val aq = vec(3, 4)
    val rows = Seq(
      // the arrival itself scores 1.0 and must lose to the next best
      NdArrival("self", aq, Some(5.0), Some(1L), Some(Seq(e(1, 5, 3, 4), e(2, 5, 4, 3))), None),
      // identical codes: the lower vid wins whatever the list order
      NdArrival("ties", aq, Some(5.0), Some(0L),
        Some(Seq(e(8, 5, 4, 3), e(6, 5, 4, 3))), Some(Seq(e(7, 5, 4, 3)))),
      NdArrival("null-lists", aq, Some(5.0), Some(0L), None, None),
      NdArrival("empty-lists", aq, Some(5.0), Some(0L), Some(Seq()), Some(Seq())),
      NdArrival("null-then-empty", aq, Some(5.0), Some(0L), None, Some(Seq(e(3, 5, 3, 4)))),
      NdArrival("zero-candidate", aq, Some(5.0), Some(0L), Some(Seq(e(2, 0, 0, 0))), None),
      NdArrival("zero-arrival", vec(0, 0), Some(0.0), Some(0L), Some(Seq(e(2, 5, 3, 4))), None),
      NdArrival("negative", aq, Some(5.0), Some(0L), Some(Seq(e(2, 5, -3, -4))), None),
      NdArrival("null-self", aq, Some(5.0), None, Some(Seq(e(2, 5, 3, 4))), None),
      NdArrival("null-aq", None, Some(5.0), Some(0L), Some(Seq(e(2, 5, 3, 4))), None),
      NdArrival("null-aqn", aq, None, Some(0L), Some(Seq(e(2, 5, 3, 4))), None),
      NdArrival("null-fields", aq, Some(5.0), Some(0L), Some(Seq(None,
        Some(NdEntry(None, Some(Seq(Some(3.toByte), Some(4.toByte))), Some(5.0))),
        Some(NdEntry(Some(4), None, Some(5.0))), Some(NdEntry(Some(5), Some(Seq(Some(3.toByte))), None)),
        Some(NdEntry(Some(9), Some(Seq(None, Some(4.toByte))), Some(5.0))))), None),
      NdArrival("null-aq-elem", Some(Seq(None, Some(4.0))), Some(5.0), Some(0L),
        Some(Seq(e(2, 5, 3, 4))), None),
      NdArrival("short-q", aq, Some(5.0), Some(0L), Some(Seq(e(2, 5, 3), e(3, 5, 3, 4, 7))), None)
    ).toDF().repartition(1)
    val out = sameAsHof(rows,
      sq8Best(col("aq"), col("aqn"), col("vec_id"), col("e1"), col("e2")),
      hofBest(col("aq"), col("aqn"), col("vec_id"), col("e1"), col("e2")), "tag")
    def best(tag: String) = { val r = out(tag).asInstanceOf[Row]; (r.getDouble(0), r.getLong(1)) }
    assert(best("self") == (24.0 / 25, 2L), "the arrival never matches itself")
    assert(best("ties") == (24.0 / 25, 6L))
    Seq("null-lists", "empty-lists", "zero-candidate", "zero-arrival", "null-self", "null-aq",
      "null-aqn").foreach(t => assert(best(t) == (-2.0, -1L), t))
    assert(best("null-then-empty") == (1.0, 3L))
    assert(best("negative") == (-1.0, 2L))
    assert(best("null-fields") == (16.0 / 25, 9L), "a null code counts 0, null ids/q/qn never win")
    assert(best("short-q") == (1.0, 3L), "the dot runs over the shorter prefix")
  }

  /** [[IvfSqBest]] over a snapshot of (`routing`, `lists`) against the
    * join form it replaced, with the HOF folds: route through the
    * routing row, left-join the list table on each probed cid, fold the
    * best candidate. */
  private def sameAsJoinForm(arrivals: DataFrame, routing: DataFrame,
      lists: DataFrame): Map[String, Any] = {
    val snapshot = spark.sparkContext.broadcast(IvfSqSnapshot.collect(routing, lists))
    val df = arrivals
      .withColumn("aq", hofSq8(col("v")))
      .withColumn("aqn", sqrt(GraftFunctions.dot(col("aq"), col("aq"))))
      .crossJoin(routing.select(col("supers"), col("groups")))
      .withColumn("cids", hofProbe(col("v"), col("supers"), col("groups")))
      .join(lists.select(col("cid").as("cid1"), col("entries").as("e1")),
        get(col("cids"), lit(0)) === col("cid1"), "left")
      .join(lists.select(col("cid").as("cid2"), col("entries").as("e2")),
        get(col("cids"), lit(1)) === col("cid2"), "left")
    sameAsHof(df,
      GraftFunctions.ivfSqBest(col("v"), col("aq"), col("aqn"), col("vec_id"), snapshot),
      hofBest(col("aq"), col("aqn"), col("vec_id"), col("e1"), col("e2")), "tag")
  }

  test("graft_ivfsq_best serves the stored index like the probe, list joins and best fold") {
    import spark.implicits._
    val (routing, lists) = graft.scale.Similarity.ivfSqStreamIndex(spark, sfDir)
    val first = fixtureVectors.orderBy("vec_id").first()
    val v0 = first.getSeq[Double](1).map(Some(_))
    val odd = Seq(
      NdServe("null-v", Some(-1L), None),
      NdServe("empty-v", Some(-2L), Some(Seq())),
      NdServe("null-elem-v", Some(-3L), Some(None +: v0.tail)),
      NdServe("zero-v", Some(-4L), Some(v0.map(_ => Some(0.0)))),
      NdServe("null-self", None, Some(v0)),
      NdServe("negated", Some(-5L), Some(v0.map(_.map(x => -x))))
    ).toDF()
    val arrivals = fixtureVectors
      .select(col("vec_id").cast("string").as("tag"), col("vec_id"), col("v"))
      .unionByName(odd).repartition(2)
    val out = sameAsJoinForm(arrivals, routing, lists)
    assert(out.size > 100)
    def best(tag: String) = { val r = out(tag).asInstanceOf[Row]; (r.getDouble(0), r.getLong(1)) }
    assert(best(first.getLong(0).toString)._2 != first.getLong(0), "an arrival never matches itself")
    Seq("null-v", "zero-v", "null-self").foreach(t => assert(best(t) == (-2.0, -1L), t))
    assert(best("negated")._2 >= 0)
  }

  test("graft_ivfsq_best adversarial indexes: an unlisted probed cid, a null cid, one list") {
    import spark.implicits._
    def s(sid: Long, xs: Double*) = Some(NdSuper(Some(sid), vec(xs: _*)))
    def g(cid: Long, sid: Long, xs: Double*) = Some(NdGroup(Some(cid), vec(xs: _*), Some(sid)))
    def e(id: Long, qn: Double, q: Byte*) = Some(NdEntry(Some(id), Some(q.map(Some(_))), Some(qn)))
    val arrivals = Seq(
      NdServe("x", Some(1L), vec(1, 0)),
      NdServe("y", Some(5L), vec(0.1, 0.9)),
      NdServe("mid", Some(6L), vec(0.5, 0.5)),
      NdServe("null-v", Some(7L), None)
    ).toDF().repartition(1)
    // list 11 is routed to but has no row; the null-cid row matches nothing
    val gapRouting = Seq((Some(Seq(s(0, 1, 0), s(1, 0, 1))),
      Some(Seq(g(10, 0, 1, 0), g(11, 0, 0.9, 0.1), g(12, 1, 0, 1))))).toDF("supers", "groups")
    val gapLists = Seq[(Option[Long], Option[Seq[Option[NdEntry]]])](
      (Some(10L), Some(Seq(e(1, 5, 3, 4), e(2, 5, 4, 3)))),
      (Some(12L), Some(Seq(e(3, 5, 0, 5), None))),
      (None, Some(Seq(e(4, 5, 4, 3))))).toDF("cid", "entries")
    def best(out: Map[String, Any], tag: String) = {
      val r = out(tag).asInstanceOf[Row]; (r.getDouble(0), r.getLong(1))
    }
    val gap = sameAsJoinForm(arrivals, gapRouting, gapLists)
    assert(best(gap, "x") == (0.8, 2L), "self skipped in list 10, the unlisted list 11 is empty")
    assert(best(gap, "y")._2 == 3L)
    val oneRouting = Seq((Some(Seq(s(0, 1, 1))), Some(Seq(g(0, 0, 1, 1))))).toDF("supers", "groups")
    val oneLists = Seq[(Option[Long], Option[Seq[Option[NdEntry]]])](
      (Some(0L), Some(Seq(e(9, 5, 4, 3))))).toDF("cid", "entries")
    val one = sameAsJoinForm(arrivals, oneRouting, oneLists)
    Seq("x", "y", "mid").foreach(t => assert(best(one, t)._2 == 9L, s"$t: a single-list index probes one list"))
    assert(best(one, "null-v") == (-2.0, -1L))
  }
}
