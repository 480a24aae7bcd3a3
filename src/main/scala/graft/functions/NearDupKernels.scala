package graft.functions

import scala.collection.immutable.LongMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  QuaternaryExpression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The codegen'd kernels of the SQ8 / IVF-SQ8 serve path — one static
  * loop per row each, replacing higher-order-function folds that ran
  * interpreted (`CodegenFallback`): about 6k lambda calls per arrival on
  * [[graft.streaming.IndexNearDup]]'s stream. Same pattern as
  * [[HadamardRotate]]: generated code emits a single static call, so
  * interpreted eval and codegen run the same loop.
  *
  * Each kernel is bit-identical to the HOF form it replaces, null
  * elements and arity mismatches included; `NearDupKernelsSpec` checks
  * every one against its HOF on fixture embeddings and adversarial rows.
  * [[IvfSqBest]], the stream's serve step, runs the probe and best
  * loops over a broadcast [[IvfSqSnapshot]] of the stored index.
  * Double comparisons use Spark's SQL ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN greatest, -0.0 = 0.0), the
  * ordering `array_max`, `array_sort`, `>` and `=` use. */
private[functions] object NearDupKernels {
  /** Ordinal of `name` in the element struct of an array<struct> type,
    * -1 when absent or not of an accepted type. */
  def fieldOf(t: DataType, name: String)(ok: PartialFunction[DataType, Unit]): Int = t match {
    case ArrayType(s: StructType, _) =>
      s.fields.indexWhere(f => f.name == name && ok.isDefinedAt(f.dataType))
    case _ => -1
  }

  val long: PartialFunction[DataType, Unit] = { case LongType => }
  val vec: PartialFunction[DataType, Unit] = { case ArrayType(DoubleType, _) => }

  def numFields(t: DataType): Int = t match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 0
  }

  def check(ok: Boolean, what: => String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess else TypeCheckResult.TypeCheckFailure(what)
}

/** SQ8 scalar quantization of one vector: `q[i] = clamp(floor(v[i]·127 /
  * maxabs(v)), -127, 127)`, all zeros when maxabs is not positive. The
  * one definition behind [[graft.scale.Similarity]]'s int8 corpus and
  * the arrival side of [[graft.streaming.IndexNearDup]], bit-identical
  * to the HOF it replaces:
  *
  * {{{
  * when(array_max(transform(v, abs)) > 0,
  *   transform(v, x => greatest(-127.0, least(127.0, floor(x * 127.0 / ma).cast("double")))))
  * .otherwise(transform(v, _ => 0.0))
  * }}}
  *
  * The clamp closes floor's 1-ulp hazard at the max-|x| dimension.
  * `floor` returns BIGINT, so the cast back to double turns -0.0 into
  * 0.0 and NaN into 0.0, as here.
  *
  * Null contract: null array → null; empty array → empty. Null elements
  * are skipped by the max; when the max is positive a null element
  * quantizes to 127.0 (the HOF's `least` and `greatest` skip the null
  * operand), otherwise to 0.0. The output never holds a null. */
case class Sq8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_sq8"

  override def checkInputDataTypes(): TypeCheckResult =
    NearDupKernels.check(NearDupKernels.vec.isDefinedAt(child.dataType),
      s"graft_sq8 expects array<double>, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    Sq8Quantize.quantize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Sq8Quantize.quantize($v);")

  override protected def withNewChildInternal(newChild: Expression): Sq8Quantize =
    copy(child = newChild)
}

object Sq8Quantize {
  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var ma = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(v.getDouble(i))
        if (!seen || SQLOrderingUtil.compareDoubles(a, ma) > 0) { ma = a; seen = true }
      }
      i += 1
    }
    val out = new Array[Double](n)
    if (seen && SQLOrderingUtil.compareDoubles(ma, 0.0) > 0) {
      i = 0
      while (i < n) {
        out(i) =
          if (v.isNullAt(i)) 127.0
          else math.max(-127.0, math.min(127.0, math.floor(v.getDouble(i) * 127.0 / ma).toLong.toDouble))
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Two-level IVF routing of one vector, nprobe = 2: the ids of the best
  * two `groups` entries among those whose `sid` is one of the best two
  * `supers`, best first. Bit-identical to the HOF it replaces:
  *
  * {{{
  * sup2 = slice(array_sort(transform(supers, s => struct(sqd(v, s.sv) AS d, s.sid))), 1, 2)
  * cids = slice(array_sort(transform(
  *          filter(groups, g => exists(sup2, s => s.sid = g.sid)),
  *          g => struct(sqd(v, g.cv) AS d, g.cid))), 1, 2).cid
  * }}}
  *
  * where `sqd` is the squared distance folded dimension-ascending from
  * 0.0 — the batch routing's summation order, so both pick the same
  * lists. Entries rank by (d, id) ascending, nulls first, doubles in the
  * SQL ordering. `supers` is array<struct<sid BIGINT, sv ARRAY<DOUBLE>>>
  * and `groups` array<struct<cid BIGINT, cv ARRAY<DOUBLE>, sid BIGINT>>,
  * fields found by name.
  *
  * Null contract: null `groups` → null; otherwise an array of at most
  * two ids (one when one group qualifies, empty when none does). A
  * distance is null when either vector is null, their lengths differ or
  * either holds a null element, and a null distance ranks first; a
  * null `supers` keeps no group; a group qualifies only on a non-null
  * sid equal to a chosen super's non-null sid. */
case class IvfProbe(v: Expression, supers: Expression, groups: Expression)
    extends TernaryExpression {

  override def first: Expression = v
  override def second: Expression = supers
  override def third: Expression = groups
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = groups.nullable
  override def prettyName: String = "graft_ivf_probe"

  @transient private lazy val ords: Seq[Int] = IvfProbe.ords(supers.dataType, groups.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    NearDupKernels.check(NearDupKernels.vec.isDefinedAt(v.dataType) && !ords.contains(-1),
      "graft_ivf_probe expects (array<double>, array<struct<sid: bigint, sv: array<double>>>, " +
        "array<struct<cid: bigint, cv: array<double>, sid: bigint>>), got " +
        children.map(_.dataType).mkString(", "))

  override def eval(input: InternalRow): Any = {
    val o = ords
    IvfProbe.probe(v.eval(input).asInstanceOf[ArrayData],
      supers.eval(input).asInstanceOf[ArrayData], groups.eval(input).asInstanceOf[ArrayData],
      o(0), o(1), o(2), o(3), o(4), o(5), o(6))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(a, s, g) = children.map(_.genCode(ctx))
    def orNull(e: ExprCode) = s"${e.isNull} ? null : ${e.value}"
    ev.copy(code = code"""
      |${a.code}
      |${s.code}
      |${g.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.IvfProbe.probe(
      |  ${orNull(a)}, ${orNull(s)}, ${orNull(g)}, ${ords.mkString(", ")});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      a: Expression, s: Expression, g: Expression): IvfProbe =
    copy(v = a, supers = s, groups = g)
}

object IvfProbe {

  /** (sid, sv, arity) of a super, then (cid, cv, sid, arity) of a group;
    * -1 for a field that is absent or not of an accepted type. */
  def ords(supers: DataType, groups: DataType): Seq[Int] = {
    import NearDupKernels._
    Seq(fieldOf(supers, "sid")(long), fieldOf(supers, "sv")(vec), numFields(supers),
      fieldOf(groups, "cid")(long), fieldOf(groups, "cv")(vec), fieldOf(groups, "sid")(long),
      numFields(groups))
  }

  /** The best two (d, id) keys offered, ascending, nulls first. */
  private final class Top2 {
    var n = 0
    val dNull = new Array[Boolean](2)
    val d = new Array[Double](2)
    val idNull = new Array[Boolean](2)
    val id = new Array[Long](2)

    private def before(bdNull: Boolean, bd: Double, biNull: Boolean, bi: Long, k: Int): Boolean = {
      val c =
        if (bdNull || dNull(k)) java.lang.Boolean.compare(!bdNull, !dNull(k))
        else SQLOrderingUtil.compareDoubles(bd, d(k))
      if (c != 0) c < 0
      else if (biNull || idNull(k)) !biNull < !idNull(k)
      else bi < id(k)
    }

    private def set(k: Int, bdNull: Boolean, bd: Double, biNull: Boolean, bi: Long): Unit = {
      dNull(k) = bdNull; d(k) = bd; idNull(k) = biNull; id(k) = bi
    }

    def offer(bdNull: Boolean, bd: Double, biNull: Boolean, bi: Long): Unit =
      if (n == 0 || before(bdNull, bd, biNull, bi, 0)) {
        if (n > 0) set(1, dNull(0), d(0), idNull(0), id(0))
        set(0, bdNull, bd, biNull, bi)
        n = math.min(n + 1, 2)
      } else if (n == 1 || before(bdNull, bd, biNull, bi, 1)) {
        set(1, bdNull, bd, biNull, bi)
        n = 2
      }

    def has(sid: Long): Boolean =
      (n > 0 && !idNull(0) && id(0) == sid) || (n > 1 && !idNull(1) && id(1) == sid)

    def ids: ArrayData =
      new GenericArrayData(Array.tabulate[Any](n)(k => if (idNull(k)) null else id(k)))
  }

  /** `v` as doubles, or null when it is null or holds a null element
    * (every distance from it is then null). */
  private def dense(v: ArrayData): Array[Double] =
    if (v == null) null
    else {
      val n = v.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        out(i) = v.getDouble(i)
        i += 1
      }
      out
    }

  /** Offers the entry `e` (null-safe) keyed on (sqd(v, e[vecOrd]), e[idOrd]). */
  private def offer(top: Top2, v: Array[Double], e: InternalRow, idOrd: Int, vecOrd: Int): Unit = {
    val idNull = e == null || e.isNullAt(idOrd)
    val c = if (e == null || e.isNullAt(vecOrd)) null else e.getArray(vecOrd)
    var dNull = v == null || c == null || c.numElements() != v.length
    var s = 0.0
    var i = 0
    while (!dNull && i < v.length) {
      if (c.isNullAt(i)) dNull = true
      else { val x = v(i) - c.getDouble(i); s = s + x * x }
      i += 1
    }
    top.offer(dNull, s, idNull, if (idNull) 0L else e.getLong(idOrd))
  }

  def probe(v: ArrayData, supers: ArrayData, groups: ArrayData,
      sSid: Int, sSv: Int, sN: Int, gCid: Int, gCv: Int, gSid: Int, gN: Int): ArrayData = {
    if (groups == null) return null
    val vd = dense(v)
    val sup = new Top2
    if (supers != null) {
      var i = 0
      while (i < supers.numElements()) {
        offer(sup, vd, if (supers.isNullAt(i)) null else supers.getStruct(i, sN), sSid, sSv)
        i += 1
      }
    }
    val top = new Top2
    var j = 0
    while (j < groups.numElements()) {
      if (!groups.isNullAt(j)) {
        val g = groups.getStruct(j, gN)
        if (!g.isNullAt(gSid) && sup.has(g.getLong(gSid))) offer(top, vd, g, gCid, gCv)
      }
      j += 1
    }
    top.ids
  }
}

/** The best SQ8 candidate for one arrival across its probed lists:
  * struct(cos, vid), the highest quantized cosine `dot(q, aq) / (qn·aqn)`
  * over every entry of `lists` (in order) except the arrival `self`,
  * ties to the lower vid, starting from (-2.0, -1). Bit-identical to
  * the fold it replaces:
  *
  * {{{
  * aggregate(flatten(filter(array(lists...), a => a IS NOT NULL)),
  *   struct(-2.0 AS cos, -1L AS vid), (acc, e) => {
  *     cs = graft_dot(transform(e.q, x => double(x)), aq) / nullif(e.qn * aqn, 0.0)
  *     if (e.vec_id != self AND (cs > acc.cos OR (cs = acc.cos AND e.vec_id < acc.vid)))
  *       struct(cs, e.vec_id) else acc })
  * }}}
  *
  * The dot runs dimension-ascending from 0.0 over the shorter prefix,
  * straight from the TINYINT codes (integer-valued, so exact). Each list
  * is array<struct<vec_id BIGINT, q ARRAY<TINYINT>, qn DOUBLE>>, fields
  * found by name.
  *
  * Null contract: the result is never null. A null list or entry is
  * skipped. A null cosine never wins: a null `aq`, `aqn`, `q` or `qn`,
  * or a zero norm product. A null `self` or entry vec_id never wins
  * (the HOF's `!=` is null there). A null element of `q` or `aq` counts
  * as 0, as in `graft_dot`. */
case class Sq8Best(aq: Expression, aqn: Expression, self: Expression, lists: Seq[Expression])
    extends Expression {

  override def children: Seq[Expression] = aq +: aqn +: self +: lists
  override def dataType: DataType = Sq8Best.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_sq8_best"

  @transient private lazy val ords: Seq[Int] = Sq8Best.ords(lists.headOption.map(_.dataType).orNull)

  override def checkInputDataTypes(): TypeCheckResult =
    NearDupKernels.check(NearDupKernels.vec.isDefinedAt(aq.dataType) &&
        aqn.dataType == DoubleType && self.dataType == LongType && lists.nonEmpty &&
        !ords.contains(-1) && lists.forall(_.dataType == lists.head.dataType),
      "graft_sq8_best expects (array<double>, double, bigint, " +
        "array<struct<vec_id: bigint, q: array<tinyint>, qn: double>>...), got " +
        children.map(_.dataType).mkString(", "))

  override def eval(input: InternalRow): Any = {
    val a = aqn.eval(input)
    val s = self.eval(input)
    val o = ords
    Sq8Best.best(aq.eval(input).asInstanceOf[ArrayData],
      a == null, if (a == null) 0.0 else a.asInstanceOf[Double],
      s == null, if (s == null) 0L else s.asInstanceOf[Long],
      lists.map(_.eval(input).asInstanceOf[ArrayData]).toArray, o(0), o(1), o(2), o(3))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val es = children.map(_.genCode(ctx))
    val Seq(a, n, s) = es.take(3)
    val ls = es.drop(3).map(e => s"${e.isNull} ? null : ${e.value}").mkString(", ")
    val arrayData = CodeGenerator.javaType(lists.head.dataType)
    ev.copy(code = code"""
      |${es.map(_.code).mkString("\n")}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.Sq8Best.best(
      |  ${a.isNull} ? null : ${a.value}, ${n.isNull}, ${n.value}, ${s.isNull}, ${s.value},
      |  new $arrayData[] {$ls}, ${ords.mkString(", ")});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Sq8Best =
    Sq8Best(c(0), c(1), c(2), c.drop(3))
}

object Sq8Best {
  val schema: StructType = StructType(Seq(
    StructField("cos", DoubleType, nullable = false),
    StructField("vid", LongType, nullable = false)))

  /** (vec_id, q, qn, arity) of a list entry; -1 for a field that is
    * absent or not of an accepted type. */
  def ords(list: DataType): Seq[Int] = {
    import NearDupKernels._
    Seq(fieldOf(list, "vec_id")(long), fieldOf(list, "q") { case ArrayType(ByteType, _) => },
      fieldOf(list, "qn") { case DoubleType => }, numFields(list))
  }

  def best(aq: ArrayData, aqnNull: Boolean, aqn: Double, selfNull: Boolean, self: Long,
      lists: Array[ArrayData], oVid: Int, oQ: Int, oQn: Int, nF: Int): InternalRow = {
    var cos = -2.0
    var vid = -1L
    if (aq != null && !aqnNull && !selfNull) {
      val m = aq.numElements()
      val a = new Array[Double](m)
      var i = 0
      while (i < m) { if (!aq.isNullAt(i)) a(i) = aq.getDouble(i); i += 1 }
      var l = 0
      while (l < lists.length) {
        val es = lists(l)
        if (es != null) {
          var k = 0
          while (k < es.numElements()) {
            val e = if (es.isNullAt(k)) null else es.getStruct(k, nF)
            if (e != null && !e.isNullAt(oVid) && !e.isNullAt(oQ) && !e.isNullAt(oQn)) {
              val id = e.getLong(oVid)
              val den = e.getDouble(oQn) * aqn
              if (id != self && den != 0.0) {
                val q = e.getArray(oQ)
                val n = math.min(q.numElements(), m)
                var dot = 0.0
                var j = 0
                while (j < n) {
                  dot += (if (q.isNullAt(j)) 0.0 else q.getByte(j).toDouble) * a(j)
                  j += 1
                }
                val cs = dot / den
                val c = SQLOrderingUtil.compareDoubles(cs, cos)
                if (c > 0 || (c == 0 && id < vid)) { cos = cs; vid = id }
              }
            }
            k += 1
          }
        }
        l += 1
      }
    }
    new GenericInternalRow(Array[Any](cos, vid))
  }
}

/** The stored IVF-SQ8 index as Catalyst data, read by [[IvfSqBest]]:
  * the routing row's `supers` and `groups` arrays, the entries of each
  * inverted list keyed on its cid, and the struct field ordinals the
  * [[IvfProbe]] and [[Sq8Best]] loops read by. [[IvfSqSnapshot.collect]]
  * builds it once per serve call; the serve plan ships it to the
  * executors as one broadcast value, so no trigger re-reads or re-joins
  * the index tables. */
final class IvfSqSnapshot(val supers: ArrayData, val groups: ArrayData,
    val lists: LongMap[ArrayData], probeOrds: Array[Int], entryOrds: Array[Int])
    extends Serializable {

  /** The entries of the `k`-th probed list, or null where the left
    * equi-join on cid gave null: fewer than k + 1 probed lists, a null
    * cid, or no list row for the cid. */
  private def entries(cids: ArrayData, k: Int): ArrayData =
    if (cids == null || k >= cids.numElements() || cids.isNullAt(k)) null
    else lists.getOrElse(cids.getLong(k), null)

  /** struct(cos, vid) of the arrival's best entry over its nprobe = 2
    * lists: [[IvfProbe.probe]] on the raw vector `v`, then
    * [[Sq8Best.best]] on the codes `aq` over the two probed lists. */
  def best(v: ArrayData, aq: ArrayData, aqnNull: Boolean, aqn: Double,
      selfNull: Boolean, self: Long): InternalRow = {
    val p = probeOrds
    val cids = IvfProbe.probe(v, supers, groups, p(0), p(1), p(2), p(3), p(4), p(5), p(6))
    val e = entryOrds
    Sq8Best.best(aq, aqnNull, aqn, selfNull, self, Array(entries(cids, 0), entries(cids, 1)),
      e(0), e(1), e(2), e(3))
  }
}

object IvfSqSnapshot {
  /** Collects the one-row `routing` frame (supers, groups) and the
    * `lists` frame (cid, entries) — the frames of
    * [[graft.scale.Similarity.ivfSqStreamIndex]] — as Catalyst rows. A
    * null cid never matches a probe and is dropped. */
  def collect(routing: DataFrame, lists: DataFrame): IvfSqSnapshot = {
    val r = routing.select("supers", "groups")
    val l = lists.select("cid", "entries")
    val probeOrds = IvfProbe.ords(r.schema("supers").dataType, r.schema("groups").dataType)
    val entryOrds = Sq8Best.ords(l.schema("entries").dataType)
    require(!(probeOrds ++ entryOrds).contains(-1) && l.schema("cid").dataType == LongType,
      s"not an IVF-SQ8 index: routing ${r.schema.simpleString}, lists ${l.schema.simpleString}")
    val rows = r.queryExecution.executedPlan.executeCollect()
    require(rows.length == 1, s"the routing frame must hold one row, got ${rows.length}")
    val byCid = LongMap.from(l.queryExecution.executedPlan.executeCollect().iterator
      .filterNot(_.isNullAt(0)).map(e => e.getLong(0) -> e.getArray(1)))
    new IvfSqSnapshot(rows(0).getArray(0), rows(0).getArray(1), byCid,
      probeOrds.toArray, entryOrds.toArray)
  }
}

/** The whole per-arrival serve step of the stored IVF-SQ8 index:
  * struct(cos, vid) of the best quantized-cosine entry over the
  * arrival's nprobe = 2 lists, self excluded — what [[IvfProbe]], two
  * left equi-joins of the list table on the probed cids, and [[Sq8Best]]
  * computed, bit-identical by construction because it runs the same two
  * loops ([[IvfSqSnapshot.best]]). `v` is the raw arrival vector the
  * routing reads, `aq`/`aqn` its SQ8 codes and their norm, `self` its
  * vec_id.
  *
  * The expression holds the [[Broadcast]] handle, not the index: the
  * task binary stays small, and the generated code is the same for
  * every plan that reads a snapshot. Generated code resolves the value
  * once per generated class (a mutable state set at init); interpreted
  * eval once per expression instance. Null contract: that of
  * [[Sq8Best]]; the result is never null. */
case class IvfSqBest(v: Expression, aq: Expression, aqn: Expression, self: Expression,
    snapshot: Broadcast[IvfSqSnapshot]) extends QuaternaryExpression {

  override def first: Expression = v
  override def second: Expression = aq
  override def third: Expression = aqn
  override def fourth: Expression = self
  override def dataType: DataType = Sq8Best.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ivfsq_best"

  override def checkInputDataTypes(): TypeCheckResult =
    NearDupKernels.check(NearDupKernels.vec.isDefinedAt(v.dataType) &&
        NearDupKernels.vec.isDefinedAt(aq.dataType) && aqn.dataType == DoubleType &&
        self.dataType == LongType,
      "graft_ivfsq_best expects (array<double>, array<double>, double, bigint), got " +
        children.map(_.dataType).mkString(", "))

  @transient private lazy val index: IvfSqSnapshot = snapshot.value

  override def eval(input: InternalRow): Any = {
    val n = aqn.eval(input)
    val s = self.eval(input)
    index.best(v.eval(input).asInstanceOf[ArrayData], aq.eval(input).asInstanceOf[ArrayData],
      n == null, if (n == null) 0.0 else n.asInstanceOf[Double],
      s == null, if (s == null) 0L else s.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[IvfSqSnapshot].getName
    val ref = ctx.addReferenceObj("ivfsqSnapshot", snapshot, classOf[Broadcast[_]].getName)
    val snap = ctx.addMutableState(cls, "ivfsqSnapshot",
      s => s"$s = ($cls) $ref.value();", forceInline = true)
    val Seq(a, q, n, s) = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      |${a.code}
      |${q.code}
      |${n.code}
      |${s.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $snap.best(
      |  ${a.isNull} ? null : ${a.value}, ${q.isNull} ? null : ${q.value},
      |  ${n.isNull}, ${n.value}, ${s.isNull}, ${s.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(a: Expression, q: Expression, n: Expression,
      s: Expression): IvfSqBest =
    copy(v = a, aq = q, aqn = n, self = s)
}
