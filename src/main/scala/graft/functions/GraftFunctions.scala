package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.DoubleType

/** Registration + typed column helpers for graft's custom Catalyst
  * functions (SURVEY §2.12). Registered per-session (idempotent); also
  * injectable at session build time via [[graft.plans.GraftExtensions]].
  */
object GraftFunctions {

  /** Builder shared with [[graft.plans.GraftExtensions]]: casts inputs so
    * SQL-text literals (parsed as DECIMAL) and integer columns work. */
  def ewmAvgBuilder(exprs: Seq[Expression]): EwmAvg =
    EwmAvg(Cast(exprs.head, DoubleType), Cast(exprs(1), DoubleType))

  def dotBuilder(exprs: Seq[Expression]): DotProduct =
    DotProduct(exprs.head, exprs(1))

  def intersectCountBuilder(exprs: Seq[Expression]): IntersectCount =
    IntersectCount(exprs.head, exprs(1))

  def chunkTokensBuilder(exprs: Seq[Expression]): ChunkTokens =
    ChunkTokens(exprs.head, exprs(1), exprs(2))

  def doubleRawBitsBuilder(exprs: Seq[Expression]): DoubleRawBits =
    DoubleRawBits(Cast(exprs.head, DoubleType))

  def lshBucketsBuilder(exprs: Seq[Expression]): LshBuckets =
    LshBuckets(exprs.head, exprs(1), exprs(2), exprs(3))

  def hdRotateBuilder(exprs: Seq[Expression]): HadamardRotate =
    HadamardRotate(exprs.head)

  def textStatsBuilder(exprs: Seq[Expression]): TextStats =
    TextStats(exprs.head)

  def sq8Builder(exprs: Seq[Expression]): Sq8Quantize =
    Sq8Quantize(exprs.head)

  def ivfProbeBuilder(exprs: Seq[Expression]): IvfProbe =
    IvfProbe(exprs.head, exprs(1), exprs(2))

  def sq8BestBuilder(exprs: Seq[Expression]): Sq8Best =
    Sq8Best(exprs.head, exprs(1), exprs(2), exprs.drop(3))

  /** Every custom function as (SQL name, expression class, builder):
    * the one list [[register]] and [[graft.plans.GraftExtensions]] wire. */
  private[graft] val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("ewm_avg", classOf[EwmAvg], ewmAvgBuilder),
    ("graft_dot", classOf[DotProduct], dotBuilder),
    ("graft_intersect_count", classOf[IntersectCount], intersectCountBuilder),
    ("graft_chunk_tokens", classOf[ChunkTokens], chunkTokensBuilder),
    ("graft_double_raw_bits", classOf[DoubleRawBits], doubleRawBitsBuilder),
    ("graft_lsh_buckets", classOf[LshBuckets], lshBucketsBuilder),
    ("graft_hd_rotate", classOf[HadamardRotate], hdRotateBuilder),
    ("graft_text_stats", classOf[TextStats], textStatsBuilder),
    ("graft_sq8", classOf[Sq8Quantize], sq8Builder),
    ("graft_ivf_probe", classOf[IvfProbe], ivfProbeBuilder),
    ("graft_sq8_best", classOf[Sq8Best], sq8BestBuilder))

  /** Register every function the session's registry lacks, for both
    * the Column API (`call_function`) and SQL text — a session built
    * with [[graft.plans.GraftExtensions]] already has them all. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** Codegen'd dense dot product ([[DotProduct]]). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** All nTables sign-LSH bucket ids in one codegen'd pass
    * ([[LshBuckets]]); `flatPlanes` is row-major (t·bits+i, dim). */
  def lshBuckets(v: Column, flatPlanes: Array[Double], nTables: Int, bits: Int): Column =
    call_function("graft_lsh_buckets", v, lit(flatPlanes), lit(nTables), lit(bits))

  /** Codegen'd sorted-merge intersection count ([[IntersectCount]]):
    * both arrays must be sorted ascending and distinct. */
  def intersectCount(a: Column, b: Column): Column =
    call_function("graft_intersect_count", a, b)

  /** The fixed 64-dim OPQ rotation in one codegen'd pass
    * ([[HadamardRotate]]) — bit-identical to the HOF form it replaced
    * (see the expression's scaladoc). */
  def hdRotate64(v: Column): Column = call_function("graft_hd_rotate", v)

  /** The quality-kernel text statistics struct (len, n_tok, n_stop,
    * n_punct, n_digit) in one codegen'd pass ([[TextStats]]) —
    * bit-identical to the regexp_replace / split+HOF forms it replaces
    * (see the expression's scaladoc). */
  def textStats(c: Column): Column = call_function("graft_text_stats", c)

  /** SQ8 codes of an array<double> vector as array<double> ([[Sq8Quantize]]):
    * the one quantizer of the int8 corpus and the streamed arrivals. */
  def sq8(v: Column): Column = call_function("graft_sq8", v)

  /** struct(cos, vid): the arrival's best entry over its nprobe = 2 lists
    * of the broadcast stored-index snapshot, self excluded
    * ([[IvfSqBest]]). Not a SQL function: it needs the broadcast handle. */
  def ivfSqBest(v: Column, aq: Column, aqn: Column, self: Column,
      snapshot: Broadcast[IvfSqSnapshot]): Column = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    column(IvfSqBest(expression(v), expression(aq), expression(aqn), expression(self), snapshot))
  }

  /** pandas `ewm(alpha=α, adjust=True).mean()` as a window aggregate. */
  def ewmAvg(c: Column, alpha: Double): Column =
    call_function("ewm_avg", c, lit(alpha))

  /** pandas `ewm(span=s, adjust=True).mean()`: α = 2/(s+1). */
  def ewmAvgSpan(c: Column, span: Int): Column =
    ewmAvg(c, 2.0 / (span + 1))

  /** IEEE bit pattern of a non-negative double ([[DoubleRawBits]]). */
  def doubleRawBits(c: Column): Column =
    call_function("graft_double_raw_bits", c)

  /** Order-preserving single-value pack of a lexicographic (ord, id)
    * pair, for HASH-aggregable argmin: `min(packOrdId(dist, cid))`
    * selects exactly the `ORDER BY dist, cid LIMIT 1` row per group
    * (ties included), but its DECIMAL(38,0) buffer stays inside
    * HashAggregate + whole-stage codegen where `min(struct(dist, cid))`
    * falls back to SortAggregate and sorts the full input (the
    * `ann_ivf_search` sf10 spill finding — see [[DoubleRawBits]]).
    *
    * Contract: `ord` non-negative, non-NaN double (squared distances);
    * `id` a non-negative long < 2³² (centroid / sub-centroid ids —
    * holds for any IVF codebook up to 4.3 B lists). The product
    * `rawBits(ord)·2³² + id` needs ≤ 95 bits < the 126-bit DECIMAL(38)
    * range; Spark's BigDecimal arithmetic is exact there. */
  def packOrdId(ord: Column, id: Column): Column =
    doubleRawBits(ord).cast(org.apache.spark.sql.types.DecimalType(20, 0)) *
      lit(4294967296L) + id

  /** The id component of a [[packOrdId]]-packed min. */
  def packedId(p: Column): Column =
    (p % lit(4294967296L)).cast(org.apache.spark.sql.types.LongType)
}
