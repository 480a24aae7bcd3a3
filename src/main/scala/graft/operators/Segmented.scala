package graft.operators

import graft.Tables
import graft.util.CacheOnce._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Segmented single-key windows — the SURVEY §7.5 scale mitigation.
  *
  * A FOREX deployment has ONE symbol (`EURUSD`), so
  * `Window.partitionBy(symbol)` degenerates to a single partition and the
  * whole indicator suite serializes onto one core no matter how many
  * executors exist. For bounded ROWS frames (every SMA/stddev/lag/min/max
  * indicator) the fix is horizontal: range-split the time axis into N
  * segments, replicate each segment's trailing `lookback` rows into the
  * next segment (the overlap a frame can reach), window inside
  * `partitionBy(segment)` — N-way parallel — and drop the replica rows.
  * Results are bit-identical to the unsegmented window for any frame of
  * length ≤ lookback+1 (the replicas supply exactly the history the frame
  * needs across the cut).
  *
  * Precondition: every segment holds ≥ lookback rows (dense series +
  * N ≪ rows/lookback — at 100 TB the segment count is executor-core
  * sized, thousands of rows per segment, so this holds by construction).
  *
  * Segment assignment is fit-then-apply: one tiny min/max aggregate
  * broadcast back over the data (never a global sort or single-partition
  * row_number). The carry replication costs N·lookback extra rows —
  * negligible against the serial alternative.
  */
object Segmented {

  /** Add a `__seg` column splitting the time axis into `nSegments` equal
    * spans — fit-then-apply (one tiny min/max aggregate broadcast back),
    * never a global sort. */
  private def withSegments(df: DataFrame, orderTs: String, nSegments: Int): DataFrame = {
    val bounds = df.agg(
      unix_micros(min(col(orderTs))).as("__tmin"),
      (unix_micros(max(col(orderTs))) - unix_micros(min(col(orderTs))) + 1).as("__span"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__seg", least(
        floor((unix_micros(col(orderTs)) - col("__tmin")) * nSegments / col("__span")),
        lit(nSegments - 1)).cast("int"))
      .drop("__tmin", "__span")
  }

  /** Apply `features` (built on the supplied per-segment WindowSpec) to
    * `df` with `nSegments`-way parallelism over the `orderCols`-sorted
    * series. `lookback` = max frame reach in rows (frame length − 1). */
  def segmented(df: DataFrame, orderTs: String, tieBreak: String,
                lookback: Int, nSegments: Int)(
                features: (DataFrame, WindowSpec) => DataFrame): DataFrame = {
    val base = withSegments(df, orderTs, nSegments)
    val wTail = Window.partitionBy(col("__seg"))
      .orderBy(col(orderTs).desc, col(tieBreak).desc)
    val carries = base
      .withColumn("__rnd", row_number().over(wTail))
      .filter(col("__rnd") <= lookback && col("__seg") < nSegments - 1)
      .withColumn("__seg", col("__seg") + 1)
      .withColumn("__carry", lit(true))
      .drop("__rnd")
    val unioned = base.withColumn("__carry", lit(false)).unionByName(carries)
    val w = Window.partitionBy(col("__seg"))
      .orderBy(col(orderTs), col(tieBreak))
    features(unioned, w)
      .filter(!col("__carry"))
      .drop("__seg", "__carry")
  }

  /** W3 over the WHOLE events table as one series (the single-symbol
    * deployment: no partition key at all), 8-way parallel: SMA-20 +
    * rolling max via segmented windows. The oracle computes the naive
    * single-partition window — the segmented plan must hash-match it
    * exactly, which is the whole point. */
  def w3SmaSegmented(spark: SparkSession, dir: String): DataFrame = {
    val series = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("value"))
    segmented(series, "ts", "event_id", lookback = 19, nSegments = 8) { (d, w) =>
      val w20 = w.rowsBetween(-19, 0)
      d.withColumn("sma_20",
          when(count(col("value")).over(w20) === 20,
            round(avg(col("value")).over(w20), 6)))
        .withColumn("max_20",
          when(count(col("value")).over(w20) === 20,
            round(max(col("value")).over(w20), 6)))
    }.select(col("event_id"), col("sma_20"), col("max_20"))
  }

  val w3SmaSegmentedSql: String =
    """SELECT event_id,
      |  round(CASE WHEN count(value) OVER w20 = 20 THEN avg(value) OVER w20 END, 6) + 0 AS sma_20,
      |  round(CASE WHEN count(value) OVER w20 = 20 THEN max(value) OVER w20 END, 6) + 0 AS max_20
      |FROM events
      |WINDOW w20 AS (ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Exact N-way-parallel EMA over a single key — the unbounded-history
    * counterpart of [[segmented]] (overlap carries can't cover an
    * infinite frame). EMA's adjust=True weighted mean is a pair of linear
    * recurrences (num_i = x_i + q·num_{i−1}, den likewise, q = 1−α), so
    * it parallelizes as a prefix scan:
    *
    *  1. per segment (parallel): local num/den via the EwmAvg window
    *     restarted at the segment head; den has the closed form
    *     (1−q^(i+1))/(1−q), num = local_mean · den;
    *  2. driver (nSegments rows): fold segment-end sums —
    *     carry_s = end_s + q^len_s · carry_{s−1};
    *  3. broadcast the carries back: ema_i = (num_i + q^(i+1)·carry_num)
    *     / (den_i + q^(i+1)·carry_den).
    *
    * Algebraically identical to the serial scan (divergence is ulp-level
    * summation order); unlike [[segmented]] there is NO density
    * precondition — any segmentation is exact. The DuckDB oracle uses the
    * same segmented algebra (its naive weight form overflows past ~7k
    * rows): per-1250-row-chunk local num/den via bounded weights, then an
    * 8-step recursive-CTE carry fold — see [[w4EmaSegmentedSql]]. Also
    * equality-pinned to the serial EwmAvg in `SegmentedSpec`. */
  def emaSegmented(df: DataFrame, orderTs: String, tieBreak: String,
                   valueCol: String, span: Int, nSegments: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val q = 1.0 - 2.0 / (span + 1.0)
    val wSeg = Window.partitionBy(col("__seg"))
      .orderBy(col(orderTs), col(tieBreak))
    val grow = wSeg.rowsBetween(Window.unboundedPreceding, 0)
    val base = withSegments(df, orderTs, nSegments)
      .withColumn("__i", row_number().over(wSeg) - 1)
      .withColumn("__mean_local",
        graft.functions.GraftFunctions.ewmAvgSpan(col(valueCol), span).over(grow))
      .withColumn("__den_local",
        (lit(1.0) - pow(lit(q), col("__i") + 1)) / lit(1.0 - q))
      .withColumn("__num_local", col("__mean_local") * col("__den_local"))
      .cacheOnce()
    val ends = base.groupBy(col("__seg"))
      .agg(count(lit(1)).as("len"),
        max_by(col("__num_local"), col("__i")).as("num_end"),
        max_by(col("__den_local"), col("__i")).as("den_end"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    var carryNum = 0.0
    var carryDen = 0.0
    val priors = (0 until nSegments).map { s =>
      val prior = (s, carryNum, carryDen)
      ends.get(s).foreach { case (len, numEnd, denEnd) =>
        val f = math.pow(q, len.toDouble)
        carryNum = numEnd + f * carryNum
        carryDen = denEnd + f * carryDen
      }
      prior
    }
    val spark = df.sparkSession
    import spark.implicits._
    val carryDf = priors.toDF("__seg", "__prior_num", "__prior_den")
    val f = pow(lit(q), col("__i") + 1)
    base.join(broadcast(carryDf), "__seg")
      .withColumn("__ema",
        (col("__num_local") + f * col("__prior_num")) /
          (col("__den_local") + f * col("__prior_den")))
  }

  /** W4 at single-key scale: EMA-20 of the whole events table as one
    * series, 8-way parallel. Oracle-checked against the segmented-in-SQL
    * form below; serial-equality pinned in the spec. */
  def w4EmaSegmented(spark: SparkSession, dir: String): DataFrame = {
    val series = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("value"))
    emaSegmented(series, "ts", "event_id", "value", span = 20, nSegments = 8)
      .select(col("event_id"), round(col("__ema"), 6).as("ema_20"))
  }

  /** DuckDB oracle for the segmented EMA. The naive adjust=True weight
    * form `Σ x_j·q^(−j) / Σ q^(−j)` overflows past ~7k rows (q^(−10000)
    * ≈ e^1000), so the oracle runs the SAME chunked algebra as the
    * engine: 1250-row chunks keep every exponent inside q^(±1250)
    * (≈ e^±125, comfortably finite), the per-chunk carries fold through
    * an 8-step recursive CTE — the recurrence the engine folds on the
    * driver. Chunking is algebraically invisible, so the chunk size need
    * not match the engine's segmentation. */
  val w4EmaSegmentedSql: String = {
    val q = "(1.0 - 2.0/21.0)"
    s"""WITH RECURSIVE r AS (
       |  SELECT event_id, value, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
       |  FROM events),
       |s AS (
       |  SELECT event_id, value, CAST(rn // 1250 AS INTEGER) AS seg,
       |         CAST(rn % 1250 AS INTEGER) AS i
       |  FROM r),
       |u AS (
       |  SELECT *, pow(1.0 / $q, CAST(i + 1 AS DOUBLE)) AS uw FROM s),
       |loc AS (
       |  SELECT event_id, seg, i,
       |         sum(value * uw) OVER wg / uw AS num_local,
       |         (1.0 - pow($q, CAST(i + 1 AS DOUBLE))) / (1.0 - $q) AS den_local
       |  FROM u
       |  WINDOW wg AS (PARTITION BY seg ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ends AS (
       |  SELECT seg, count(*) AS len, arg_max(num_local, i) AS num_end,
       |         arg_max(den_local, i) AS den_end
       |  FROM loc GROUP BY seg),
       |carry(seg, num, den) AS (
       |  SELECT -1, 0.0::DOUBLE, 0.0::DOUBLE
       |  UNION ALL
       |  SELECT e.seg, e.num_end + pow($q, CAST(e.len AS DOUBLE)) * c.num,
       |         e.den_end + pow($q, CAST(e.len AS DOUBLE)) * c.den
       |  FROM carry c JOIN ends e ON e.seg = c.seg + 1)
       |SELECT l.event_id,
       |       round((l.num_local + pow($q, CAST(l.i + 1 AS DOUBLE)) * c.num) /
       |             (l.den_local + pow($q, CAST(l.i + 1 AS DOUBLE)) * c.den), 6) + 0 AS ema_20
       |FROM loc l JOIN carry c ON c.seg = l.seg - 1""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w3_sma_segmented" -> (w3SmaSegmented _),
    "w4_ema_segmented" -> (w4EmaSegmented _))

  def oracles: Map[String, String] = Map(
    "w3_sma_segmented" -> w3SmaSegmentedSql,
    "w4_ema_segmented" -> w4EmaSegmentedSql)
}
