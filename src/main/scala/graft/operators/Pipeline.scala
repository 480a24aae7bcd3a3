package graft.operators

import graft.Tables
import graft.util.CacheOnce._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The §3.2 save-path lifecycle as ONE lazy plan — quality → market
  * filters → feature engineering → normalization
  * (`pipeline.py:88-123` runs these as four pandas stages, each bracketed
  * by List↔DataFrame conversion; Catalyst fuses the narrow stages into
  * shared codegen stages instead).
  *
  * Physical shape: one shuffle for the candle aggregate, ONE shared
  * exchange+sort for all three window specs, then the feature output is
  * cached once so the normalization fit (the only second consumer) reads
  * the materialized projection instead of re-running the prefix; the
  * 1-row fit comes back as a broadcast. Asserted in `PlanSpec`.
  */
object Pipeline {

  def pipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
    val w20 = w.rowsBetween(-19, 0)
    // stage 1 — quality (F1/F2 drops, OHLC repair, F4 spike filter)
    val quality = Tables.candles(spark, dir)
      .na.drop(Seq("bucket", "open", "high", "low", "close"))
      .filter(col("open") > 0 && col("high") > 0 && col("low") > 0 && col("close") > 0)
      .withColumn("high_fixed", greatest(col("high"), col("open"), col("close")))
      .withColumn("low_fixed", least(col("low"), col("open"), col("close")))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .filter(col("prev_close").isNull ||
        abs((col("close") - col("prev_close")) / col("prev_close")) <= 0.50)
    // stage 2 — market filters (F7 session bucketing + hours filter)
    val market = quality
      .withColumn("h", hour(col("bucket")))
      .withColumn("session",
        when(col("h") >= 22 || col("h") < 7, "sydney")
          .when(col("h") < 9, "tokyo")
          .when(col("h") < 16, "london")
          .otherwise("new_york"))
      .filter(col("session").isin("london", "new_york"))
    // stage 3 — features (W2 returns, W3 SMA, W7 Bollinger) over the
    // FILTERED series, like the reference's stage order
    val feat = market
      .withColumn("ret_1",
        (col("close") - lag(col("close"), 1).over(w)) /
          nullif(lag(col("close"), 1).over(w), lit(0)))
      .withColumn("sma_20",
        when(count(col("close")).over(w20) === 20, avg(col("close")).over(w20)))
      .withColumn("bb_std",
        when(count(col("close")).over(w20) === 20, stddev(col("close")).over(w20)))
      .withColumn("bb_up", col("sma_20") + col("bb_std") * 2)
      .withColumn("bb_lo", col("sma_20") - col("bb_std") * 2)
      // materialized once: the fit aggregate below is a second consumer —
      // without this the whole scan→agg→window prefix runs twice
      .cacheOnce()
    // stage 4 — normalization (A7 zscore, fit broadcast back)
    val fit = feat.agg(avg(col("close")).as("c_mean"), stddev(col("close")).as("c_std"))
    feat.crossJoin(broadcast(fit))
      .select(
        col("user_id"), col("bucket"), col("session"),
        round(col("close"), 6).as("close"),
        round(col("high_fixed"), 6).as("high_fixed"),
        round(col("low_fixed"), 6).as("low_fixed"),
        round(col("ret_1"), 6).as("ret_1"),
        round(col("sma_20"), 6).as("sma_20"),
        round(col("bb_up"), 6).as("bb_up"),
        round(col("bb_lo"), 6).as("bb_lo"),
        round((col("close") - col("c_mean")) / col("c_std"), 6).as("close_z"))
  }

  val pipelineFullSql: String = Tables.candlesSql +
    """, q AS (
      |  SELECT user_id, bucket, open, high, low, close,
      |    greatest(high, open, close) AS high_fixed,
      |    least(low, open, close)     AS low_fixed,
      |    lag(close) OVER (PARTITION BY user_id ORDER BY bucket) AS prev_close
      |  FROM candles
      |  WHERE bucket IS NOT NULL AND open > 0 AND high > 0 AND low > 0 AND close > 0),
      |q2 AS (
      |  SELECT * FROM q
      |  WHERE prev_close IS NULL OR abs((close - prev_close) / prev_close) <= 0.50),
      |m AS (
      |  SELECT *, CASE
      |      WHEN extract(hour FROM bucket) >= 22 OR extract(hour FROM bucket) < 7 THEN 'sydney'
      |      WHEN extract(hour FROM bucket) < 9  THEN 'tokyo'
      |      WHEN extract(hour FROM bucket) < 16 THEN 'london'
      |      ELSE 'new_york' END AS session
      |  FROM q2),
      |m2 AS (SELECT * FROM m WHERE session IN ('london', 'new_york')),
      |f AS (
      |  SELECT user_id, bucket, session, close, high_fixed, low_fixed,
      |    (close - lag(close) OVER w) / nullif(lag(close) OVER w, 0) AS ret_1,
      |    CASE WHEN count(close) OVER w20 = 20 THEN avg(close) OVER w20 END AS sma_20,
      |    CASE WHEN count(close) OVER w20 = 20 THEN stddev_samp(close) OVER w20 END AS bb_std
      |  FROM m2
      |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket),
      |         w20 AS (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |fit AS (SELECT avg(close) AS c_mean, stddev_samp(close) AS c_std FROM f)
      |SELECT user_id, bucket, session,
      |  round(close, 6) + 0 AS close,
      |  round(high_fixed, 6) + 0 AS high_fixed,
      |  round(low_fixed, 6) + 0 AS low_fixed,
      |  round(ret_1, 6) + 0 AS ret_1,
      |  round(sma_20, 6) + 0 AS sma_20,
      |  round(sma_20 + 2 * bb_std, 6) + 0 AS bb_up,
      |  round(sma_20 - 2 * bb_std, 6) + 0 AS bb_lo,
      |  round((close - c_mean) / c_std, 6) + 0 AS close_z
      |FROM f, fit""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_full" -> (pipelineFull _))

  def oracles: Map[String, String] = Map(
    "pipeline_full" -> pipelineFullSql)
}
