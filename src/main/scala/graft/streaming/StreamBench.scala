package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming SLA measurement vs BASELINE.md's only quantified numbers
  * (`tests/test_websocket_business_scenarios.py:55-180`): per-message
  * send latency < 1 ms and throughput ≥ 1000 msg/s per client.
  *
  * Each channel runs alone for a fixed wall window against the rate
  * source at `SPARK_GRAFT_STREAM_RATE` ticks/s (default 2000), on its
  * own reference cadence (`Channels.channelTriggers`). Numbers come
  * from `StreamingQueryProgress` over non-empty batches:
  *   - `msg_per_sec`  — input rows / span of the non-empty batches
  *     (first trigger start to last trigger end), so a slow-cadence
  *     channel's idle-wait extension cannot deflate its rate;
  *   - `ms_per_msg`   — Σ triggerExecution / Σ rows (amortized
  *     per-message engine latency, the analog of the reference's
  *     per-send assertion);
  *   - `avg_batch_ms` / `max_batch_ms` — micro-batch execution span.
  * `raw_ticks` runs through the real [[Channels.RingBufferSink]] (JSON
  * envelope + sequence + retention), so its figures include the
  * fan-out-side serialization the reference's test mocks away.
  *
  * Emits one JSON line: {"metric":"streaming", "channels":{...}}.
  */
object StreamBench {
  private case class ChannelStats(rows: Long, execMs: Long, batches: Int,
                                  maxBatchMs: Long, wallSec: Double,
                                  spanSec: Double, extendSec: Int,
                                  stateRows: Long, stateBytes: Long)

  private def measure(q: StreamingQuery, seconds: Int): ChannelStats = {
    val t0 = System.nanoTime()
    Thread.sleep(seconds * 1000L)
    // a slow-cadence channel (economic_events triggers every 10 s) may
    // not complete a non-empty batch inside the window at all — extend
    // by up to 2× so the stats measure at least one real batch instead
    // of reporting 0 rows for a channel that is merely slow-ticking
    var extra = 0
    while (!q.recentProgress.exists(_.numInputRows > 0) && extra < 2 * seconds) {
      Thread.sleep(1000L); extra += 1
    }
    q.stop(); q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    val exec = ps.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toLong)
    // rate denominator: the span of the NON-EMPTY batches (first trigger
    // start to last trigger end), not t0-to-stop wall — the idle-wait
    // extension above would otherwise deflate msg_per_sec for exactly
    // the slow-cadence channels it exists to serve, making rates across
    // channels in one artifact non-comparable
    val spanSec =
      if (ps.isEmpty) 0.0
      else {
        val ts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
        ((ts.max + exec.last) - ts.min) / 1000.0
      }
    // state footprint from the LAST non-empty progress (steady state):
    // numRowsTotal = keyed-state rows held, memoryUsedBytes = the
    // store's own usage figure (heap for HDFSBacked, block-cache +
    // memtable estimate for RocksDB) — the receipt the key-population
    // runs need to show WHERE the in-memory provider's footprint goes
    val lastState = ps.lastOption.map(_.stateOperators).getOrElse(Array.empty)
    ChannelStats(ps.map(_.numInputRows).sum, exec.sum, ps.length,
      if (exec.isEmpty) 0L else exec.max, wall, spanSec, extra,
      lastState.map(_.numRowsTotal).sum, lastState.map(_.memoryUsedBytes).sum)
  }

  /** Every channel [[main]] runs, in run order. */
  val channels: Seq[String] = Seq("raw_ticks", "order_book", "ml_features",
    "trading_signals", "technical_analysis", "pattern_alerts", "microstructure",
    "economic_events", "heikin_ashi", "zigzag_alerts", "renko_bricks", "garch_vol",
    "trending", "index_near_dup")

  /** The channels a run is restricted to, in run order: all of them
    * when `spec` (`SPARK_GRAFT_STREAM_CHANNELS`) is unset, else its
    * comma-separated names. An unknown name or an empty list fails
    * here, before any session or stream starts — the way
    * [[graft.SparkEntry.selected]] treats query names: a silently
    * empty run would print `"channels":{}` and exit 0. */
  def selectedChannels(spec: Option[String]): Seq[String] = spec match {
    case None => channels
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, s"channel list '$list' names nothing")
      val unknown = names -- channels
      require(unknown.isEmpty,
        s"names not in the channel list: ${unknown.toSeq.sorted.mkString(", ")}")
      channels.filter(names)
  }

  def main(args: Array[String]): Unit = {
    val rate = sys.env.getOrElse("SPARK_GRAFT_STREAM_RATE", "2000").toInt
    val seconds = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECONDS", "8").toInt
    // knee sweep: re-run every channel at each rate in the list so the
    // committed artifact records WHERE each channel's amortized
    // ms_per_msg crosses the 1 ms SLA, not just that it holds at the
    // reference load
    val sweepRates = sys.env.get("SPARK_GRAFT_STREAM_SWEEP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
      .getOrElse(Seq.empty)
    // optional channel filter (comma-separated names) so a targeted
    // saturation push — e.g. the stateful fold family at 50k–100k
    // ticks/s — doesn't pay for re-running every channel per rate
    val onlyChannels = selectedChannels(sys.env.get("SPARK_GRAFT_STREAM_CHANNELS"))
    // key-population knob for the saturation receipt: the stateful fold
    // ceiling should scale with symbol count, not executor count
    val nSymbols = sys.env.getOrElse("SPARK_GRAFT_STREAM_SYMBOLS", "3").toInt
    // corpus dir for the stream-static channel (index_near_dup checks
    // arrivals against the stored ANN index built from this fixture)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    require(nSymbols >= 1,
      s"SPARK_GRAFT_STREAM_SYMBOLS must be >= 1, got $nSymbols — 0 or negative " +
        "would flow into `value % nSymbols` and yield null symbols or an ANSI error")
    // state-store provider knob: `rocksdb` swaps the default in-memory
    // HDFS-backed store for RocksDB — at a realistic key population
    // (thousands of symbols × open windows) state size outgrows executor
    // heap long before CPU saturates, and RocksDB keeps it off-heap on
    // local disk. The receipt this knob exists for: the 24-symbol knee
    // re-run, in-memory vs RocksDB ms/msg (STREAMBENCH_KNEE.json).
    val stateProvider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "memory") match {
      case "memory" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case other =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_STATE_PROVIDER must be memory|rocksdb, got $other")
    }
    val spark = graft.EngineConf.local(graft.EngineConf.cpus(8))
    spark.conf.set("spark.sql.streaming.metricsEnabled", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", stateProvider)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def runAll(r: Int): Seq[(String, ChannelStats)] = {
      def ticks: DataFrame = Channels.tickSource(spark, r, nSymbols)
      // tick-shaped candles: 1:1 mapping so the stateful pattern engine is
      // measured at tick rate (real 1-min candle windows would emit ~3
      // rows per minute — no load)
      def tickCandles = ticks.select(col("ts").as("bucket"), col("symbol"),
          col("bid").as("open"), col("ask").as("high"), col("bid").as("low"),
          col("mid").as("close")).as[StreamCandle]

      def counting(name: String, df: DataFrame): StreamingQuery =
        df.writeStream.outputMode(OutputMode.Append())
          .trigger(Channels.channelTriggers.getOrElse(name, Trigger.ProcessingTime("1 second")))
          // the consumer is the pruning-proof action, not count():
          // pure-projection channels (order book synthesis, signals,
          // microstructure) would otherwise have their per-row work
          // pruned inside the micro-batch, understating ms/msg — the
          // streaming face of the round-9 bench-action fix
          .foreachBatch((b: DataFrame, _: Long) => { graft.BenchAction.consume(b); () })
          .queryName(name).start()

      val runs: Seq[(String, () => StreamingQuery)] = Seq(
        "raw_ticks"          -> (() =>
          new Channels.RingBufferSink("raw_ticks", capacity = 10000).start(ticks)),
        "order_book"         -> (() => counting("order_book", Channels.orderBookStream(ticks))),
        "ml_features"        -> (() => counting("ml_features", Channels.featureStream(spark, ticks).toDF())),
        "trading_signals"    -> (() => counting("trading_signals",
          Channels.signalStream(Channels.featureStream(spark, ticks).toDF()))),
        "technical_analysis" -> (() => counting("technical_analysis",
          Channels.taStream(Channels.featureStream(spark, ticks).toDF()))),
        "pattern_alerts"     -> (() => counting("pattern_alerts",
          Channels.patternAlertStream(spark, tickCandles).toDF())),
        "microstructure"     -> (() => counting("microstructure", Channels.microstructureStream(ticks))),
        "economic_events"    -> (() => counting("economic_events",
          Channels.economicEventsStream(spark, r))),
        // beyond-reference stateful channels, measured at tick rate like
        // pattern_alerts (both fold per-symbol state over every candle)
        "heikin_ashi"        -> (() => counting("heikin_ashi",
          Channels.heikinAshiStream(spark, tickCandles).toDF())),
        "zigzag_alerts"      -> (() => counting("zigzag_alerts",
          Channels.zigzagStream(spark, tickCandles).toDF())),
        // brick ≈ 1/10 of the synthetic walk's oscillation amplitude so
        // the channel emits steadily at tick rate
        "renko_bricks"       -> (() => counting("renko_bricks",
          Channels.renkoStream(spark, tickCandles,
            Map("PAIR0" -> 0.0002, "PAIR1" -> 0.0002, "PAIR2" -> 0.0002)).toDF())),
        "garch_vol"          -> (() => counting("garch_vol",
          Channels.garchVolStream(spark, tickCandles).toDF())),
        "trending"           -> (() => counting("trending",
          Channels.trendingStream(spark, ticks).toDF())),
        // stream-static serve: every arriving synthetic embedding is
        // near-dup-checked against the STORED IVF-SQ8 index. The index
        // tables and their broadcast snapshot are built once at channel
        // start, OUTSIDE the measured window (the serve-path contract);
        // a trigger is one map-only job running the codegen'd kernels
        // against the resident snapshot: no join, no broadcast job, no
        // shuffle. Stateless: throughput is pure per-batch plan cost.
        "index_near_dup"     -> (() => counting("index_near_dup",
          IndexNearDup.nearDupStream(spark, sfDir,
            spark.readStream.format("rate").option("rowsPerSecond", r).load()
              .select(col("value").as("vec_id"),
                transform(sequence(lit(0), lit(63)), i =>
                  pmod(hash(col("value"), i), lit(997)).cast("double") / lit(498.0)
                    - lit(1.0)).as("v"),
                col("timestamp").as("ts"))))))

      require(runs.map(_._1) == channels, "StreamBench.channels must list every run in order")
      runs.filter(r => onlyChannels.contains(r._1)).map { case (name, start) =>
        val s = measure(start(), seconds)
        System.err.println(s"[streambench] $name@$r: ${s.rows} rows, ${s.batches} batches, " +
          f"${if (s.spanSec > 0) s.rows / s.spanSec else 0.0}%.0f msg/s, ${if (s.rows > 0) s.execMs.toDouble / s.rows else 0.0}%.4f ms/msg")
        name -> s
      }
    }

    def channelsJson(stats: Seq[(String, ChannelStats)]): String =
      stats.map { case (n, s) =>
        val msgSec = if (s.spanSec > 0) s.rows / s.spanSec else s.rows / s.wallSec
        val msPerMsg = if (s.rows > 0) s.execMs.toDouble / s.rows else 0.0
        val avgBatch = if (s.batches > 0) s.execMs.toDouble / s.batches else 0.0
        f"""\"$n\":{"rows":${s.rows},"batches":${s.batches},"msg_per_sec":$msgSec%.1f,"ms_per_msg":$msPerMsg%.4f,"avg_batch_ms":$avgBatch%.1f,"max_batch_ms":${s.maxBatchMs},"span_sec":${s.spanSec}%.1f,"extend_sec":${s.extendSec},"state_rows":${s.stateRows},"state_bytes":${s.stateBytes}}"""
      }.mkString("{", ",", "}")

    val js = channelsJson(runAll(rate))
    val sweepJs =
      if (sweepRates.isEmpty) ""
      else sweepRates.map(r => s""""$r":${channelsJson(runAll(r))}""")
        .mkString(""","rate_sweep":{""", ",", "}")
    val providerName = if (stateProvider.contains("RocksDB")) "rocksdb" else "memory"
    println(s"""{"metric":"streaming","rate_per_sec":$rate,"window_sec":$seconds,"n_symbols":$nSymbols,"state_provider":"$providerName","channels":$js$sweepJs}""")
    spark.stop()
  }
}
