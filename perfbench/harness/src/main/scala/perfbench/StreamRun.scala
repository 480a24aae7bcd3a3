package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.{Channels, IndexNearDup, StreamCandle}

/** Open-loop event generator: one thread that emits event `i` at its due
  * time on a fixed schedule, whatever the engine is doing. Each event is
  * stamped with its due time (as its event timestamp, unique per event),
  * and the generator records how late it ran for every event it emitted.
  * The rate can change between steps; the schedule continues from the
  * last due time. Bursts ([[burst]]) may be sent while the thread is not
  * running: before it starts, or after [[halt]]. */
final class Generator(cap: Int, epochMicros0: Long, emit: (Int, Int) => Unit) extends Thread("perfbench-generator") {
  val due = new Array[Long](cap)
  val tsMicros = new Array[Long](cap)
  val lateNs = new Array[Long](cap)
  @volatile var count = 0
  @volatile private var rate = 1.0
  @volatile private var running = true
  private val t0 = System.nanoTime()
  private var segFirst = 0
  private var segStart = t0
  private var segRate = 1.0
  setDaemon(true)

  def setRate(r: Double): Unit = rate = r
  def halt(): Unit = { running = false; join(5000) }

  /** Emits `n` events all due now, from the calling thread, while the
    * thread is not running. Their stamps follow the last one, a
    * microsecond apart. Returns the events' index range. */
  def burst(n: Int): (Int, Int) = {
    val now = System.nanoTime()
    val i = count
    val first = math.max(if (i == 0) epochMicros0 else tsMicros(i - 1) + 1, epochMicros0 + (now - t0) / 1000)
    var k = 0
    while (k < n) { due(i + k) = now; tsMicros(i + k) = first + k; k += 1 }
    count = i + n
    emit(i, i + n)
    (i, i + n)
  }

  private def dueOf(k: Int): Long = segStart + ((k - segFirst).toDouble * 1e9 / segRate).toLong

  override def run(): Unit = {
    var i = count
    segFirst = i
    segStart = System.nanoTime()
    segRate = rate
    while (running && i < cap) {
      if (rate != segRate) { segStart = dueOf(i); segFirst = i; segRate = rate }
      val now = System.nanoTime()
      var j = i
      while (j < cap && dueOf(j) <= now) {
        due(j) = dueOf(j)
        tsMicros(j) = epochMicros0 + (due(j) - t0) / 1000
        if (j > 0 && tsMicros(j) <= tsMicros(j - 1)) tsMicros(j) = tsMicros(j - 1) + 1
        j += 1
      }
      if (j > i) {
        emit(i, j)
        val after = System.nanoTime()
        var k = i
        while (k < j) { lateNs(k) = after - due(k); k += 1 }
        count = j
        i = j
      }
      LockSupport.parkNanos(Generator.FlushNs)
    }
  }

  /** Index of the event stamped `micros`, or -1. */
  def indexOf(micros: Long): Int = {
    val n = count
    val k = java.util.Arrays.binarySearch(tsMicros, 0, n, micros)
    if (k >= 0) k else -1
  }
}

object Generator {
  /** The generator wakes this often and emits every event that has come
    * due; an event waits at most this long (plus scheduling jitter) in
    * the generator, which its lateness records. */
  val FlushNs = 5000000L
}

/** What one channel's sink has seen, per event index. */
final class ChannelSink(val name: String, cap: Int, gen: () => Generator, tel: Telemetry, trace: Boolean) {
  val emitNs = new Array[Long](cap)
  val hashes = new Array[Int](cap)
  val dups = new AtomicInteger
  val unknown = new AtomicInteger
  val emitted = new AtomicLong
  val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()

  def onBatch(df: DataFrame, batchId: Long, tsCol: String): Unit = {
    val s0 = tel.now()
    val rows = df.select(unix_micros(col(tsCol)).as("t"),
      hash(df.columns.map(c => col(s"`$c`")): _*).as("h")).collect()
    val at = System.nanoTime()
    val g = gen()
    rows.foreach { r =>
      val k = g.indexOf(r.getLong(0))
      if (k < 0) unknown.incrementAndGet()
      else if (emitNs(k) != 0L) dups.incrementAndGet()
      else { emitNs(k) = at; hashes(k) = r.getInt(1) }
    }
    emitted.addAndGet(rows.length)
    val s1 = tel.now()
    sinkMs.add((s1 - s0) / 1e6)
    if (trace && rows.nonEmpty)
      tel.spans.add(Span(s"$name#$batchId", s"sink.$name", s0, s1, Map("rows" -> rows.length.toDouble)))
  }
}

/** An open loop fed by one generator thread into `MemoryStream`s, one per
  * channel (each channel gets every event).
  *
  * Set-up: session, any stored index the channel reads, query start,
  * [[StreamRun.WarmupBursts]] untimed bursts and a warm-up at the base
  * rate until every channel has emitted. Then a
  * base step at the base rate gives the event latencies, and a ladder of
  * steps doubling from the base rate finds the highest rate whose p99
  * latency stays within the limit without a growing backlog (latency
  * rising through the step by more than a quarter of the limit). Each rung
  * has a hard deadline: past it the rung fails and the harness moves on,
  * counting due-but-unemitted events as misses; it never waits on an
  * in-flight batch. Between rungs the generator drops back to the base
  * rate. Last, with the generator stopped and the backlog drained,
  * [[StreamRun.Bursts]] bursts of `burst` events each arrive at once; the
  * catch-up rate is a burst's events over the time until every channel
  * has emitted all of them (median of the bursts).
  *
  * The base step lasts `seconds`, each rung a quarter of that.
  * Arguments: `channels`, `base_rate` (events/s per channel), `limit_ms`,
  * `burst` (events; 0 for none), `seconds`, and for `index_near_dup` the
  * corpus `sf`. */
final class StreamRun(spark: SparkSession, tel: Telemetry, args: Map[String, String], out: Json) {
  import spark.implicits._
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val trace = args("trace") == "1"
  private val channels = args("channels").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  private val seed = args("seed").toLong
  private val baseRate = args("base_rate").toDouble
  private val limitNs = (args("limit_ms").toDouble * 1e6).toLong
  private val burstSize = args("burst").toInt
  private val seconds = args("seconds").toDouble
  private val cap = 2000000
  private val nearDup = channels == Seq("index_near_dup")
  private val work = args("work")
  private val epochMicros0 = 1700000040000000L
  private val checkpoints = new java.io.File(s"$work/checkpoints/${java.util.UUID.randomUUID()}")
  private val seedBase = (seed % 100000L + 100000L) % 100000L * 1000000L

  // a fixed partition count: by default each addData call would become a
  // partition (a task) of its own
  private val partitions = args("cpus").toInt
  private val tickStreams = channels.map(_ => MemoryStream[(Timestamp, Long)](partitions))
  private val vecStream = MemoryStream[(Long, Array[Double], Timestamp)](partitions)
  private var corpus: Array[Array[Double]] = Array.empty

  private def stamp(micros: Long): Timestamp = {
    val t = new Timestamp(micros / 1000)
    t.setNanos(((micros % 1000000) * 1000).toInt)
    t
  }

  /** The arrival vector of event `i`: three in ten are a corpus vector
    * plus noise (near-duplicates), the rest random directions. */
  private def vector(i: Int): Array[Double] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    val v =
      if (corpus.nonEmpty && r.nextDouble() < 0.3) {
        val c = corpus(r.nextInt(corpus.length))
        c.map(x => x + r.nextGaussian() * 0.05)
      } else Array.fill(64)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  @volatile private var gen: Generator = _
  private val sinks = channels.map(c => new ChannelSink(c, cap, () => gen, tel, trace))

  private def emit(from: Int, until: Int): Unit = {
    val g = gen
    if (nearDup) {
      vecStream.addData((from until until).map(k => (10000000L + k, vector(k), stamp(g.tsMicros(k)))))
    } else {
      val rows = (from until until).map(k => (stamp(g.tsMicros(k)), seedBase + k))
      tickStreams.foreach(_.addData(rows))
    }
  }

  private def ticksOf(raw: DataFrame): DataFrame =
    Channels.decorateTicks(raw.toDF("timestamp", "value"), 3)

  private def candles(ticks: DataFrame): Dataset[StreamCandle] =
    ticks.select(col("ts").as("bucket"), col("symbol"), col("bid").as("open"),
      col("ask").as("high"), col("bid").as("low"), col("mid").as("close")).as[StreamCandle]

  /** The channel's plan over a ticks (or arrivals) frame, batch or stream,
    * and the name of its event-time column. */
  private def channel(name: String, input: DataFrame, dir: String): (DataFrame, String) = name match {
    case "order_book"      => (Channels.orderBookStream(ticksOf(input)), "ts")
    case "ml_features"     => (Channels.featureStream(spark, ticksOf(input)).toDF(), "ts")
    case "trading_signals" =>
      (Channels.signalStream(Channels.featureStream(spark, ticksOf(input)).toDF()), "ts")
    case "heikin_ashi"     => (Channels.heikinAshiStream(spark, candles(ticksOf(input))).toDF(), "bucket")
    case "index_near_dup"  =>
      (IndexNearDup.nearDupStream(spark, dir, input.toDF("vec_id", "v", "ts")), "ts")
    case other => throw new IllegalArgumentException(s"unknown channel $other")
  }

  private def start(dir: String): Seq[StreamingQuery] = channels.zipWithIndex.map { case (name, i) =>
    val input = if (nearDup) vecStream.toDF() else tickStreams(i).toDF()
    val (df, tsCol) = channel(name, input, dir)
    val sink = sinks(i)
    df.writeStream.outputMode(OutputMode.Append())
      .trigger(Channels.channelTriggers.getOrElse(name, Trigger.ProcessingTime("1 second")))
      .option("checkpointLocation", s"$checkpoints/$name")
      .foreachBatch((b: DataFrame, id: Long) => { sink.onBatch(b, id, tsCol); () })
      .queryName(name).start()
  }

  private def backlog(): Long = {
    val n = gen.count.toLong
    sinks.map(s => n - s.emitted.get()).max
  }

  /** Runs one step at `rate` and judges it. */
  private def step(kind: String, rate: Double, seconds: Double): StreamRun.Step = {
    gen.setRate(rate)
    val a = gen.count
    val t0 = System.nanoTime()
    val samples = scala.collection.mutable.ArrayBuffer.empty[Long]
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      Thread.sleep(100)
      samples += backlog()
    }
    val b = gen.count
    gen.setRate(baseRate)
    val stepEnd = System.nanoTime()
    val n = (b - a).toLong * sinks.size
    val allowedLate = math.max(1L, n / 100)
    val deadline = stepEnd + limitNs
    var verdict = ""
    while (verdict.isEmpty) {
      val now = System.nanoTime()
      var pending = 0L
      var late = 0L
      sinks.foreach { s =>
        var k = a
        while (k < b) {
          val e = s.emitNs(k)
          if (e == 0L) { pending += 1; if (now - gen.due(k) > limitNs) late += 1 }
          else if (e - gen.due(k) > limitNs) late += 1
          k += 1
        }
      }
      if (late > allowedLate) verdict = "late"
      else if (pending == 0) verdict = "done"
      else if (now > deadline) verdict = "deadline"
      else Thread.sleep(50)
    }
    // a growing backlog shows as latency rising through the step: compare
    // the median latency of the step's last quarter of events with its first
    def quarterMedian(lo: Int, hi: Int): Double = {
      val xs = sinks.flatMap(s => (lo until hi).filter(k => s.emitNs(k) != 0L)
        .map(k => (s.emitNs(k) - gen.due(k)).toDouble)).sorted
      if (xs.isEmpty) Double.PositiveInfinity else xs(xs.size / 2) / 1e6
    }
    val q = math.max(1, (b - a) / 4)
    val growth = quarterMedian(b - q, b) - quarterMedian(a, a + q)
    val growing = !(growth <= limitNs / 1e6 / 4)
    val lat = sinks.flatMap(s => (a until b).filter(k => s.emitNs(k) != 0L)
      .map(k => (s.emitNs(k) - gen.due(k)) / 1e6)).sorted
    val missing = n - lat.size
    val p99 =
      if (missing > 0 && lat.isEmpty) Double.PositiveInfinity
      else {
        val all = lat ++ Seq.fill(missing.toInt)(Double.PositiveInfinity)
        all(math.min(all.size - 1, math.ceil(all.size * 0.99).toInt - 1))
      }
    val pass = verdict == "done" && p99 <= limitNs / 1e6 && !growing
    StreamRun.Step(new Json().str("kind", kind).num("rate", rate).num("from", a).num("until", b)
      .num("events", n).num("missing", missing).str("verdict", verdict)
      .num("p99_ms", p99).num("latency_growth_ms", growth).bool("growing", growing)
      .num("backlog_mean", if (samples.isEmpty) 0.0 else samples.sum.toDouble / samples.size)
      .bool("pass", pass), pass, a, b, deadline)
  }

  /** Waits for the backlog to drain (at most the latency limit), then
    * sends one burst and waits until every channel has emitted all of
    * it, or the limit has passed since it arrived. The burst arrives
    * just before a trigger: processing-time triggers fire on whole
    * multiples of their interval, and every channel's interval divides
    * [[StreamRun.TriggerAlignMs]], so the time measured is the engine's
    * and not the wait for the trigger's next tick. */
  private def burst(): Json = {
    val drainEnd = System.nanoTime() + limitNs
    while (backlog() > 0 && System.nanoTime() < drainEnd) Thread.sleep(20)
    val now = System.currentTimeMillis()
    val align = StreamRun.TriggerAlignMs
    var at = now / align * align + align - StreamRun.BurstLeadMs
    if (at < now + StreamRun.BurstLeadMs) at += align
    Thread.sleep(at - now)
    val (a, b) = gen.burst(burstSize)
    val t0 = gen.due(a)
    val deadline = t0 + limitNs
    def done = sinks.forall(s => (a until b).forall(k => s.emitNs(k) != 0L))
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
    val emitted = sinks.map(s => (a until b).count(k => s.emitNs(k) != 0L)).min
    val last = sinks.flatMap(s => (a until b).map(s.emitNs(_))).max
    val drainMs = if (emitted < b - a) limitNs / 1e6 else (last - t0) / 1e6
    new Json().num("from", a).num("until", b).num("events", b - a)
      .num("missing", sinks.map(s => (a until b).count(k => s.emitNs(k) == 0L)).sum)
      .num("drain_ms", drainMs).num("eps", emitted / (drainMs / 1000.0))
  }

  def run(): Unit = {
    val dir = s"$work/data/sf${args.getOrElse("sf", "0.001")}"
    var genMs = 0L
    var indexMs = 0.0
    if (nearDup) {
      genMs = DataGen.ensure(spark, dir, args("sf").toDouble)
      corpus = spark.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id")
        .select(transform(col("embedding"), x => x.cast("double"))).as[Array[Double]].collect()
      // the stored index is built on first use; build it here, in set-up
      val i0 = System.nanoTime()
      graft.BenchAction.consume(IndexNearDup.nearDupStream(spark, dir,
        Seq((1L, vector(0), stamp(epochMicros0))).toDF("vec_id", "v", "ts")))
      indexMs = (System.nanoTime() - i0) / 1e6
    }
    val q0 = System.nanoTime()
    gen = new Generator(cap, epochMicros0, emit)
    gen.setRate(baseRate)
    val queries = start(dir)
    // the first large batches run slower while the JIT compiles their
    // paths; warm them up here, before the generator starts
    if (burstSize > 0) (1 to StreamRun.WarmupBursts).foreach(_ => burst())
    gen.start()
    val hardWarm = System.nanoTime() + 60000000000L
    while ((System.nanoTime() - q0) / 1e9 < StreamRun.WarmupS ||
           (sinks.exists(_.emitted.get() == 0) && System.nanoTime() < hardWarm)) Thread.sleep(50)
    val warmMs = (System.nanoTime() - q0) / 1e6
    out.num("setup_end_epoch_ms", System.currentTimeMillis().toDouble)
    val gc0 = Jvm.gcMs
    val compiles0 = Jvm.compiles; val compileMs0 = Jvm.compileMs

    val baseStart = tel.now()
    val base = step("base", baseRate, seconds)
    out.num("base_start_ns", baseStart.toDouble).num("base_end_ns", tel.now().toDouble)
    val rungs = scala.collection.mutable.ArrayBuffer(base)
    var rate = baseRate
    while (rungs.last.pass && rungs.size <= StreamRun.MaxRungs) {
      rate *= 2
      rungs += step("rung", rate, seconds / 4)
    }
    gen.halt()
    val bursts = if (burstSize > 0) (1 to StreamRun.Bursts).map(_ => burst()) else Nil
    val gcMs = Jvm.gcMs - gc0
    val compiles1 = Jvm.compiles; val compileMs1 = Jvm.compileMs
    queries.foreach(q => try q.stop() catch { case _: Throwable => () })
    org.apache.commons.io.FileUtils.deleteQuietly(checkpoints)
    val heapPeak = Jvm.liveHeapMb()

    // output check at the base rate: every event exactly once, by the
    // step's deadline (its end plus the latency limit), with the row the
    // same channel emits when run as a batch
    val (a, b) = (base.from, base.until)
    val checks = sinks.zipWithIndex.map { case (s, i) =>
      val batchInput =
        if (nearDup) (a until b).map(k => (10000000L + k, vector(k), stamp(gen.tsMicros(k))))
          .toDF("vec_id", "v", "ts")
        else (0 until b).map(k => (stamp(gen.tsMicros(k)), seedBase + k)).toDF("timestamp", "value")
      val (df, tsCol) = channel(s.name, batchInput, dir)
      val expected = df.select(unix_micros(col(tsCol)).as("t"),
          hash(df.columns.map(c => col(s"`$c`")): _*).as("h")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      var missing = 0; var late = 0; var wrong = 0
      val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
      (a until b).foreach { k =>
        val e = s.emitNs(k)
        if (e == 0L) missing += 1
        else {
          val ms = (e - gen.due(k)) / 1e6
          lat += ms
          if (e > base.deadline) late += 1
          if (!expected.get(gen.tsMicros(k)).contains(s.hashes(k))) wrong += 1
        }
      }
      new Json().str("channel", s.name).num("events", b - a).num("missing", missing)
        .num("late", late).num("wrong", wrong).num("duplicates", s.dups.get())
        .num("unknown", s.unknown.get())
        .nums("latency_ms", lat)
        .nums("sink_ms", scala.jdk.CollectionConverters.IterableHasAsScala(s.sinkMs).asScala.map(_.doubleValue))
    }
    out.num("datagen_ms", genMs).num("cold_ms", warmMs).num("index_build_ms", indexMs)
      .num("gc_ms", gcMs).num("heap_peak_mb", heapPeak).num("heap_after_gc_mb", Jvm.heapAfterGcMb)
      .num("codegen_compiles_cold", compiles0).num("codegen_compile_ms_cold", compileMs0)
      .num("codegen_compiles_warm", compiles1 - compiles0)
      .num("codegen_compile_ms_warm", compileMs1 - compileMs0)
      .nums("gen_late_ms", (a until b).map(k => gen.lateNs(k) / 1e6))
      .str("kind", "stream").num("base_rate", baseRate).num("limit_ms", limitNs / 1e6)
      .objs("rungs", rungs.map(_.json)).objs("bursts", bursts).objs("channels", checks)
  }
}

object StreamRun {
  /** Seconds of warm-up at the base rate (at least until every channel
    * has emitted); part of set-up. */
  val WarmupS = 1
  /** Ladder rungs above the base rate at most. */
  val MaxRungs = 1
  /** Catch-up bursts after the ladder. */
  val Bursts = 4
  /** Untimed bursts in set-up. */
  val WarmupBursts = 1
  /** A common multiple of the channels' trigger intervals
    * (`Channels.channelTriggers` and the 1 s default: 200 ms to 1 s). */
  val TriggerAlignMs = 1000L
  /** How long before a trigger tick a burst arrives. */
  val BurstLeadMs = 30L

  /** One judged step: its record, whether it held, its event range and
    * its deadline (epoch of the monotonic clock, ns). */
  final case class Step(json: Json, pass: Boolean, from: Int, until: Int, deadline: Long)
}
