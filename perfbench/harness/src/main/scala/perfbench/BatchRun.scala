package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A closed loop with one client over a fixed list of registry ops.
  *
  * Set-up is the cold pass, every op once through its public registry
  * entry in name order, then [[BatchRun.WarmupSweeps]] untimed sweeps
  * while the JIT settles. The timed part then runs whole sweeps until
  * `seconds` have passed; each sweep runs every op once, warm ops through
  * `SparkEntry.benchImpls` where the engine's own benchmark does, in an
  * order permuted by the seed in which write ops keep their relative
  * order. At least [[BatchRun.MinSweeps]] sweeps the host did not disturb
  * run (see [[BatchRun.MaxStealPct]]): an op's time depends on the ops
  * before it, so a run averages over several orders. Each op
  * call is `op.build` (the registry function) followed by `op.execute`
  * (`BenchAction.consume`), and reports its rows and checksum for the
  * output check.
  *
  * Arguments: `sf`, `ops` and `writes` (comma-separated registry names;
  * writes are a subset of ops), `index_ops` (ops whose
  * first call builds a stored index). With tracing on, sweeps alternate
  * between traced and untraced so the tracing overhead is measured in
  * the same process. */
final class BatchRun(spark: SparkSession, tel: Telemetry, args: Map[String, String], out: Json) {
  private def list(k: String): Seq[String] =
    args.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private val trace = args("trace") == "1"
  private val ops = list("ops")
  private val writes = list("writes").toSet
  private val indexOps = list("index_ops").toSet
  private val registry = graft.SparkEntry.queries
  private val impls = graft.SparkEntry.benchImpls
  private val calls = scala.collection.mutable.ArrayBuffer.empty[Json]

  private def call(phase: String, sweep: Int, name: String,
                   fn: (SparkSession, String) => DataFrame, dir: String): Double = {
    val opId = s"$phase.$sweep.$name"
    val sc = spark.sparkContext
    sc.setJobGroup(opId, name, interruptOnCancel = false)
    val before = sc.getPersistentRDDs.keySet
    val j = new Json().str("op", name).str("id", opId).str("phase", phase).num("sweep", sweep)
    val start = tel.now()
    var mid = start
    try {
      val df = fn(spark, dir)
      mid = tel.now()
      val (rows, sum) = graft.BenchAction.consume(df)
      j.num("rows", rows.toDouble).str("sum", sum.toString)
    } catch {
      case e: Throwable =>
        if (mid == start) mid = tel.now()
        j.str("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
    }
    val end = tel.now()
    sc.clearJobGroup()
    val newPersisted = (sc.getPersistentRDDs.keySet -- before).size
    j.num("start", start.toDouble).num("mid", mid.toDouble).num("end", end.toDouble)
      .num("ms", (end - start) / 1e6).num("persisted_new", newPersisted)
      .bool("traced", trace && tel.isAttached)
    calls += j
    (end - start) / 1e6
  }

  /** The seed's order for one sweep: reads shuffled, writes kept in order. */
  private def order(seed: Long, sweep: Int): Seq[String] = {
    val shuffled = new Random(seed * 1000003L + sweep).shuffle(ops)
    val ws = ops.filter(writes).iterator
    shuffled.map(o => if (writes(o)) ws.next() else o)
  }

  def run(): Unit = {
    val unknown = ops.filterNot(registry.contains)
    require(unknown.isEmpty, s"ops not in the registry: ${unknown.mkString(", ")}")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val dir = s"${args("work")}/data/sf${args("sf")}"
    val genMs = DataGen.ensure(spark, dir, args("sf").toDouble)

    val coldStart = System.nanoTime()
    var indexMs = 0.0
    val gc0 = Jvm.gcMs
    val compiles0 = Jvm.compiles; val compileMs0 = Jvm.compileMs
    ops.sorted.foreach { name =>
      val ms = call("cold", 0, name, registry(name), dir)
      if (indexOps(name)) indexMs += ms
    }
    val coldMs = (System.nanoTime() - coldStart) / 1e6
    // warm-up sweeps: the JIT keeps speeding the sweeps up for several
    // passes after the cold one, so they belong to set-up, not to the
    // timed sweeps
    (1 to BatchRun.WarmupSweeps).foreach { w =>
      order(seed, -w).foreach(name => call("warmup", w, name, impls.getOrElse(name, registry(name)), dir))
    }
    val coldCompiles = Jvm.compiles - compiles0
    val coldCompileMs = Jvm.compileMs - compileMs0
    // the first timed op starts here
    out.num("setup_end_epoch_ms", System.currentTimeMillis().toDouble)

    val compiles1 = Jvm.compiles; val compileMs1 = Jvm.compileMs
    val warmStart = System.nanoTime()
    val sweeps = scala.collection.mutable.ArrayBuffer.empty[Json]
    var sweep = 0
    var quiet = 0
    while ((quiet < BatchRun.MinSweeps || (System.nanoTime() - warmStart) / 1e9 < seconds) &&
           sweep < BatchRun.MinSweeps + BatchRun.MaxExtraSweeps) {
      sweep += 1
      // traced runs alternate traced and untraced sweeps
      if (trace) { if (sweep % 2 == 1) tel.attach() else { tel.settle(); tel.detach() } }
      val cpu0 = Host.cpu()
      val s0 = System.nanoTime()
      order(seed, sweep).foreach(name => call("warm", sweep, name, impls.getOrElse(name, registry(name)), dir))
      val steal = Host.stealPct(cpu0, Host.cpu())
      if (steal <= BatchRun.MaxStealPct) quiet += 1
      val s = new Json().num("sweep", sweep).num("ms", (System.nanoTime() - s0) / 1e6)
        .num("steal_pct", steal)
        .bool("traced", trace && tel.isAttached)
      sweeps += s
    }
    // a full collection before or between timed sweeps slows the next
    // one (it clears soft-referenced memos and cools caches), so the live
    // heap is read once, at the end
    val heapPeak = Jvm.liveHeapMb()
    if (trace) tel.attach()
    out.num("datagen_ms", genMs).num("cold_ms", coldMs).num("index_build_ms", indexMs)
      .num("codegen_compiles_cold", coldCompiles).num("codegen_compile_ms_cold", coldCompileMs)
      .num("codegen_compiles_warm", Jvm.compiles - compiles1)
      .num("codegen_compile_ms_warm", Jvm.compileMs - compileMs1)
      .num("gc_ms", Jvm.gcMs - gc0).num("heap_peak_mb", heapPeak)
      .num("heap_after_gc_mb", Jvm.heapAfterGcMb)
      .num("memo_storage_mb",
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      .str("kind", "batch")
      .objs("calls", calls).objs("sweeps", sweeps)
  }
}

object BatchRun {
  val WarmupSweeps = 2
  val MinSweeps = 7
  /** A sweep during which the host gave more than this share of the
    * machine's CPU time to other guests is disturbed: such sweeps ran up
    * to 60 % slower. run.py leaves them out, so the loop runs up to
    * [[MaxExtraSweeps]] more to get [[MinSweeps]] undisturbed ones. */
  val MaxStealPct = 2.0
  val MaxExtraSweeps = 2
}
