package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Entry point of the harness JVM. `perfbench/run.py` starts it with
  * `key=value` arguments, reads the raw result file it writes, checks
  * the outputs and turns the samples into metrics.
  *
  * Arguments: `workload`, `kind` (batch | stream), `seed`, `seconds`,
  * `trace` (0 | 1), `work` (scratch directory), `out` (result file),
  * `cpus`, and per kind the workload's parameters (see [[BatchRun]]
  * and [[StreamRun]]). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got $a")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val work = args("work")
    val cpus = args("cpus").toInt
    val trace = args("trace") == "1"
    val t0 = System.nanoTime()
    val spark = EngineSession.build(cpus, work)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tel = new Telemetry(spark)
    if (trace) tel.attach()
    val result = new Json
    result.num("session_ms", sessionMs)
    result.num("jvm_start_epoch_ms", ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    result.str("spark_version", spark.version)
    result.num("cpus", cpus.toDouble)
    try {
      args("kind") match {
        case "batch"  => new BatchRun(spark, tel, args, result).run()
        case "stream" => new StreamRun(spark, tel, args, result).run()
        case other    => throw new IllegalArgumentException(s"unknown kind $other")
      }
      if (trace) {
        tel.settle()
        tel.detach()
        val pw = new PrintWriter(new File(args("out") + ".spans.jsonl"))
        try tel.spans.forEach { s =>
          val j = new Json
          j.str("op", s.op); j.str("name", s.name)
          j.num("start", s.start.toDouble); j.num("end", s.end.toDouble)
          if (s.attrs.nonEmpty) j.obj("attrs", { val a = new Json; s.attrs.foreach { case (k, v) => a.num(k, v) }; a })
          pw.println(j.render)
        } finally pw.close()
      }
      val pw = new PrintWriter(new File(args("out")))
      try pw.println(result.render) finally pw.close()
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
  }
}

/** The one way the harness builds a session: the host's size
  * (`local[cpus]`, shuffle partitions = cpus) through `EngineConf.tune`,
  * as the engine's own benchmark does, with every scratch path inside
  * the benchmark's work directory. */
object EngineSession {
  def build(cpus: Int, work: String): SparkSession = {
    val s = graft.EngineConf.tune(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.stopTimeout", "5s"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A minimal ordered JSON object writer (numbers, strings, arrays, nesting). */
final class Json {
  private val parts = scala.collection.mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(k: String, v: Double): Json = { parts += s"${q(k)}:${n(v)}"; this }
  def str(k: String, v: String): Json = { parts += s"${q(k)}:${q(v)}"; this }
  def bool(k: String, v: Boolean): Json = { parts += s"${q(k)}:$v"; this }
  def obj(k: String, v: Json): Json = { parts += s"${q(k)}:${v.render}"; this }
  def nums(k: String, vs: Iterable[Double]): Json = {
    parts += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"; this
  }
  def objs(k: String, vs: Iterable[Json]): Json = {
    parts += s"${q(k)}:${vs.map(_.render).mkString("[", ",", "]")}"; this
  }
  def render: String = parts.mkString("{", ",", "}")
}
