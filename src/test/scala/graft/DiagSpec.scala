package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Smoke tests of the diagnostics main's modes at sf0.001. */
class DiagSpec extends SparkSpec {

  private def quietly[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream
    val r = Console.withOut(buf)(body)
    (r, buf.toString("UTF-8"))
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("bytes on two queries writes SHUFFLE_<sf>.json with the audit's keys") {
    val dir = Files.createTempDirectory("diag-bytes")
    try {
      val qs = SparkEntry.selected(Some("q1_agg,a4_resample")).toSeq.sortBy(_._1)
      val (path, printed) = quietly(Diag.bytes(spark, sfDir, qs, dir.toString))
      assert(path == dir.resolve("SHUFFLE_sf0.001.json").toString)
      assert(printed.contains("\"metric\":\"shuffle_audit\""))
      val js = new ObjectMapper().readTree(new File(path))
      assert(keys(js) == Set("sf", "n_queries", "errors", "queries"))
      assert(js.get("sf").asText == sfDir)
      assert(js.get("n_queries").asInt == 2 && js.get("errors").size == 0)
      assert(keys(js.get("queries")) == Set("q1_agg", "a4_resample"))
      qs.foreach { case (name, _) =>
        val row = js.get("queries").get(name)
        assert(keys(row) == Set("settled", "shuffle_read", "shuffle_write",
          "spill_mem", "spill_disk", "input_read", "task_time_ms",
          "sum_peak_exec_mem", "stages", "jobs", "wall_ms"), name)
        assert(row.get("jobs").asLong > 0 && row.get("input_read").asLong > 0, name)
      }
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      dir.toFile.delete()
    }
  }

  test("run explain heads each plan with its name, and bench variants with /bench") {
    val qs = SparkEntry.selected(Some("q1_agg,ann_sq8_serve")).toSeq.sortBy(_._1)
    val (_, printed) = quietly(Diag.run(spark, sfDir, qs, explain = true))
    val headers = printed.linesIterator.filter(l => l.startsWith("== ") && l != "== Physical Plan ==")
    assert(headers.toSeq == Seq("== ann_sq8_serve ==", "== ann_sq8_serve/bench ==", "== q1_agg =="))
    assert("== Physical Plan ==".r.findAllIn(printed).size == 3, printed)
  }

  test("graph on graph_kcore prints its run line") {
    val qs = SparkEntry.selected(Some("graph_kcore")).toSeq
    val (_, printed) = quietly(Diag.graph(spark, sfDir, qs))
    val run = """\[telemetry\] graph_kcore: \d+\.\d\d s, \d+ rows, \d+ distributed loop run\(s\)""".r
    assert(printed.linesIterator.exists(run.matches), printed)
  }
}
