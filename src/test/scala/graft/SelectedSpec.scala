package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` (and Verify's / Diag's name argument) resolve in
  * one place; a typo must fail the run, not run zero queries and write
  * an `n: 0` artifact. */
class SelectedSpec extends AnyFunSuite {

  test("unset selects the whole registry") {
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
  }

  test("headline selects exactly the bench headline set") {
    assert(SparkEntry.selected(Some("headline")).keySet == Bench.headline.toSet)
  }

  test("a comma-separated list selects its names, spaces trimmed") {
    assert(SparkEntry.selected(Some(" q1_agg, a4_resample ")).keySet ==
      Set("q1_agg", "a4_resample"))
  }

  test("an unknown name fails and is named in the error") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q1_agg,q1_agg_typo")))
    assert(e.getMessage.endsWith("not in the registry: q1_agg_typo"))
  }

  test("an empty list fails") {
    Seq("", ",", " , ").foreach { spec =>
      intercept[IllegalArgumentException](SparkEntry.selected(Some(spec)))
    }
  }
}
