package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s query selection, which runs before its session starts. */
class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_AB selects the named queries in inventory order") {
    assert(Bench.selected(None) === SparkEntry.inventory)
    assert(Bench.selected(Some("q02_event_histogram, q01_pricing_summary,")).map(_.name) ===
      Seq("q01_pricing_summary", "q02_event_histogram"))
  }

  test("an unknown SPARK_GRAFT_AB name fails the run and is named") {
    val e = intercept[IllegalArgumentException](
      Bench.selected(Some("q01_pricing_summary,q99_typo,q01_pricing_sumary")))
    assert(e.getMessage.contains("q01_pricing_sumary, q99_typo"), e.getMessage)
  }
}
