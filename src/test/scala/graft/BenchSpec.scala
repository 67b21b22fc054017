package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s query selection, which runs before its session starts,
  * and the output digests of its A/B line. */
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

  test("the A/B line carries each query's repeatable row digest; the default line has none") {
    val q02 = Bench.selected(Some("q02_event_histogram"))
    def line(ab: Boolean): String = Bench.run(TestSpark.spark, TestSpark.sfDir, q02, ab)
    val plain = line(ab = false)
    assert(!plain.contains("\"ab\"") && !plain.contains("digests"), plain)
    val digest = Bench.digest(q02.head.fn(TestSpark.spark, TestSpark.sfDir))
    assert(digest.matches("[0-9a-f]{64}"), digest)
    val digested = line(ab = true)
    assert(digested.contains(s""""digests":{"q02_event_histogram":"$digest"},"errors":{}"""),
      digested)
  }
}
