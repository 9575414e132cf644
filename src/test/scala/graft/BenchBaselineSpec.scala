package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's baseline reader: which pin gates a run, and which of the
  * pin's time maps each query is gated against.
  */
class BenchBaselineSpec extends AnyFunSuite {
  private def pin(sf: String, queries: String, extra: String = ""): String =
    s"""{"metric":"total","value":1.0,"unit":"sec","queries":{$queries},$extra"sf":"$sf"}"""

  test("picks the pin whose sf stamp matches the corpus among candidates") {
    val pins = Seq(pin("/data/sf1", "\"q_a\":5.0"), pin("/data/sf0.1", "\"q_a\":2.0"))
    // trailing slash and relative spelling normalize to the same corpus
    assert(Bench.baseline(pins, "/data/sf0.1/", explicit = false, subset = false)
      .contains(Map("q_a" -> 2.0)))
    assert(Bench.baseline(pins, "/data/sf0.1/../sf1", explicit = false, subset = false)
      .contains(Map("q_a" -> 5.0)))
    assert(Bench.baseline(pins, "/data/sf10", explicit = false, subset = false).isEmpty)
    // a pin without an sf stamp gates only when named explicitly
    val unstamped = Seq("""{"queries":{"q_a":3.0}}""")
    assert(Bench.baseline(unstamped, "/data/sf10", explicit = false, subset = false).isEmpty)
    assert(Bench.baseline(unstamped, "/data/sf10", explicit = true, subset = false)
      .contains(Map("q_a" -> 3.0)))
    // an unparseable candidate is skipped, not fatal
    assert(Bench.baseline("{not json" +: pins, "/data/sf1", explicit = false, subset = false)
      .contains(Map("q_a" -> 5.0)))
  }

  test("an adjudicated entry never overrides the queries entry") {
    val p = pin("/data/sf0.1", "\"q_a\":1.0,\"q_b\":2.0",
      "\"adjudicated\":{\"q_a\":9.0,\"q_c\":4.0},")
    assert(Bench.baseline(Seq(p), "/data/sf0.1", explicit = false, subset = false)
      .contains(Map("q_a" -> 1.0, "q_b" -> 2.0)))
  }

  test("a subset run gates a head query against its head_cold pin") {
    val p = pin("/data/sf0.1", "\"q1_pricing_summary\":1.0,\"q_b\":2.0",
      "\"head_cold\":{\"q1_pricing_summary\":2.5},")
    assert(Bench.baseline(Seq(p), "/data/sf0.1", explicit = false, subset = true)
      .contains(Map("q1_pricing_summary" -> 2.5, "q_b" -> 2.0)))
    // a full-catalog run re-times its head warm: the warm pin gates it
    assert(Bench.baseline(Seq(p), "/data/sf0.1", explicit = false, subset = false)
      .contains(Map("q1_pricing_summary" -> 1.0, "q_b" -> 2.0)))
  }
}
