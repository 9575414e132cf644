package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Gate on the bench's stdout metric-line contract (r15 VERDICT #7):
  * the round driver tails ~2000 chars of stdout and parses the JSON
  * line it finds there; r13's PERF comparison went dark when the stored
  * artifact failed to parse. This spec holds the line to: ONE line,
  * valid JSON, under the tail-window budget, leading with the fields
  * the driver reads — against worst-case inputs (a 300-query catalog
  * with long names and dozens of failures, so the compact path and its
  * list truncation are both exercised).
  */
class BenchMetricLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def syntheticQueries(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q_synthetic_operator_with_long_name_$i%03d", i * 0.017))

  private def fullLine(qs: Seq[(String, Double)]): String = {
    val qjson = qs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${qs.map(_._2).sum},"unit":"sec","queries":$qjson,"failed":[],"errors":{},"regressions":[],"adjudicated":{},"head_cold":{},"frame_builds":[],"sf":"/root/testdata/sf0.1"}"""
  }

  test("compact path: one line, valid JSON, under the tail budget") {
    val qs = syntheticQueries(300)
    val line = Bench.stdoutLine(fullLine(qs), qs.map(_._2).sum, qs,
      Nil, Nil, "bench_out.json", "/root/testdata/sf0.1", None)
    assert(!line.contains("\n"), "metric line must be a single line")
    assert(line.length <= Bench.stdoutBudget,
      s"metric line ${line.length} chars exceeds the ${Bench.stdoutBudget} tail budget")
    val node = mapper.readTree(line) // throws on invalid JSON
    assert(node.get("metric").asText() == "total")
    assert(node.get("n_queries").asInt() == 300)
    assert(node.get("queries_full").asText() == "bench_out.json")
    // compact map keeps the SLOWEST queries (the ones a reviewer needs)
    val kept = node.get("queries").fieldNames()
    assert(kept.hasNext && kept.next().endsWith("300"),
      "compact queries map must lead with the slowest entry")
  }

  test("short path: the full line passes through verbatim and parses") {
    val qs = syntheticQueries(3)
    val full = fullLine(qs)
    val line = Bench.stdoutLine(full, qs.map(_._2).sum, qs,
      Nil, Nil, "bench_out.json", "/root/testdata/sf0.1", None)
    assert(line == full)
    assert(mapper.readTree(line).get("queries").size() == 3)
  }

  test("worst case with many failures and a subset still fits and parses") {
    val qs = syntheticQueries(300)
    val failed = qs.take(60).map(_._1)
    val line = Bench.stdoutLine(fullLine(qs), qs.map(_._2).sum, qs,
      failed, failed, "bench_out_subset.json", "/tmp/graft_sf10", Some(60))
    assert(line.length <= Bench.stdoutBudget,
      s"metric line ${line.length} chars exceeds the ${Bench.stdoutBudget} tail budget")
    assert(!line.contains("\n"))
    val node = mapper.readTree(line)
    // lists are truncated to fit, the true counts survive
    assert(node.get("n_failed").asInt() == 60)
    assert(node.get("n_regressions").asInt() == 60)
    assert(node.get("failed").size() > 0)
    assert(node.get("failed").size() <= 60)
    assert(node.get("n_subset").asInt() == 60)
    assert(node.get("queries").size() > 0,
      "the queries map must keep at least the slowest entries")
  }

  test("long output and corpus paths: the headline shrinks so the line stays under budget") {
    val qs = syntheticQueries(300)
    Seq(400, 800).foreach { n =>
      val out = "/" + "o" * (n - 16) + "/bench_out.json"
      val sf = "/" + "d" * (n - 8) + "/sf0.1"
      val line = Bench.stdoutLine(fullLine(qs), qs.map(_._2).sum, qs,
        qs.take(60).map(_._1), Nil, out, sf, Some(300))
      assert(line.length <= Bench.stdoutBudget,
        s"$n-char paths: metric line ${line.length} chars exceeds the ${Bench.stdoutBudget} tail budget")
      assert(!line.contains("\n"))
      val node = mapper.readTree(line)
      assert(node.get("metric").asText() == "total")
      assert(node.get("n_queries").asInt() == 300)
      assert(node.get("n_failed").asInt() == 60)
      assert(node.get("queries_full").asText() == "bench_out.json")
      assert(node.get("sf").asText() == "sf0.1")
      assert(node.get("queries").size() > 0,
        "the queries map must keep at least the slowest entries")
    }
    // a basename too long for half the budget: the paths are left out
    val line = Bench.stdoutLine(fullLine(qs), qs.map(_._2).sum, qs,
      Nil, Nil, "o" * 900, "d" * 900, None)
    assert(line.length <= Bench.stdoutBudget)
    val node = mapper.readTree(line)
    assert(!node.has("queries_full") && !node.has("sf"))
    assert(node.get("queries").size() > 0)
  }
}
