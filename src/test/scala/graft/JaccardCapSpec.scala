package graft

import org.apache.spark.sql.functions.col

import graft.queries.TextQ

/** Cap-sensitivity of the "exact" n-gram Jaccard ground truth
  * (TextQ.maxShingleDf caveat): the DF cap bounds candidate
  * generation, so the emitted pair set is exact only RELATIVE to the
  * cap. Three facts pinned here:
  *
  *   1. monotonicity — capped pairs are a subset of uncapped pairs
  *      (raising the cap can only add candidates, never change a
  *      surviving pair's Jaccard);
  *   2. no-op at test SF — the production cap (1000) equals the
  *      uncapped result on this corpus, so MinhashRecallSpec's recall
  *      denominator is the truly-exact pair set here;
  *   3. sensitivity is real — a degenerate cap (1: every shared
  *      shingle disqualifies itself) hides every pair, demonstrating
  *      that consumers of the exact form must state the cap.
  */
class JaccardCapSpec extends SparkSpecBase {

  /** Jaccard ≥ 0.5 pairs of the catalog's candidate pass at `dfCap`. */
  private def pairSet(dfCap: Int): Map[(Long, Long), Double] = {
    val jac = col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared"))
    TextQ.candidatePairs(spark, sfDir, dfCap).filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), jac).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  test("capped pairs are a subset of uncapped pairs, with identical jaccard") {
    val capped = pairSet(TextQ.maxShingleDf)
    val uncapped = pairSet(Int.MaxValue)
    assert(capped.keySet.subsetOf(uncapped.keySet),
      s"cap added pairs: ${capped.keySet.diff(uncapped.keySet).take(5)}")
    capped.foreach { case (k, j) =>
      assert(uncapped(k) == j, s"jaccard drift for $k: ${uncapped(k)} vs $j")
    }
  }

  test("production cap is a no-op at test SF (recall baseline is truly exact)") {
    val capped = pairSet(TextQ.maxShingleDf)
    val uncapped = pairSet(Int.MaxValue)
    assert(uncapped.nonEmpty, "no near-dup pairs in fixture")
    assert(capped.keySet == uncapped.keySet,
      s"cap-invisible pairs at test SF: ${uncapped.keySet.diff(capped.keySet).take(5)}")
  }

  test("a degenerate cap hides pairs (cap sensitivity is real, not theoretical)") {
    val uncapped = pairSet(Int.MaxValue)
    val starved = pairSet(1)
    assert(uncapped.nonEmpty)
    assert(starved.size < uncapped.size,
      s"cap=1 should hide shared-shingle candidates (${starved.size} vs ${uncapped.size})")
  }
}
