package graft

import org.apache.spark.sql.functions._

import graft.queries.TextQ

/** Ground truth for the count-min-sketch heavy-hitter kernel
  * (q_doc_cms_topgrams): the CMS invariants — overestimate-only, no
  * false negatives — pinned on a forced-collision width, the planted
  * heavy hitter surfacing end-to-end, and near-exactness at the
  * production width on the fixture corpus.
  */
class CmsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Driver-side exact bigram counts (the oracle the sketch is judged
    * against), built with the same tokenizer semantics.
    */
  private def exact(rows: Seq[String]): Map[String, Long] =
    rows.flatMap { t =>
      val tok = graft.functions.TextFunctions.tokensLocal(t)
      if (tok.length < 2) Seq.empty
      else tok.dropRight(1).zip(tok.drop(1)).map { case (a, b) => s"$a $b" }
    }.groupBy(identity).map { case (g, occ) => g -> occ.size.toLong }

  private val fixture = Seq(
    (1L, "alpha beta " * 40 + "gamma delta"),
    (2L, "alpha beta gamma delta epsilon zeta"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "one two one two one two one two one two"),
    (5L, "unique phrase here appears just once"))

  private def fixtureDf = fixture.toDF("doc_id", "text")

  /** Both passes, as the catalog entry runs them: sketch, then scan. */
  private def topGrams(docs: org.apache.spark.sql.DataFrame, depth: Int,
                       prefixLen: Int, divisor: Long) =
    TextQ.cmsTopGramsWith(docs, TextQ.cmsSketch(docs, depth, prefixLen), depth,
      prefixLen, divisor)

  test("forced-collision width: estimates only ever overestimate, no false negatives") {
    // prefixLen=1 → 16 buckets/row: collisions guaranteed on ~60 grams
    val out = topGrams(fixtureDf, depth = 4, prefixLen = 1, divisor = 20)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val truth = exact(fixture.map(_._2))
    val n = truth.values.sum
    val threshold = (n + 19) / 20
    out.foreach { case (g, (est, ex)) =>
      assert(ex == truth(g), s"exact count wrong for '$g'")
      assert(est >= ex, s"CMS underestimated '$g': est=$est exact=$ex")
    }
    truth.filter(_._2 >= threshold).keys.foreach { g =>
      assert(out.contains(g), s"false negative: heavy gram '$g' missing")
    }
  }

  test("planted heavy hitter dominates the survivor list") {
    val out = topGrams(fixtureDf, depth = 4, prefixLen = 3, divisor = 10)
      .collect()
    assert(out.nonEmpty)
    // 'alpha beta' occurs 41 times (40 in doc 1 via the trailing-space
    // join + 1 in doc 2) — the top survivor by exact count
    assert(out.head.getString(0) == "alpha beta", out.head.toString)
    assert(out.head.getLong(2) >= 40)
  }

  test("production width on the corpus: estimates are near-exact and deterministic") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val out = topGrams(docs, TextQ.cmsDepth, TextQ.cmsPrefixLen,
      TextQ.cmsThresholdDivisor).collect()
    assert(out.nonEmpty, "corpus survivor list must not be empty")
    val exactFrac = out.count(r => r.getLong(1) == r.getLong(2)).toDouble / out.length
    assert(exactFrac > 0.5,
      f"at 4×4096 cells most estimates should be collision-free; got $exactFrac%.2f")
    out.foreach(r => assert(r.getLong(1) >= r.getLong(2), s"underestimate: $r"))
    val again = topGrams(docs, TextQ.cmsDepth, TextQ.cmsPrefixLen,
      TextQ.cmsThresholdDivisor).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("catalog query is the kernel at production parameters") {
    val a = SparkEntry.queries("q_doc_cms_topgrams")(spark, sfDir).collect()
    val b = topGrams(graft.sources.Tables.documents(spark, sfDir),
      TextQ.cmsDepth, TextQ.cmsPrefixLen, TextQ.cmsThresholdDivisor).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }
}
