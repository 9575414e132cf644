package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Bpe

/** Golden ground truth for the BPE kernel (the per-word half of the
  * q_doc_token_count_bpe gate; the oracle replays the per-document
  * half from the materialized word-token table).
  *
  * The training fixture is the classic corpus from Sennrich et al.
  * 2016 §3.2 (low/lower/newest/widest); the expected merges below are
  * HAND-COMPUTED under this implementation's stated tie-break
  * (count DESC, then lexicographically smallest pair).
  */
class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  private val sennrich = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("golden training: first five merges on the Sennrich corpus") {
    val merges = Bpe.train(sennrich, numMerges = 5)
    // iter 1: (e,s)=9 ties (s,t)=9 -> lexicographically smaller "e s"
    // iter 2: (es,t)=9; iter 3: (l,o)=7 ties (o,w)=7 -> "l o"
    // iter 4: (lo,w)=7; iter 5: (e,w)=6 ties (n,e),(w,est) -> "e w"
    assert(merges == IndexedSeq("e s", "es t", "l o", "lo w", "e w"))
  }

  test("golden encode: 'lowest' segments to [low, est] under those merges") {
    val ranks = Bpe.buildRanks(Bpe.train(sennrich, numMerges = 5))
    // l o w e s t -> l o w es t -> l o w est -> lo w est -> low est
    assert(Bpe.encodeCount("lowest", ranks) == 2)
    // n e w e s t -> n e w es t -> n e w est -> n ew est
    assert(Bpe.encodeCount("newest", ranks) == 3)
    // unseen word: only (e,s)/(es,t) fire -> s a d d est
    assert(Bpe.encodeCount("saddest", ranks) == 5)
    assert(Bpe.encodeCount("", ranks) == 0)
  }

  test("golden document count: whitespace split + per-word encode, memoized") {
    val ranks = Bpe.buildRanks(Bpe.train(sennrich, numMerges = 5))
    val cache = new java.util.HashMap[String, Integer]()
    assert(Bpe.countTokens("newest newest lowest", ranks, cache) == 3 + 3 + 2)
    assert(cache.get("newest") == 3) // memo populated
    // case/trim normalization matches TextFunctions.tokens semantics
    assert(Bpe.countTokens("  NEWEST\tlowest ", ranks, cache) == 3 + 2)
  }

  test("merge application is left-to-right on overlapping occurrences") {
    assert(Bpe.mergePair(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
    assert(Bpe.mergePair(Array("a", "a", "a", "a"), "a", "a").toSeq == Seq("aa", "aa"))
    assert(Bpe.mergePair(Array("x", "a", "b", "y", "a", "b"), "a", "b").toSeq ==
      Seq("x", "ab", "y", "ab"))
  }

  test("training is deterministic and input-order independent") {
    val a = Bpe.train(sennrich, 50)
    val b = Bpe.train(sennrich.reverse, 50)
    val c = Bpe.train(scala.util.Random.shuffle(sennrich), 50)
    assert(a == b && b == c)
  }

  test("training stops when no pair repeats (no single-word memorization)") {
    assert(Bpe.train(Seq(("ab", 1L), ("cd", 1L)), 10).isEmpty)
    // a pair shared by two count-1 words IS worth merging (weighted count 2)
    assert(Bpe.train(Seq(("ab", 1L), ("abc", 1L)), 1) == IndexedSeq("a b"))
  }

  test("native expression matches the driver kernel and propagates nulls") {
    val merges = Bpe.train(sennrich, 5)
    val ranks = Bpe.buildRanks(merges)
    val docs = Seq((0L, "newest newest lowest"), (1L, "low wider"), (2L, null))
      .toDF("doc_id", "text")
    val mergesCol = array(merges.map(lit): _*)
    val got = docs
      .select(col("doc_id"), call_function("bpe_token_count", col("text"), mergesCol).as("n"))
      .orderBy("doc_id").collect()
    val cache = new java.util.HashMap[String, Integer]()
    assert(got(0).getInt(1) == Bpe.countTokens("newest newest lowest", ranks, cache))
    assert(got(1).getInt(1) == Bpe.countTokens("low wider", ranks, cache))
    assert(got(2).isNullAt(1), "NULL text must yield NULL count")
  }

  test("expression stays inside WholeStageCodegen") {
    val merges = Bpe.train(sennrich, 5)
    // spark.range (not a local relation) so the projection cannot be
    // constant-folded away before reaching the physical plan
    val df = spark.range(8)
      .select(call_function("bpe_token_count",
        when(col("id") % 2 === 0, lit("newest")).otherwise(lit("lowest")),
        array(merges.map(lit): _*)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // the simple plan string marks WholeStageCodegen stages with "*(n)"
    assert(plan.contains("*(1) Project [bpe_token_count("),
      s"bpe_token_count fell out of WholeStageCodegen:\n$plan")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 2, 3, 2, 3, 2, 3, 2))
  }

  test("non-foldable merges argument is rejected at analysis time") {
    val df = Seq(("newest", Seq("e s"))).toDF("text", "m")
    val e = intercept[Exception] {
      df.select(call_function("bpe_token_count", col("text"), col("m"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable"),
      s"expected foldable-merges analysis error, got: ${e.getMessage}")
  }

  test("distributed trainMerges matches driver-side training on the same frequencies") {
    val docs = Seq.tabulate(60) { i =>
      (i.toLong, if (i % 3 == 0) "the newest gadget" else "a lower price")
    }.toDF("doc_id", "text")
    val freq = Map("the" -> 20L, "newest" -> 20L, "gadget" -> 20L,
      "a" -> 40L, "lower" -> 40L, "price" -> 40L)
    val expected = Bpe.train(freq.toSeq, graft.queries.BpeQ.numMerges)
    assert(graft.queries.BpeQ.trainMerges(docs) == expected)
  }
}
