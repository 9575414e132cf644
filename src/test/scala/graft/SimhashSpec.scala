package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{fastSimhash64, hammingDist, tokens}

/** Ground truth for the no-oracle q_doc_simhash: hamming-distance
  * sanity of the signature itself, plus end-to-end behavior on the
  * documents fixture.
  */
class SimhashSpec extends SparkSpecBase {
  import spark.implicits._

  private def sig(texts: String*): Map[String, Long] =
    texts.toSeq.toDF("t")
      .select(col("t"), fastSimhash64(tokens(col("t"))).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("identical token streams hash identically (hamming 0)") {
    val s = sig("alpha beta gamma delta", "ALPHA  beta   GAMMA delta ")
    assert(s.values.toSet.size == 1, "tokenization should normalize case/whitespace")
  }

  test("small edits stay close, unrelated texts stay far") {
    val base = "the committee approved the annual budget for the public library system"
    val near = "the committee approved the annual budget for the public school system"
    val far = "quantum entanglement experiments require ultra cold dilution refrigerators"
    val s = sig(base, near, far)
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dNear = ham(s(base), s(near))
    val dFar = ham(s(base), s(far))
    assert(dNear < dFar, s"near=$dNear should be < far=$dFar")
    assert(dNear <= 12, s"one-word edit drifted $dNear bits")
  }

  test("hammingDist column matches JVM bitCount") {
    val df = Seq((0x0fL, 0xf0L), (0L, -1L), (12345L, 12345L)).toDF("a", "b")
      .select(col("a"), col("b"), hammingDist(col("a"), col("b")).cast("long").as("h"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, h) =>
      assert(h == java.lang.Long.bitCount(a ^ b))
    }
  }

  test("q_doc_simhash emits only pairs within the hamming threshold, symmetric-free") {
    val rows = SparkEntry.queries("q_doc_simhash")(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long")).collect()
    assert(rows.nonEmpty, "expected near-dup pairs in the fixture corpus")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered doc_a < doc_b")
      assert(r.getLong(2) <= 6, "hamming threshold violated")
    }
    // exact-dedup copies (identical text) must be simhash-identical
    val copies = SparkEntry.queries("q_doc_exact_dedup")(spark, sfDir)
      .filter(col("n_copies") > 1).collect()
    if (copies.nonEmpty) {
      val pairSet = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairSet.exists(_._3 == 0), "identical docs should appear at hamming 0")
    }
  }

  test("native simhash64 is bit-identical to the UDF and stays in codegen") {
    val docs = Seq("alpha beta gamma delta", "alpha beta beta gamma",
      "completely different tokens").toDF("t")
      .select(tokens(col("t")).as("tok"))
    val viaUdf = docs.select(ReferenceKernels.simhash64(col("tok")).as("s"))
      .collect().map(_.getLong(0))
    val viaNative = docs.select(fastSimhash64(col("tok")).as("s")).collect().map(_.getLong(0))
    assert(viaUdf.toSeq == viaNative.toSeq)
    val plan = docs.select(fastSimhash64(col("tok")).as("s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // NULL array -> NULL signature (intentional divergence from the
    // legacy UDF's accidental 0L; see Simhash64 scaladoc)
    val nullRow = Seq((1, Option.empty[Seq[String]])).toDF("id", "tok")
      .select(fastSimhash64(col("tok")).as("s")).collect().head
    assert(nullRow.isNullAt(0))
  }
}
