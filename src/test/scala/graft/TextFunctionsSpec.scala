package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Unit coverage for the native text primitives, including the
  * short-document guard on shingles (sequence(0, size-n) steps down
  * when size<n — previously only safe behind callers' prefilters).
  */
class TextFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("shingles emits n-grams for size >= n") {
    val out = Seq("one two three four").toDF("t")
      .select(shingles(tokens(col("t")), 3).as("s"))
      .head.getSeq[String](0)
    assert(out == Seq("one two three", "two three four"))
  }

  test("shingles returns an EMPTY array for docs shorter than n (guard)") {
    val out = Seq("one two", "one", "").toDF("t")
      .select(shingles(tokens(col("t")), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(out.forall(_.isEmpty), s"expected empty shingle arrays, got ${out.toSeq}")
  }

  test("tokens lowercases, trims, and splits on whitespace runs") {
    val out = Seq("  Hello\tWORLD  again ").toDF("t")
      .select(tokens(col("t")).as("k")).head.getSeq[String](0)
    assert(out == Seq("hello", "world", "again"))
  }

  test("bpeTokenCount counts word pieces plus isolated punctuation") {
    val out = Seq("Hi, there! ok").toDF("t")
      .select(bpeTokenCount(col("t")).as("n")).head.getInt(0)
    // Hi , there ! ok
    assert(out == 5)
  }

  test("minhash signatures: identical shingle sets agree, length is k") {
    val df = Seq("a b c d e f", "a b c d e f", "totally different words here now")
      .toDF("t")
      .select(fastMinhashSig(shingles(tokens(col("t")), 3)).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.length == minhashK))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("minhash similarity estimates true jaccard within tolerance") {
    // two 60%-overlapping shingle sets: estimated J = fraction of
    // matching signature slots ≈ true J within sampling error of k=16
    val words = (1 to 30).map(i => s"w$i")
    val a = words.take(25).mkString(" ")
    val b = words.drop(5).mkString(" ")
    val sigs = Seq(a, b).toDF("t")
      .select(fastMinhashSig(shingles(tokens(col("t")), 3)).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }.toDouble / minhashK
    // true jaccard of the 3-shingle sets: |∩|=18, |∪|=28 → ≈ 0.643
    assert(est > 0.2 && est < 1.0, s"estimate $est implausible for J≈0.64")
  }

  test("unigram surprisal: quantized bits match hand computation") {
    // corpus: 'a' x5, 'b' x1 -> total 6 tokens
    // ilog2 via length(bin(x))-1: ilog2(6)=2, ilog2(5)=2, ilog2(1)=0
    // bits(a) = 2-2 = 0; bits(b) = 2-0 = 2
    val docs = Seq(
      (1L, "a a a a", "en", "t", 0L),
      (2L, "a b", "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("surprisal_fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_doc_unigram_surprisal")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 4L, 0L, 0.0), (2L, 2L, 2L, 1.0)))
  }

  test("native minhash_sig is bit-identical to the UDF and stays in codegen") {
    val docs = Seq("alpha beta gamma delta epsilon", "alpha beta gamma delta zeta",
      "totally different words here now").toDF("t")
      .select(shingles(tokens(col("t")), 3).as("sh"))
    val viaUdf = docs.select(ReferenceKernels.minhashSig(col("sh")).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val viaNative = docs.select(fastMinhashSig(col("sh")).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(viaUdf.toSeq == viaNative.toSeq)
    // NULL array -> NULL signature; empty array -> all MaxValue
    val edge = Seq((1, Some(Seq.empty[String])), (2, None))
      .toDF("id", "sh")
      .select(col("id"), fastMinhashSig(col("sh")).as("sig")).orderBy("id").collect()
    assert(edge(0).getSeq[Long](1).forall(_ == Long.MaxValue))
    assert(edge(1).isNullAt(1))
    // the native path must not break whole-stage codegen with a ScalaUDF
    val df = docs.select(fastMinhashSig(col("sh")).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("compression ratio orders repetitive < prose < high-entropy, deterministically") {
    val rep = "spam spam spam spam " * 50
    val prose = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through fields of green grass toward distant hills " * 10
    val noise = (1 to 200).map(i => (i * 2654435761L % 100000).toString).mkString(" ")
    val docs = Seq((1L, rep), (2L, prose), (3L, noise)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("cr_fix").toString
    docs.selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source", "0L AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_doc_compress_ratio")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < out(2L) && out(2L) < out(3L), out.toString)
    assert(out.values.forall(r => r > 0 && r < 1.5), out.toString)
    // deterministic across runs (fresh Deflater per call, fixed level)
    val again = SparkEntry.queries("q_doc_compress_ratio")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == again)
    val plan = SparkEntry.queries("q_doc_compress_ratio")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
