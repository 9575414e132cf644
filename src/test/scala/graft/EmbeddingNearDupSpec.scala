package graft

import org.apache.spark.sql.functions._

import graft.queries.SimilarityQ

/** The LSH-candidate near-dup path vs the exact all-pairs form on a
  * fixture with *planted* near-duplicates (the testdata's random
  * vectors have no true pairs — max pairwise cosine ≈ 0.48 — so recall
  * must be measured on planted ones, per the q_embedding_neardup doc).
  */
class EmbeddingNearDupSpec extends SparkSpecBase {
  import spark.implicits._

  /** 300 random unit-ish vectors; every anchor id (multiple of 20) gets
    * a planted near-duplicate at id+1 (tiny perturbation → cosine
    * ≥ 0.99).
    */
  private lazy val planted = {
    val rng = new scala.util.Random(123)
    val dim = 64
    def randVec(): Array[Float] = Array.fill(dim)(rng.nextGaussian().toFloat)
    val rows = (0 until 300).map { id =>
      id.toLong -> randVec()
    }.toMap
    val perturbed = rows.map { case (id, v) =>
      if (id % 20 == 1) {
        val base = rows(id - 1)
        id -> base.zip(v).map { case (b, n) => b + 0.02f * n }
      } else id -> v
    }
    perturbed.toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("embedding decontamination flags similarity to the bench set, ties to lowest bench_id") {
    // one-hot fixture: bench = e_0..e_24; corpus vectors with EXACT
    // cosines to the bench set (1.0 copy, 0.0 orthogonal, 0.5 mix,
    // 0.7071 two-way tie)
    def oneHot(i: Int): Seq[Float] = Seq.tabulate(64)(j => if (j == i) 1f else 0f)
    def mix(a: Int, wa: Float, b: Int, wb: Float): Seq[Float] =
      Seq.tabulate(64)(j => if (j == a) wa else if (j == b) wb else 0f)
    val rows =
      (0 until 25).map(i => (i.toLong, oneHot(i))) ++ Seq(
        (100L, oneHot(3)),                                  // copy of bench 3
        (101L, oneHot(40)),                                 // orthogonal to all
        (102L, mix(3, 0.5f, 50, math.sqrt(3).toFloat / 2)), // cos 0.5 to bench 3
        (103L, mix(1, 1f, 2, 1f)))                          // 0.7071 to bench 1 AND 2
    val dir = java.nio.file.Files.createTempDirectory("embdecon").toString
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_emb_decontam")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(100L, 102L, 103L)) // 101 clean
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(100L)._2 == 3L && math.abs(byId(100L)._3 - 1.0) < 1e-12)
    // float32 storage of the mix weights costs ~1e-8 on the cosine
    assert(byId(102L)._2 == 3L && math.abs(byId(102L)._3 - 0.5) < 1e-6)
    assert(byId(103L)._2 == 1L && math.abs(byId(103L)._3 - math.sqrt(0.5)) < 1e-6)
  }

  /** The 8×8 band-key pass the catalog entry memoizes, then its join. */
  private def nearDupLsh(emb: org.apache.spark.sql.DataFrame, threshold: Double) =
    SimilarityQ.embeddingNearDupLshFromKeys(
      emb.select(col("vec_id"), explode(graft.functions.VectorFunctions.fastLshBandKeys(
        col("embedding"), bands = 8, rowsPerBand = 8)).as("bk")),
      emb, threshold)

  test("exact all-pairs finds every planted pair") {
    val exact = SimilarityQ.embeddingNearDupExact(planted, 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 300 by 20).map(i => (i.toLong, i.toLong + 1)).toSet
    assert(expected.subsetOf(exact),
      s"missing planted pairs: ${expected.diff(exact)}")
  }

  test("LSH candidate path recalls planted near-dups vs the exact oracle") {
    val exact = SimilarityQ.embeddingNearDupExact(planted, 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = nearDupLsh(planted, 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // rerank is exact → no false positives
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact).take(5)}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    // cos≥0.99 pairs: per-band collision (1-θ/π)^4 ≈ 0.83, miss-all-16-
    // bands probability ≈ 4e-13 → expected recall ~1.0; 0.9 gives margin
    assert(recall >= 0.9, s"recall $recall < 0.9 (${lsh.size}/${exact.size})")
  }

  test("q_embedding_neardup on the driver testdata matches exact semantics") {
    // no true near-dups at this SF (max cosine ≈ 0.48 < 0.55): both the
    // LSH path and the exact form must return empty — and the LSH path
    // can never return MORE than exact (rerank is exact)
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val lsh = nearDupLsh(emb, 0.55).count()
    val exact = SimilarityQ.embeddingNearDupExact(emb, 0.55).count()
    assert(exact == 0L)
    assert(lsh == 0L)
  }
}
