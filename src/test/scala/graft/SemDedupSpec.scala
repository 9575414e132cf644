package graft

import org.apache.spark.sql.functions._

import graft.queries.SimilarityQ

/** Ground truth for the no-oracle q_emb_semdedup (k-means centroids are
  * not reproducible in DuckDB): on a fixture with *planted* duplicate
  * groups, every group collapses to exactly one survivor; on a fixture
  * with no pair above the threshold, everything survives; and the
  * seeded pipeline is deterministic end-to-end.
  */
class SemDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val dim = 64

  private def toEmbDf(rows: Seq[(Long, Array[Float])]) =
    rows.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  /** 4 well-separated groups of 10: each group is one base direction
    * (disjoint 16-dim blocks → cross-group cosine ≈ 0) plus 9 small
    * deterministic perturbations (within-group cosine > 0.99).
    */
  private lazy val groups = {
    val rng = new scala.util.Random(7)
    val rows = for (g <- 0 until 4; m <- 0 until 10) yield {
      val v = Array.fill(dim)(0f)
      for (i <- 0 until 16) v(g * 16 + i) = 1f + (if (m == 0) 0f else 0.02f * rng.nextGaussian().toFloat)
      (g * 10L + m, v)
    }
    toEmbDf(rows)
  }

  /** SemDeDup with centroids trained on the frame itself. */
  private def semDedup(emb: org.apache.spark.sql.DataFrame, k: Int, tau: Double) =
    SimilarityQ.semDedupWith(emb,
      graft.functions.IvfFunctions.trainCentroids(emb, "embedding", k, seed = 42), tau)

  test("each planted duplicate group collapses to exactly one survivor") {
    val kept = semDedup(groups, k = 4, tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 4, s"expected 4 survivors, got ${kept.size}: $kept")
    // one survivor per planted group, never two from the same group
    val perGroup = kept.groupBy(_ / 10).view.mapValues(_.size).toMap
    assert(perGroup == Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 1),
      s"survivors per group: $perGroup")
  }

  test("no pair above tau => everything survives") {
    // 12 one-hot directions: pairwise cosine exactly 0
    val rows = (0 until 12).map { i =>
      val v = Array.fill(dim)(0f); v(i * 5) = 1f; (i.toLong, v)
    }
    val df = toEmbDf(rows)
    val kept = semDedup(df, k = 3, tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0 until 12).map(_.toLong).toSet,
      s"dropped vectors with no near-dup: ${(0 until 12).map(_.toLong).toSet.diff(kept)}")
  }

  test("bucketed (LSH-candidate) SemDeDup equals exact SemDeDup on planted fixtures") {
    import graft.functions.IvfFunctions
    import graft.functions.VectorFunctions.fastLshBandKeys
    // mega-cluster regime: one 200-member near-identical group (the
    // s_c² blowup case the bucketing exists for) + 30 isolated vectors
    val rng = new scala.util.Random(31)
    val base = Array.fill(dim)(rng.nextGaussian().toFloat * 5f)
    val rows =
      (0 until 200).map { m =>
        val v = base.clone()
        if (m > 0) for (i <- 0 until dim) v(i) += 0.005f * rng.nextGaussian().toFloat
        (m.toLong, v)
      } ++ (0 until 30).map { j =>
        val gr = new scala.util.Random(j * 7919 + 5)
        (200L + j, Array.fill(dim)(gr.nextGaussian().toFloat * 5f))
      }
    val df = toEmbDf(rows)
    val centroids = IvfFunctions.trainCentroids(df, "embedding", 8, seed = 42)
    val keyed = df.select(col("vec_id"),
      explode(fastLshBandKeys(col("embedding"), bands = 8, rowsPerBand = 8)).as("bk"))
    val exact = SimilarityQ.semDedupWith(df, centroids, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val bucketed = SimilarityQ.semDedupLshWith(df, centroids, tau = 0.95, keyed)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bucketed == exact,
      s"bucketed deviates from exact: only-exact=${exact.diff(bucketed).take(5)} " +
        s"only-bucketed=${bucketed.diff(exact).take(5)}")
    // and the mega-group really collapsed: exactly one survivor from 0..199
    assert(exact.count(_._1 < 200) == 1)
  }

  test("q_emb_semdedup on testdata: deterministic, sorted, survivors are a subset") {
    val run1 = SparkEntry.queries("q_emb_semdedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val run2 = SparkEntry.queries("q_emb_semdedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(run1.nonEmpty)
    assert(run1.sameElements(run2), "seeded semdedup not deterministic")
    assert(run1.map(_._1).toSeq == run1.map(_._1).sorted.toSeq)
    val all = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(run1.map(_._1).toSet.subsetOf(all))
  }
}
