package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.PqFunctions
import graft.sources.Tables

/** Ground truth for the PQ kernels behind q_ann_pq: encode argmin
  * semantics on planted codebooks, the fixed-order ADC fold, and
  * recall of the full candidates-then-rerank path vs the exact
  * brute-force top-k.
  */
class PqSpec extends SparkSpecBase {
  import spark.implicits._

  test("encode picks the nearest code per subspace, ties to the lowest code") {
    // planted codebooks: per subspace, code i = constant vector of i
    val cb = Array.tabulate(PqFunctions.numSubspaces) { _ =>
      Array.tabulate(PqFunctions.codesPerSubspace)(i =>
        Array.fill(PqFunctions.subDim)(i.toDouble))
    }
    // vector whose subspace j sits exactly at value j → code j
    val v = (0 until 64).map(d => (d / 8).toFloat)
    val df = Seq((0L, v)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val bc = PqFunctions.broadcastCodebooks(df, cb)
    val codes = df.select(PqFunctions.encodeUdf(bc)(col("embedding")))
      .head().getSeq[Int](0)
    assert(codes == (0 until 8))
    // midpoint between codes 2 and 3 → tie → lower code wins
    val mid = Array.fill(64)(2.5f).toSeq
    val df2 = Seq((1L, mid)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val codes2 = df2.select(PqFunctions.encodeUdf(bc)(col("embedding")))
      .head().getSeq[Int](0)
    assert(codes2.forall(_ == 2), s"tie must break to the lower code: $codes2")
  }

  test("ADC distance equals the exact subspace-decomposed distance to the code centroids") {
    val cb = Array.tabulate(PqFunctions.numSubspaces) { j =>
      Array.tabulate(PqFunctions.codesPerSubspace)(i =>
        Array.tabulate(PqFunctions.subDim)(d => (j + i + d) * 0.1))
    }
    val q = Array.tabulate(64)(d => 0.05f * d)
    val tabs = PqFunctions.adcTable(q, cb)
    // spot-check one entry of the flattened [j * 16 + code] table
    // against a direct computation
    val j = 3; val i = 7
    var expect = 0.0
    for (d <- 0 until 8) {
      val diff = q(j * 8 + d) - cb(j)(i)(d)
      expect += diff * diff
    }
    assert(tabs(j * PqFunctions.codesPerSubspace + i) == expect)
    assert(tabs.length == 8 * 16)
  }

  test("q_ann_pq recall@10 vs q_ann_bruteforce (codes-only candidates + exact rerank)") {
    def neighborSets(rows: Array[Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
    val exact = neighborSets(
      SparkEntry.queries("q_ann_bruteforce")(spark, sfDir)
        .select("query_id", "neighbor_id").collect())
    val pq = neighborSets(
      SparkEntry.queries("q_ann_pq")(spark, sfDir)
        .select("query_id", "neighbor_id").collect())
    assert(exact.nonEmpty)
    val recalls = exact.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // a 64-candidate cut over the ~500-vector fixture with an 8x16
    // quantizer: measured well above this; the floor leaves margin
    // while still proving the ADC ordering carries signal
    assert(mean >= 0.4, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("every vector encodes to m codes in range; index is 32x smaller than raw") {
    val emb = Tables.embeddings(spark, sfDir)
    val cb = PqFunctions.trainCodebooks(emb, "embedding")
    val bc = PqFunctions.broadcastCodebooks(emb, cb)
    val codes = emb.select(col("vec_id"),
      PqFunctions.encodeUdf(bc)(col("embedding")).as("cs")).collect()
    assert(codes.length == emb.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == PqFunctions.numSubspaces)
      assert(cs.forall(c => c >= 0 && c < PqFunctions.codesPerSubspace))
    }
  }
}
