package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.IvfFunctions
import graft.sources.Tables

/** Ground truth for the no-oracle q_ann_ivf: recall of the IVF probed
  * path against the exact brute-force top-k, plus quantizer sanity.
  */
class IvfAnnSpec extends SparkSpecBase {

  private def neighborSets(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(_.getLong(1)).toSet
    }

  test("q_ann_ivf recall@10 vs q_ann_bruteforce") {
    val exact = neighborSets(
      SparkEntry.queries("q_ann_bruteforce")(spark, sfDir)
        .select("query_id", "neighbor_id").collect())
    val ivf = neighborSets(
      SparkEntry.queries("q_ann_ivf")(spark, sfDir)
        .select("query_id", "neighbor_id").collect())
    assert(exact.nonEmpty)
    val recalls = exact.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // probing 6 of 16 lists on near-uniform vectors: measured ~0.7+;
    // 0.5 leaves noise margin (kmeans is seeded → deterministic here)
    assert(mean >= 0.5, s"mean recall@10 $mean < 0.5 (per-query: $recalls)")
  }

  test("every vector lands in exactly one inverted list; probes are distinct and bounded") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = IvfFunctions.broadcastCentroids(emb,
      IvfFunctions.trainCentroids(emb, "embedding", k = 16))
    assert(centroids.value.length == 16)
    assert(centroids.value.forall(_.length == 64))
    val assigned = emb.withColumn("cid",
      IvfFunctions.assignUdf(centroids)(col("embedding")))
    assert(assigned.count() == emb.count())
    val cids = assigned.select("cid").distinct().collect().map(_.getInt(0))
    assert(cids.forall(c => c >= 0 && c < 16))
    val probes = emb.limit(20).select(
      IvfFunctions.probeUdf(centroids, 6)(col("embedding")).as("p")).collect()
    probes.foreach { r =>
      val p = r.getSeq[Int](0)
      assert(p.length == 6 && p.distinct.length == 6)
    }
  }

  test("probed list always contains the vector's own assignment (nearest centroid first)") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = IvfFunctions.broadcastCentroids(emb,
      IvfFunctions.trainCentroids(emb, "embedding", k = 16))
    val df = emb.select(
      IvfFunctions.assignUdf(centroids)(col("embedding")).as("cid"),
      IvfFunctions.probeUdf(centroids, 4)(col("embedding")).as("probes"))
    val rows = df.collect()
    rows.foreach(r => assert(r.getSeq[Int](1).head == r.getInt(0)))
  }

  test("the index path stays honest at large k: k=256 via the centroid broadcast") {
    val emb = Tables.embeddings(spark, sfDir)
    // k > corpus/2 forces many singleton/empty lists — the path must
    // still answer with full top-k via multi-probe
    val out = IvfFunctions.annTopKWith(emb, emb.filter(col("vec_id") < 3),
      IvfFunctions.trainCentroids(emb, "embedding", k = 256), nProbe = 96, topK = 5)
    val rows = out.collect()
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 5))
    // exact top-1 must be found with this probe width on the 500-vector fixture
    val exact = neighborSets(
      SparkEntry.queries("q_ann_bruteforce")(spark, sfDir)
        .select("query_id", "neighbor_id").collect())
    val got = neighborSets(out.select("query_id", "neighbor_id").collect())
    val recalls = got.map { case (q, n) =>
      exact(q).intersect(n).size.toDouble / n.size
    }
    assert(recalls.sum / recalls.size >= 0.4,
      s"k=256 recall collapsed: $recalls")
  }
}
