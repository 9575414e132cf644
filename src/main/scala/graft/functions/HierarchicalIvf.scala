package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Two-level (super × residual) coarse quantizer — the IVF scale path
  * past adaptiveK's 65536 flat cap. The cap is the centroid-BROADCAST
  * bound (~33 MB at 64 dims), not a training bound (SCALING.md §IVF):
  * a flat codebook of k = 10^6 centroids would broadcast ~512 MB into
  * every executor and pay O(k) per-row assignment. The two-level form
  * is the inverted-multi-index idea (Babenko & Lempitsky, "The
  * Inverted Multi-Index", CVPR 2012, applied here super+residual like
  * FAISS's IVF with residual coarse coding):
  *
  *   - codebook 1: k₁ ≈ √k SUPER-centroids over the vectors;
  *   - codebook 2: k₂ ≈ k/k₁ RESIDUAL centroids over x − super(x),
  *     shared across super-cells;
  *   - composite inverted-list id = scid · k₂ + rcid — k₁·k₂ ≥ k
  *     effective lists from k₁ + k₂ ≈ 2√k broadcast rows and
  *     O(k₁ + k₂) = O(2√k) per-row assignment.
  *
  * Both codebooks train through the distributed Lloyd trainer
  * ([[IvfFunctions.trainCentroidsLloyd]] — ALWAYS, regardless of k;
  * see [[train]] for why its empty-cluster repair beats the ML path
  * here), assignment reuses the same broadcast-UDF scan shape, and
  * retrieval reuses the same probe → equi-join → exact rerank tail
  * ([[IvfFunctions.rerankProbed]]) — k = 10^6 costs two ~1000-row
  * broadcasts instead of one impossible 10^6-row one.
  * Residuals are float-rounded by the one [[IvfFunctions.residual]]
  * kernel, so assignment reproduces training bit-for-bit.
  *
  * The disclosed trade (why this is the PAST-THE-CAP path, not the
  * default): the shared residual codebook sees each cell's vectors
  * through that cell's own centroid, so per-cell centroid error
  * smears same-offset structure across cells — on the spec's planted
  * 260×260 grid ~61% of composite lists stay distinct (coarse level
  * ~perfect), while near-dup co-assignment (the property retrieval
  * needs) holds at 100% and list sizes stay bounded (max 58 of 68k).
  * Classic residual-coarse-coding behavior; flat stays preferable
  * wherever k fits the broadcast. Negative result, measured so it is
  * not re-attempted: ALS-style alternating refinement of the additive
  * model (s_i ← mean(x − r_j), r_j ← mean(x − s_i), the OPQ/IMI
  * coordinate descent) does NOT recover the lost discrimination here
  * (41002 → 41008 distinct lists after two passes on the 260×260
  * fixture) — under QUANTIZED assignment the per-cell bias shifts the
  * cell's offset→slot mapping with it, so the mean update reproduces
  * the bias instead of cancelling it (a gauge freedom of the
  * decomposition on lattice-like offset structure).
  *
  * DistributedKMeansSpec pins (a) flat↔hierarchical partition
  * equivalence on a planted grid at small k and (b) k > 65536 on a
  * planted 260×260 fixture: co-planted twins co-assign, lists stay
  * bounded, discrimination ≥ 50%. ScaleProbeMain carries the timing
  * entry.
  */
object HierarchicalIvf {

  /** The two trained codebooks. `capacity` = addressable lists. */
  final case class Codebooks(superC: Array[Array[Double]],
                             residC: Array[Array[Double]]) {
    def capacity: Long = superC.length.toLong * residC.length
  }

  /** Split k into (k₁, k₂) with k₁·k₂ ≥ k, both ≈ √k. */
  def splitK(k: Long): (Int, Int) = {
    require(k > 0, "k must be positive")
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = math.ceil(k.toDouble / k1).toInt
    (k1, k2)
  }

  /** Train both codebooks. The residual pass assigns every vector to
    * its super-centroid once (broadcast scan) and trains codebook 2 on
    * the float-rounded residuals; the residual frame keeps `vec_id` so
    * the trainer's deterministic hash-cut sampling and k-means|| init
    * work unchanged. Both levels use the distributed Lloyd trainer
    * regardless of k: its FAISS-style empty-cluster repair actively
    * SPLITS merged modes (reseeding dead slots to the points farthest
    * from their centroid), and at √k ≈ 256+ centroids per level that
    * discrimination is worth more than the ML path's gate-SF
    * bit-stability — the hierarchical path only exists past the flat
    * cap, far outside any oracle gate.
    */
  def train(emb: DataFrame, embeddingCol: String, k: Long,
            seed: Long = 42, maxIter: Int = 15): Codebooks = {
    val (k1, k2) = splitK(k)
    val superC =
      IvfFunctions.trainCentroidsLloyd(emb, embeddingCol, k1, seed, maxIter)
    val bcS = IvfFunctions.broadcastCentroids(emb, superC)
    val resid = emb
      .withColumn("__scid", IvfFunctions.assignUdf(bcS)(col(embeddingCol)))
      .select(col("vec_id"),
        IvfFunctions.residualUdf(bcS)(col(embeddingCol), col("__scid"))
          .as("__resid"))
    val residC = IvfFunctions.trainCentroidsLloyd(
      resid, "__resid", k2, seed * 31 + 7, maxIter)
    bcS.destroy()
    Codebooks(superC, residC)
  }

  def broadcast2(emb: DataFrame, cb: Codebooks):
      (Broadcast[Array[Array[Double]]], Broadcast[Array[Array[Double]]]) =
    (IvfFunctions.broadcastCentroids(emb, cb.superC),
      IvfFunctions.broadcastCentroids(emb, cb.residC))

  /** Composite inverted-list id: argmin over k₁ super-centroids, then
    * argmin over k₂ residual centroids of the float-rounded residual —
    * O(k₁ + k₂) per row against two small broadcasts.
    */
  def assignUdf(bcS: Broadcast[Array[Array[Double]]],
                bcR: Broadcast[Array[Array[Double]]]): UserDefinedFunction =
    udf { v: Seq[Float] =>
      val a = IvfFunctions.toFloatArray(v)
      val sup = bcS.value
      val scid = IvfFunctions.argmin(a, 0, sup)
      val rcid = IvfFunctions.argmin(IvfFunctions.residual(a, sup(scid)), 0, bcR.value)
      scid.toLong * bcR.value.length + rcid
    }

  /** The `nProbeSuper × nProbeResid` composite list ids nearest a query:
    * for each of the closest super-cells, the query's residual IN THAT
    * CELL ranks the residual codebook — mirroring how indexed vectors
    * in that cell were assigned (probing one global residual ranking
    * would miss cells whose residual frame differs from the query's
    * own cell).
    */
  def probeUdf(bcS: Broadcast[Array[Array[Double]]],
               bcR: Broadcast[Array[Array[Double]]],
               nProbeSuper: Int, nProbeResid: Int): UserDefinedFunction =
    udf { v: Seq[Float] =>
      val a = IvfFunctions.toFloatArray(v)
      val sup = bcS.value
      val res = bcR.value
      ArraySeq.unsafeWrapArray(
        IvfFunctions.nearest(a, sup, nProbeSuper).flatMap { scid =>
          IvfFunctions.nearest(IvfFunctions.residual(a, sup(scid)), res, nProbeResid)
            .map(rcid => scid.toLong * res.length + rcid)
        })
    }

  /** End-to-end hierarchical IVF top-k: composite-list index, probe
    * s×r cells, exact-cosine rerank — the flat path's tail verbatim.
    */
  def annTopK(emb: DataFrame, queries: DataFrame, cb: Codebooks,
              nProbeSuper: Int, nProbeResid: Int, topK: Int): DataFrame = {
    val (bcS, bcR) = broadcast2(emb, cb)
    val lists = emb.withColumn("cid", assignUdf(bcS, bcR)(col("embedding")))
    val probed = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(probeUdf(bcS, bcR, nProbeSuper, nProbeResid)(col("embedding")))
        .as("cid"))
    IvfFunctions.rerankProbed(lists, probed, topK)
  }
}
