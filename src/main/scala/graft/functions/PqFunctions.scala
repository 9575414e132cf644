package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory lever that makes a
  * 100 TB-derived vector index RESIDENT: the 64-dim float32 embedding
  * (256 B) compresses to `m` sub-codes (8 B at m=8, k=16 — 32×), and
  * the ADC scan ranks candidates reading codes only.
  *
  *   - TRAIN: an independent k-means codebook per 8-dim subspace
  *     (seeded, sample-bounded — the same trainer the IVF coarse
  *     quantizer uses, so past singleNodeKCap it would train
  *     distributed too; at k=16/subspace it never does).
  *   - ENCODE: per row, argmin code per subspace over the broadcast
  *     codebook table — fuses into the scan, no shuffle.
  *   - SEARCH (ADC, asymmetric distance computation): per query,
  *     precompute the m×k table of squared L2 distances from the
  *     query's subvectors to every code centroid ([[adcTable]],
  *     flattened to `[j * k + code]`); a candidate's approximate
  *     distance is the j-ascending sum of table[j * k + code_j] —
  *     codes-only until the final exact-cosine rerank of the top-C cut
  *     ([[adcRerank]]).
  *
  * Determinism contract (oracle replay): subvector slicing, the argmin
  * tie-break (distance ASC, code ASC), the per-subspace distance fold
  * (sequential over dims), and the ADC fold (sequential over
  * subspaces, j ascending) are all fixed-order double arithmetic that
  * DuckDB `list_reduce` replays bit-identically from the materialized
  * codebook parquet.
  */
object PqFunctions {

  val numSubspaces = 8
  val subDim = 8
  val codesPerSubspace = 16

  /** Train one codebook per subspace: [m][k][subDim] centroids. The
    * corpus is counted and hash-cut-sampled ONCE (checkpointed), then
    * each subspace fit slices the same sampled frame — not once per
    * fit, which would run 8 redundant full scans.
    */
  def trainCodebooks(emb: DataFrame, embeddingCol: String,
                     seed: Long = 42): Array[Array[Array[Double]]] = {
    val train = IvfFunctions.trainSample(emb, codesPerSubspace, seed)
      .select(col("vec_id"), col(embeddingCol))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    try Array.tabulate(numSubspaces) { j =>
      IvfFunctions.fitKmeans(
        train.select(slice(col(embeddingCol), j * subDim + 1, subDim).as("subvec")),
        "subvec", codesPerSubspace, seed = seed + j)
    } finally train.unpersist()
  }

  def broadcastCodebooks(emb: DataFrame, cb: Array[Array[Array[Double]]])
      : Broadcast[Array[Array[Array[Double]]]] =
    emb.sparkSession.sparkContext.broadcast(cb)

  /** Flattened ADC table of `v` (a raw query or a float-rounded
    * residual): entry `[j * 16 + code]` is the squared L2 from v's
    * subspace j to that code centroid, j ascending. Every PQ search
    * builds its query tables with this one kernel.
    */
  private[graft] def adcTable(v: Array[Float],
                              cb: Array[Array[Array[Double]]]): Array[Double] = {
    val out = new Array[Double](cb.length * codesPerSubspace)
    var j = 0
    while (j < cb.length) {
      var t = 0
      while (t < cb(j).length) {
        out(j * codesPerSubspace + t) = IvfFunctions.l2sq(v, j * subDim, cb(j)(t))
        t += 1
      }
      j += 1
    }
    out
  }

  /** PQ encode: the m argmin codes, j ascending (ties → lowest code). */
  def encodeUdf(bc: Broadcast[Array[Array[Array[Double]]]]): UserDefinedFunction =
    udf { v: Seq[Float] =>
      val a = IvfFunctions.toFloatArray(v)
      val cb = bc.value
      val out = new Array[Int](cb.length)
      var j = 0
      while (j < cb.length) { out(j) = IvfFunctions.argmin(a, j * subDim, cb(j)); j += 1 }
      ArraySeq.unsafeWrapArray(out)
    }

  /** Per-(query, probed-list) [[adcTable]] of the query's residual,
    * computed ON EXECUTORS from the broadcast centroids + codebooks, so
    * the query batch never collects and a corpus-sized batch (the
    * kNN-graph-over-index retrieval shape) streams through the scan.
    */
  def adcTableUdf(bcC: Broadcast[Array[Array[Double]]],
                  bcCb: Broadcast[Array[Array[Array[Double]]]])
      : UserDefinedFunction =
    udf { (v: Seq[Float], cid: Int) =>
      val r = IvfFunctions.residual(IvfFunctions.toFloatArray(v), bcC.value(cid))
      ArraySeq.unsafeWrapArray(adcTable(r, bcCb.value))
    }

  /** ADC distance: the j-ascending sum of `tabs[j * 16 + code_j]` over
    * an [[adcTable]]-flattened table.
    */
  def adcFlatUdf: UserDefinedFunction =
    udf { (tabs: Seq[Double], codes: Seq[Int]) =>
      var s = 0.0
      var j = 0
      while (j < codes.length) { s += tabs(j * codesPerSubspace + codes(j)); j += 1 }
      s
    }

  /** Each query's `nProbe` nearest lists: (query_id, embedding, cid). */
  def probePairs(queries: DataFrame, bcC: Broadcast[Array[Array[Double]]],
                 nProbe: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding"),
      explode(IvfFunctions.probeUdf(bcC, nProbe)(col("embedding"))).as("cid"))

  /** The IVF-PQ search core, shared by the in-session and the
    * materialized-index paths: each probed (query, list) pair gets the
    * ADC table of the query's residual in that list, joins the coded
    * lists (cid, vec_id, cs) on `cid`, and goes through [[adcRerank]].
    * `broadcastProbe` hints the probe side for bounded query batches;
    * false lets a corpus-sized batch shuffle to the lists' layout.
    */
  def ivfAdcRerank(lists: DataFrame, probePairs: DataFrame,
                   corpusVecs: DataFrame,
                   bcC: Broadcast[Array[Array[Double]]],
                   bcCb: Broadcast[Array[Array[Array[Double]]]],
                   pqCandidates: Int, topK: Int,
                   broadcastProbe: Boolean): DataFrame = {
    val probed = probePairs.select(col("query_id"), col("cid"),
      adcTableUdf(bcC, bcCb)(col("embedding"), col("cid")).as("adct"))
    adcRerank(
      lists.join(if (broadcastProbe) broadcast(probed) else probed, Seq("cid")),
      corpusVecs, pqCandidates, topK)
  }

  /** The tail of every PQ search. `pairs` holds (query_id, vec_id,
    * adct, cs): a query's flattened ADC table next to a candidate's
    * codes. Self-pairs drop, the ADC fold ranks each query's candidates
    * (adc ASC, vec_id ASC), the top `pqCandidates` fetch their float
    * vectors from `corpusVecs` (vec_id, embedding), and exact cosine
    * reranks them to `topK`.
    */
  def adcRerank(pairs: DataFrame, corpusVecs: DataFrame,
                pqCandidates: Int, topK: Int): DataFrame = {
    val cand = pairs
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", adcFlatUdf(col("adct"), col("cs")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("vec_id").asc)))
      .filter(col("crank") <= pqCandidates)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val vecs = corpusVecs.select(col("vec_id"), col("embedding"))
    IvfFunctions.topKPerQuery(cand
      .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
        Seq("query_id"))
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.fastCosine(col("q_emb"), col("embedding")).as("score")),
      topK)
  }
}
