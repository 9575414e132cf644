package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{IvfFunctions, PqFunctions}

/** Persistent IVF vector index (round-12 verdict #5): centroids plus
  * inverted lists MATERIALIZED as warehouse tables, so an ANN
  * deployment searches the index across sessions without ever
  * retraining or re-assigning the corpus. Layout:
  *
  *   - `<table>`           — the inverted lists: (cid, vec_id,
  *     embedding), BUCKETED by cid at write time. A probe reads only
  *     its candidate lists: the `cid IN (probed)` filter prunes
  *     buckets at the scan (SelectedBucketsCount in the plan), and
  *     the batch-vs-index candidate join broadcasts the (tiny) probe
  *     table — the index side is read in place, never shuffled. At
  *     100 TB this is the difference between touching
  *     nProbe/k of the corpus per query batch and re-shuffling the
  *     whole vector store every search.
  *   - `<table>_centroids` — (cid, c: array<double>): k rows, read
  *     whole and broadcast. k ≤ 65536 by the adaptive-k cap, ≈ 33 MB
  *     at 64 dims — a TorrentBroadcast, fatal as anything else.
  *
  * Candidates are APPROXIMATE (nProbe lists per query); [[search]]
  * exact-reranks them with the codegen cosine before anything is
  * returned — the same candidates→verify contract as every ANN path
  * in this engine. VectorIndexSpec proves result-identity with the
  * in-session IVF path and the pruned zero-Exchange index read;
  * q_ann_ivf_persistent oracle-gates the search output end-to-end.
  */
object VectorIndex {

  /** (Re)build the index from an embeddings frame and a trained
    * centroid table. Assignment is [[IvfFunctions.assignUdf]] — the
    * same argmin the in-session IVF path uses, so a search against
    * the materialized index returns exactly what the in-session path
    * returns (VectorIndexSpec pins this identity).
    */
  def build(emb: DataFrame, table: String, centroids: Array[Array[Double]],
            buckets: Int = 8): Unit = {
    val s = emb.sparkSession
    clearOrphanedLocation(s, table)
    writeLists(assignLists(emb, centroids), buckets, table)
    writeCentroids(s, table, centroids)
    writeSignature(s, table, corpusSignature(emb))
  }

  /** Order-independent content fingerprint of the corpus an index was
    * built from: the decimal-exact SUM of xxhash64(vec_id, embedding)
    * over every row (sum commutes, so partitioning/order never changes
    * it; decimal(20,0) → sum never overflows under ANSI). COMPLETE
    * where the r13-ADVICE quantizer compare was not: retrained
    * centroids/codebooks only see the hash-cut training SAMPLE, so a
    * regenerated corpus whose drift lay outside the sample compared
    * equal and silently reused a stale index — any changed row changes
    * this sum. Also cheaper on the reuse path: one hash-scan of the
    * corpus instead of a k-means retrain plus full assignment pass.
    */
  def corpusSignature(emb: DataFrame): String =
    emb.agg(sum(xxhash64(col("vec_id"), col("embedding"))
        .cast(org.apache.spark.sql.types.DecimalType(20, 0))))
      .head().getDecimal(0).toBigInteger.toString

  private def sigTable(table: String) = s"${table}_sig"

  private def writeSignature(s: SparkSession, table: String,
                             sig: String): Unit = {
    clearOrphanedLocation(s, sigTable(table))
    import s.implicits._
    Seq(sig).toDF("sig")
      .coalesce(1).write.mode("overwrite").saveAsTable(sigTable(table))
  }

  /** True iff `table` carries a build-time corpus signature equal to
    * `emb`'s current content. Absent stamp (pre-r14 index) → false:
    * rebuild once, get stamped.
    */
  def signatureMatches(spark: SparkSession, table: String,
                       emb: DataFrame): Boolean =
    spark.catalog.tableExists(sigTable(table)) && {
      spark.catalog.refreshTable(sigTable(table))
      val stored = spark.table(sigTable(table)).select(col("sig"))
        .head().getString(0)
      stored == corpusSignature(emb)
    }

  private def writeCentroids(s: SparkSession, table: String,
                             centroids: Array[Array[Double]]): Unit = {
    clearOrphanedLocation(s, s"${table}_centroids")
    import s.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c")
      .coalesce(1).write.mode("overwrite").saveAsTable(s"${table}_centroids")
  }

  /** CODED layout — the 100 TB-resident variant: inverted lists hold
    * the m PQ codes of each vector's RESIDUAL x − c(x) instead of the
    * raw float32 vector (8 codes ≈ 32 B of list row vs 256 B — the
    * FAISS IndexIVFPQ layout, Jégou 2011 §IV), alongside the k-row
    * centroid table and the m×16 codebook table. A probe then ADC-
    * scans only the probed buckets reading codes only; nothing but
    * (query, candidate) pairs leaves the index, and the exact rerank
    * fetches just candidates × queries vectors from the corpus store.
    * Same determinism contract as [[build]]: assignment, residual,
    * and encode are the exact kernels the in-session q_ann_ivfpq path
    * runs, so the materialized index answers identically.
    */
  def buildCoded(emb: DataFrame, table: String,
                 centroids: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]],
                 buckets: Int = 8): Unit = {
    val s = emb.sparkSession
    clearOrphanedLocation(s, table)
    writeLists(codedLists(emb, centroids, codebooks), buckets, table)
    writeCentroids(s, table, centroids)
    writeSignature(s, table, corpusSignature(emb))
    clearOrphanedLocation(s, s"${table}_codebooks")
    import s.implicits._
    codebooks.zipWithIndex.flatMap { case (codes, j) =>
      codes.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("sub", "code", "c")
      .coalesce(1).write.mode("overwrite").saveAsTable(s"${table}_codebooks")
  }

  /** The stored residual codebooks, (sub, code)-ordered. */
  def loadCodebooks(spark: SparkSession, table: String): Array[Array[Array[Double]]] = {
    val rows = spark.table(s"${table}_codebooks")
      .orderBy(col("sub").asc, col("code").asc).collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray
    }.toArray
  }

  /** The trained coarse quantizer, cid-ordered — k rows, one read. */
  def loadCentroids(spark: SparkSession, table: String): Array[Array[Double]] =
    spark.table(s"${table}_centroids")
      .orderBy(col("cid").asc)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** ANN top-k for `queries` (vec_id, embedding) against the stored
    * index — no training, no corpus assignment: centroids load from
    * the k-row table, each query probes its nProbe nearest lists, and
    * the scan reads ONLY the probed buckets (the collected probe-cid
    * set is the distinct probed lists, ≤ k ints — the same bounded
    * reduction [[searchCoded]] makes). Self-matches are excluded and
    * candidates exact-rerank, identical to the in-session IVF
    * contract.
    */
  def search(spark: SparkSession, table: String, queries: DataFrame,
             nProbe: Int, topK: Int): DataFrame = {
    val centroids = loadCentroids(spark, table)
    val bc = IvfFunctions.broadcastCentroids(queries, centroids)
    val probed = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(IvfFunctions.probeUdf(bc, nProbe)(col("embedding"))).as("cid"))
    val probedCids = probed.select("cid").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.table(table).filter(col("cid").isin(probedCids.map(Int.box): _*))
    IvfFunctions.rerankProbed(lists, probed, topK)
  }

  /** ANN top-k against a CODED index ([[buildCoded]]): centroids and
    * codebooks load from their k-row/m×16-row tables and broadcast;
    * each query's per-probed-list ADC table computes ON EXECUTORS
    * ([[PqFunctions.ivfAdcRerank]], the core the in-session q_ann_ivfpq
    * path runs too) — the query batch itself NEVER
    * collects to the driver (r13 verdict #2), so a corpus-sized batch
    * (kNN-graph-over-index, the retrieval shape a 100 TB deployment
    * runs) streams through exactly like a 5-query one. The coded lists
    * scan bucket-pruned reading codes only, ADC-rank, cut to
    * `pqCandidates` per query; only the survivors fetch float vectors
    * from `corpusVecs` (vec_id, embedding) for the exact-cosine
    * rerank. Every kernel (probe, residual, ADC entries, j-ascending
    * fold, candidate cut, rerank ordering) is bit-identical to the
    * in-session q_ann_ivfpq path, so the materialized index answers
    * identically. The only driver reduction left is the distinct
    * probed-centroid set for bucket pruning — ≤ k ints (k ≤ 65536 by
    * the adaptive-k cap).
    *
    * `broadcastProbe` picks the candidate-join shape: true (default)
    * broadcasts the probe side — right for bounded query batches, the
    * index never shuffles; false leaves the join unhinted — a
    * corpus-sized probe side shuffles TO THE INDEX's bucket layout
    * (the bucketed side still never re-hashes) and AQE may still
    * broadcast a runtime-small side.
    */
  def searchCoded(spark: SparkSession, table: String, queries: DataFrame,
                  corpusVecs: DataFrame, nProbe: Int, pqCandidates: Int,
                  topK: Int, broadcastProbe: Boolean = true): DataFrame = {
    val bcC = IvfFunctions.broadcastCentroids(queries, loadCentroids(spark, table))
    val bcCb = PqFunctions.broadcastCodebooks(queries, loadCodebooks(spark, table))
    // the probe pass (k-centroid distances per query) runs ONCE and
    // materializes its (query_id, embedding, cid) pairs — both the
    // ADC join side and the bucket-prune cid set derive from it
    val probePairs = PqFunctions.probePairs(queries, bcC, nProbe)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // bounded reduction (≤ k ints): the distinct probed lists, for the
    // `cid IN (...)` bucket prune at the index scan
    val probedCids = probePairs.select(col("cid"))
      .distinct().collect().map(_.getInt(0)).sorted
    val lists = spark.table(table).filter(col("cid").isin(probedCids.map(Int.box): _*))
    PqFunctions.ivfAdcRerank(lists, probePairs, corpusVecs, bcC, bcCb,
      pqCandidates, topK, broadcastProbe)
  }

  /** (cid, vec_id, embedding): `emb` assigned to fixed centroids. */
  private def assignLists(emb: DataFrame,
                          centroids: Array[Array[Double]]): DataFrame = {
    val bc = IvfFunctions.broadcastCentroids(emb, centroids)
    emb.select(IvfFunctions.assignUdf(bc)(col("embedding")).as("cid"),
      col("vec_id"), col("embedding"))
  }

  /** (cid, vec_id, cs): `emb` assigned, float-residualized and
    * PQ-encoded against fixed quantizers — the coded-list row every
    * coded build writes, with the in-session q_ann_ivfpq
    * kernels.
    */
  private def codedLists(emb: DataFrame, centroids: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bcC = IvfFunctions.broadcastCentroids(emb, centroids)
    val bcCb = PqFunctions.broadcastCodebooks(emb, codebooks)
    emb.withColumn("cid", IvfFunctions.assignUdf(bcC)(col("embedding")))
      .withColumn("r", IvfFunctions.residualUdf(bcC)(col("embedding"), col("cid")))
      .select(col("cid"), col("vec_id"),
        PqFunctions.encodeUdf(bcCb)(col("r")).as("cs"))
  }

  /** Write inverted lists bucketed (and sorted) by cid. */
  private def writeLists(lists: DataFrame, buckets: Int, table: String): Unit =
    lists.write.mode("overwrite")
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(table)

  /** An orphaned warehouse location — the catalog entry is gone (a
    * crashed run, or a fresh in-memory catalog over a persistent
    * warehouse dir) but the directory survived — blocks CREATE TABLE
    * with LOCATION_ALREADY_EXISTS. A (re)build must not be blocked by
    * a dead run's debris, so clear it when the catalog doesn't know
    * the table.
    */
  private def clearOrphanedLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val p = new org.apache.hadoop.fs.Path(wh,
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
}
