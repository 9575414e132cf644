package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{IvfFunctions, PqFunctions}

/** Persistent IVF vector index — the embedding sibling of
  * [[BandIndex]] (round-12 verdict #5): centroids plus
  * inverted lists MATERIALIZED as warehouse tables, so an ANN
  * deployment searches (and grows) the index across sessions without
  * ever retraining or re-assigning the corpus. Layout:
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
  * Append assigns NEW vectors against the EXISTING centroids (the
  * incremental contract — centroids are fixed once trained, the
  * standard FAISS IVF growth mode) and appends preserving the bucket
  * spec, so the index grows batch over batch with no rewrite and
  * probe reads stay bucket-aligned forever.
  *
  * Candidates are APPROXIMATE (nProbe lists per query); [[search]]
  * exact-reranks them with the codegen cosine before anything is
  * returned — the same candidates→verify contract as every ANN path
  * in this engine. VectorIndexSpec proves result-identity with the
  * in-session IVF path, the pruned zero-Exchange index read, and
  * append/rebuild equivalence; q_ann_ivf_persistent oracle-gates the
  * search output end-to-end.
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
    BandIndex.clearOrphanedLocation(s, table)
    writeLists(assignLists(emb, centroids), "overwrite", buckets, table)
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
    BandIndex.clearOrphanedLocation(s, sigTable(table))
    import s.implicits._
    Seq(sig).toDF("sig")
      .coalesce(1).write.mode("overwrite").saveAsTable(sigTable(table))
  }

  /** True iff `table` carries a build-time corpus signature equal to
    * `emb`'s current content. Absent stamp (pre-r14 index) → false:
    * rebuild once, get stamped. The stamp records the BUILT corpus —
    * out-of-band [[append]]s to a memo-managed table deliberately
    * un-match it (the next memo hit rebuilds from the true corpus).
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
    BandIndex.clearOrphanedLocation(s, s"${table}_centroids")
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
    BandIndex.clearOrphanedLocation(s, table)
    writeLists(codedLists(emb, centroids, codebooks), "overwrite", buckets, table)
    writeCentroids(s, table, centroids)
    writeSignature(s, table, corpusSignature(emb))
    BandIndex.clearOrphanedLocation(s, s"${table}_codebooks")
    import s.implicits._
    codebooks.zipWithIndex.flatMap { case (codes, j) =>
      codes.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("sub", "code", "c")
      .coalesce(1).write.mode("overwrite").saveAsTable(s"${table}_codebooks")
  }

  private def tombTable(table: String) = s"${table}_tombstones"

  /** Tombstone-delete (r13 verdict #3): dedup pipelines REMOVE vectors,
    * and a bucketed table can't delete in place — record the vec_ids
    * in a side table instead. [[search]]/[[searchCoded]] anti-join the
    * (tiny, broadcast) tombstone set out of every candidate scan, so a
    * deleted vector never surfaces as a neighbor; [[compact]] later
    * purges the rows physically. The MASK is the source of truth for
    * deletion and survives compaction by default: a masked id stays
    * masked even if re-appended — including a streaming epoch REPLAYED
    * after a crash ([[appendCodedIdempotent]]'s anti-join probes table
    * content, which a compact has already purged, so only the retained
    * mask stops the replay from resurrecting the deleted vector).
    * Re-adding a deleted vector requires an explicit
    * `compact(clearMask = true)` at a moment the operator KNOWS no
    * streaming replay window is open (all checkpoints committed).
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode("append").saveAsTable(tombTable(table))

  private def maskTombstones(spark: SparkSession, table: String,
                             lists: DataFrame): DataFrame =
    if (spark.catalog.tableExists(tombTable(table)))
      lists.join(broadcast(spark.table(tombTable(table)).select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
    else lists

  /** Bucket-preserving compaction (r13 verdict #3): N appends leave N
    * file sets per bucket forever, and the raw-directory Compactor
    * path legally refuses bucketed tables — this is the lawful rebuild
    * ([[Compactor.compactBucketed]]): rows re-write THROUGH the
    * table's own bucket spec (one file per non-empty bucket) and
    * tombstoned rows are dropped during the rewrite. The mask table is
    * RETAINED (deduplicated to distinct ids) unless `clearMask = true`:
    * dropping it eagerly would let a crashed streaming epoch that
    * replays after the compact resurrect a deleted vector (see
    * [[delete]]) — the ids-only mask is tiny, so keeping it costs one
    * broadcast anti-join and closes that window. Pass
    * `clearMask = true` only when every streaming checkpoint that
    * could replay an old epoch has committed. Search results are
    * bit-identical before/after (VectorIndexSpec pins it), and probe
    * reads stay bucket-pruned. Works on plain and coded indexes alike
    * — both bucket by cid. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, table: String,
              clearMask: Boolean = false): (Int, Int) = {
    val res = Compactor.compactBucketed(spark, table,
      df => maskTombstones(spark, table, df))
    if (spark.catalog.tableExists(tombTable(table))) {
      if (clearMask) spark.sql(s"DROP TABLE ${tombTable(table)}")
      else {
        // hygiene: the purge made the mask's row HISTORY redundant —
        // rewrite it as the distinct id set (write-new-then-swap)
        val tt = tombTable(table)
        val distinctIds = spark.table(tt).select(col("vec_id")).distinct()
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        try {
          spark.sql(s"DROP TABLE $tt")
          distinctIds.write.saveAsTable(tt)
        } finally distinctIds.unpersist()
      }
    }
    res
  }

  /** True iff the stored `<table>_centroids` equals `expected`
    * exactly. Reuse guard (r13 ADVICE): a table-name key derived from
    * vec_ids alone is content-INsensitive — a regenerated corpus with
    * the same id set but different embeddings would silently reuse a
    * stale index. Centroids are trained from the embedding content, so
    * an exact compare against the expected quantizer (binary64
    * round-trips parquet exactly — no tolerance needed) detects the
    * swap; callers rebuild on mismatch.
    */
  def centroidsMatch(spark: SparkSession, table: String,
                     expected: Array[Array[Double]]): Boolean = {
    val stored = loadCentroids(spark, table)
    stored.length == expected.length &&
      stored.zip(expected).forall { case (a, b) => java.util.Arrays.equals(a, b) }
  }

  /** [[centroidsMatch]] for the residual codebooks of a coded index. */
  def codebooksMatch(spark: SparkSession, table: String,
                     expected: Array[Array[Array[Double]]]): Boolean = {
    val stored = loadCodebooks(spark, table)
    stored.length == expected.length &&
      stored.zip(expected).forall { case (sj, ej) =>
        sj.length == ej.length &&
          sj.zip(ej).forall { case (a, b) => java.util.Arrays.equals(a, b) }
      }
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
    val lists = maskTombstones(spark, table,
      spark.table(table).filter(col("cid").isin(probedCids.map(Int.box): _*)))
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
    val lists = maskTombstones(spark, table,
      spark.table(table).filter(col("cid").isin(probedCids.map(Int.box): _*)))
    PqFunctions.ivfAdcRerank(lists, probePairs, corpusVecs, bcC, bcCb,
      pqCandidates, topK, broadcastProbe)
  }

  /** Record a new batch: assign against the EXISTING centroids and
    * append. `buckets` must match [[build]] (Spark rejects a
    * mismatched spec loudly); append preserves the spec, so probe
    * reads stay bucket-pruned as the index grows.
    */
  def append(spark: SparkSession, table: String, emb: DataFrame,
             buckets: Int = 8): Unit = {
    writeLists(assignLists(emb, loadCentroids(spark, table)), "append", buckets, table)
  }

  /** RESTART-IDEMPOTENT [[appendCoded]] — the foreachBatch tail of the
    * streaming embedding ingest ([[graft.streaming.StreamingVectors]]):
    * the batch re-encodes with the stored kernels, then anti-joins out
    * any vec_id ALREADY PRESENT in the lists the batch lands in, so a
    * replayed micro-batch (post-crash re-fire of foreachBatch) appends
    * exactly zero rows. The existence probe is bucket-pruned to the
    * batch's own target cids (`cid IN (...)`, a bounded ≤ k-int driver
    * reduction) — at 100 TB the index is touched only where the batch
    * lands, never scanned. Atomicity comes from the file-commit
    * protocol: an epoch's append either commits all its files or none,
    * so the replay sees either nothing (re-appends whole) or everything
    * (appends nothing). The one other state a replay can meet is a
    * DELETE (± compact) that ran while the stream was down — the
    * tombstone mask is retained across compaction (see [[compact]])
    * and the probe here treats masked ids as present, so the replay
    * neither resurrects nor re-materializes a deleted vector.
    */
  def appendCodedIdempotent(spark: SparkSession, table: String,
                            emb: DataFrame, buckets: Int = 8): Unit = {
    val coded = codedLists(emb, loadCentroids(spark, table),
        loadCodebooks(spark, table))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val cids = coded.select("cid").distinct()
        .collect().map(_.getInt(0)).sorted
      if (cids.nonEmpty) {
        val existing = spark.table(table)
          .filter(col("cid").isin(cids.map(Int.box): _*))
          .select(col("vec_id"))
        // tombstones count as "present" too: a replayed epoch must not
        // physically re-add a vector deleted (and possibly compacted
        // away) while the stream was down — the retained mask would
        // hide it from search either way, but garbage rows are garbage
        writeLists(maskTombstones(spark, table,
          coded.join(existing, Seq("vec_id"), "left_anti")), "append", buckets, table)
      }
    } finally coded.unpersist()
  }

  /** [[append]] for a coded index: assign + residual + encode against
    * the EXISTING centroids and codebooks (both quantizers are fixed
    * once trained — the FAISS growth mode), append preserving the
    * bucket spec.
    */
  def appendCoded(spark: SparkSession, table: String, emb: DataFrame,
                  buckets: Int = 8): Unit = {
    writeLists(codedLists(emb, loadCentroids(spark, table),
      loadCodebooks(spark, table)), "append", buckets, table)
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
    * coded build and append writes, with the in-session q_ann_ivfpq
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
  private def writeLists(lists: DataFrame, mode: String, buckets: Int,
                         table: String): Unit =
    lists.write.mode(mode)
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(table)
}
