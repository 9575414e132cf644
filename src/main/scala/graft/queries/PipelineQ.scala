package graft.queries

import java.text.Normalizer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables
import graft.functions.TextFunctions.{stopwords, tokens}

/** Training-data pipeline operators beyond pairwise dedup — the
  * operations that turn a cleaned corpus into training shards at
  * 100 TB: duplicate CLUSTERING (pairs → groups via star contraction),
  * token-budget shard packing and fixed-context sequence spans (one
  * shared two-phase prefix sum), overlapping chunking, deterministic
  * sampling (stratified, train/val/test split, k-per-group),
  * normalization, repetition metrics, decontamination (broadcast +
  * bloom), PII redaction, TF-IDF, source mixture balancing,
  * incremental dedup, snapshot diff, corpus profiling, quantile
  * quality cuts, and the end-to-end curation flagship (q_doc_curate).
  */
object PipelineQ {

  // -------------------------------------------------------------------
  // Duplicate clustering (connected components over near-dup pairs)
  // -------------------------------------------------------------------

  /** Large-star: for every node u, hang each LARGER neighbor v off
    * m(u) = min(Γ(u) ∪ {u}). One keys-only shuffle (groupBy min + a
    * join that reuses the same hash partitioning on src).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = nbr.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    nbr.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: orient edges large→small; every node u re-points its
    * smaller neighbors (and itself) at its minimum neighbor.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val m = o.groupBy("src").agg(min(col("dst")).as("m"))
    o.join(m, "src")
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(m.select(col("src"), col("m").as("dst")))
      .distinct()
  }

  /** Order-independent edge-set signature for convergence detection:
    * (count, XOR of per-edge hashes) — one tiny aggregate per round.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Driver-side union-find with path compression + min-root union:
    * the local finisher for edge sets that fit on the driver.
    */
  private def unionFindLocal(edges: Array[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => k -> find(k))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round is two keys-only shuffles and
    * the round count is O(log n) REGARDLESS of graph diameter — unlike
    * min-label propagation, whose iteration count equals the diameter
    * and which therefore silently under-converges on adversarial
    * long-chain graphs under any fixed iteration cap. Convergence is
    * detected by edge-set signature fixpoint; a graph that has not
    * converged within maxRounds throws rather than returning wrong
    * labels. Edge frames are localCheckpoint-ed so plan depth stays
    * O(1) per round; the driver sees only (count, hash) scalars.
    * Returns (id, comp) with comp = min doc_id of the component.
    *
    * Hybrid small-graph path: when the deduped edge set fits on the
    * driver (≤ `localThreshold` edges, ~4 MB at the default 2^18), the
    * iteration is replaced by one collect + union-find — the standard
    * production hybrid (distributed contraction is for edge sets that
    * do NOT fit anywhere, and paying 5+ scheduled rounds for a few
    * thousand edges is pure overhead). Specs force `localThreshold = 0`
    * to exercise the distributed loop on small fixtures.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 30,
                          localThreshold: Long = 1L << 18): DataFrame = {
    // materialize the (possibly expensive) edge-producing pipeline ONCE;
    // nodes and the working edge set both derive from the checkpoint
    val in = edges.toDF("src", "dst").localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val spark = in.sparkSession
    import spark.implicits._
    val nodes = in
      .select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    var e = in
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    var sig = signature(e)
    val labeled: DataFrame =
      if (sig._1 <= localThreshold) {
        val comp = unionFindLocal(
          e.collect().map(r => (r.getLong(0), r.getLong(1)))).toSeq
        comp.toDF("id", "comp")
      } else {
        var converged = false
        var rounds = 0
        while (!converged && rounds < maxRounds) {
          val next = smallStar(largeStar(e)).localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
          val nextSig = signature(next)
          converged = nextSig == sig
          e.unpersist() // superseded round frame — free its blocks now,
          // not at session end (Bench runs this catalog repeatedly)
          e = next
          sig = nextSig
          rounds += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponents: no fixpoint after $maxRounds rounds")
        // fixpoint is a union of stars: every edge points a member at
        // its component min; centers label themselves below
        e.select(col("src").as("id"), col("dst").as("comp"))
      }
    // isolated nodes (self-loop-only inputs) and star centers label themselves.
    // Checkpoint the (small) label table so every intermediate block —
    // input checkpoint + final edge fixpoint — can be freed immediately
    // instead of living for the session.
    val result = nodes.join(labeled, Seq("id"), "left")
      .groupBy("id").agg(min(col("comp")).as("mn"))
      .select(col("id"), coalesce(col("mn"), col("id")).as("comp"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    e.unpersist()
    in.unpersist()
    result
  }

  /** The near-dup component table (doc_id, cluster_id) shared by
    * q_doc_dup_clusters and q_doc_cluster_rep — both previously rebuilt
    * the identical shingle-candidate edge subtree plus CC rounds (the
    * sf1 top-two at 13.5 s + 7.6 s, round-4 verdict #2). The jaccard
    * pair table is itself memoized ([[TextQ.jaccardPairsShared]]), and
    * [[connectedComponents]] already returns a localCheckpoint'd frame,
    * so the memo holds an eagerly materialized, lineage-free table.
    */
  private def dupComponents(s: SparkSession, d: String): DataFrame =
    SharedFrames.frame(s, s"dup_components:$d") {
      connectedComponents(
        TextQ.jaccardPairsShared(s, d).select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    }

  /** Near-dup clusters over the exact jaccard pairs: every document in
    * at least one ≥0.5-jaccard pair, labeled with the min doc_id of its
    * connected component plus the component size. The DuckDB oracle
    * computes the same fixpoint with a recursive CTE (min reachable id).
    */
  val qDupClusters: Q = Q.sql(
    "q_doc_dup_clusters",
    s"""${TextQ.jaccardPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT w.doc_id, e.dst FROM reach w JOIN edges e ON w.r = e.src),
       |comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)
       |SELECT c.doc_id, c.cluster_id, CAST(s.n AS BIGINT) AS cluster_size
       |FROM comp c
       |JOIN (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id) s
       |  ON c.cluster_id = s.cluster_id
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val comp = dupComponents(s, d)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-SOURCE duplication diagnostics over the shared near-dup
    * component table — the observability rollup a crawl operator reads
    * before deciding which feeds to throttle: how much of each source
    * is involved in near-dup clusters (docs in comp are in a ≥2
    * cluster by construction — membership requires an edge), and the
    * largest cluster touching the source (boilerplate hubs show up
    * here first). dup_frac is an IEEE divide of exact integer counts.
    *
    * Scale shape: consumes the ONE memoized component table
    * (SharedFrames — computed for q_doc_dup_clusters/_cluster_rep and
    * reused here at zero cost), joins it keys-only against (doc_id,
    * source), and rolls up to ≤ #sources rows.
    */
  val qDupStats: Q = Q.sql(
    "q_doc_dup_stats",
    s"""${TextQ.jaccardPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT w.doc_id, e.dst FROM reach w JOIN edges e ON w.r = e.src),
       |comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
       |csizes AS (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id),
       |dup AS (
       |  SELECT d.source, COUNT(*) AS dup_docs, MAX(s.n) AS max_cluster
       |  FROM comp c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |  JOIN csizes s ON s.cluster_id = c.cluster_id
       |  GROUP BY d.source),
       |tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
       |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
       |  CAST(COALESCE(dup.dup_docs, 0) AS BIGINT) AS dup_docs,
       |  CAST(COALESCE(dup.dup_docs, 0) AS DOUBLE) / t.n_docs AS dup_frac,
       |  CAST(COALESCE(dup.max_cluster, 0) AS BIGINT) AS max_cluster
       |FROM tot t LEFT JOIN dup USING (source)
       |ORDER BY t.source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val comp = dupComponents(s, d)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("n"))
    val dup = comp.join(docs, "doc_id").join(sizes, "cluster_id")
      .groupBy("source")
      .agg(count(lit(1)).as("dup_docs"), max(col("n")).as("max_cluster"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(dup, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        coalesce(col("dup_docs"), lit(0L)).cast(DoubleType)
          / col("n_docs").cast(DoubleType) as "dup_frac",
        coalesce(col("max_cluster"), lit(0L)).as("max_cluster"))
      .orderBy(col("source").asc)
  }

  // -------------------------------------------------------------------
  // Token-budget shard packing
  // -------------------------------------------------------------------

  val shardTokenBudget = 1000L
  private val minBucketSize = 100L
  private val maxDriverBuckets = 8192L

  /** Token-budget shard packing over (doc_id, n_tokens): shard_id =
    * floor(exclusive-prefix-sum(n_tokens) / budget) in doc_id order —
    * the ONE implementation behind qShardPack and qCurate, so the
    * offset arithmetic cannot diverge between the two packing paths.
    *
    * Scale shape: a GLOBAL running sum is a single-task window, so the
    * prefix sum is two-phase — per-bucket (doc_id div bucketSize)
    * partial sums, a driver-side prefix over the bucket-sum table,
    * then a per-bucket window + broadcast offset join. The bucket size
    * ADAPTS to the id range (max(doc_id) / maxDriverBuckets, floored
    * at minBucketSize), so the driver never holds more than ~8192
    * scalars at ANY corpus size — 10^10 docs collect the same few KB
    * as the fixture corpus — while small corpora still split into
    * enough buckets to exercise (and parallelize) the two-phase path.
    * Deterministic: buckets derive from doc_id values only, never from
    * partition layout or row order.
    *
    * The input is cached (storage-level-guarded so a repeat invocation
    * reuses the existing entry instead of warning "already cached"): it
    * feeds the max-id scan, the bucket-sum collect, AND the returned
    * frame — without the cache the entire upstream pipeline (scan,
    * normalize, dedup shuffle, …) executes three times per run. cache()
    * rather than localCheckpoint here because the returned frame must
    * keep the full logical plan visible: PlanAuditSpec pins the
    * upstream stages (decontamination broadcast, bucketed windows)
    * through the InMemoryRelation, which a checkpoint would hide.
    */
  private def withExclusivePrefixSum(in: DataFrame,
                                     partCol: Option[String] = None): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    val baseCols = Seq(col("doc_id"), col("n_tokens")) ++ partCol.map(col)
    val toks0 = in.select(baseCols: _*)
    val toks =
      if (toks0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        toks0.cache()
      else toks0
    // materializes the cache; the two downstream passes read it back
    val maxId = toks.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val bucketSize = math.max(minBucketSize, maxId / maxDriverBuckets + 1)
    val bucketed = toks.withColumn("__bucket",
      floor(col("doc_id") / bucketSize).cast(LongType))
    partCol match {
      case None =>
        val bucketSums = bucketed.groupBy("__bucket")
          .agg(sum("n_tokens").as("bsum"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val offsets = prefixOffsets(bucketSums)
        val offsetDf = broadcast(offsets.toDF("__bucket", "__offset"))
        val w = Window.partitionBy("__bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bucketed.join(offsetDf, "__bucket")
          .withColumn("__start",
            (sum(col("n_tokens")).over(w) + col("__offset") - col("n_tokens"))
              .cast(LongType))
          .select(col("doc_id"), col("n_tokens"), col("__start"))
      case Some(p) =>
        // independent prefix sum per partition value (e.g. one shard
        // sequence per train/val/test split): bucket sums key on
        // (partition, bucket) — the driver holds ≤ maxDriverBuckets ×
        // |partitions| scalars, same size class as before for the
        // handful of split values this is used with
        val bucketSums = bucketed.groupBy(col(p), col("__bucket"))
          .agg(sum("n_tokens").as("bsum"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val offsets = bucketSums.groupBy(_._1).toSeq.flatMap { case (pv, rows) =>
          prefixOffsets(rows.map(r => (r._2, r._3)).sortBy(_._1))
            .map { case (b, off) => (pv, b, off) }
        }
        val offsetDf = broadcast(offsets.toDF(p, "__bucket", "__offset"))
        val w = Window.partitionBy(col(p), col("__bucket")).orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bucketed.join(offsetDf, Seq(p, "__bucket"))
          .withColumn("__start",
            (sum(col("n_tokens")).over(w) + col("__offset") - col("n_tokens"))
              .cast(LongType))
          .select(col("doc_id"), col(p), col("n_tokens"), col("__start"))
    }
  }

  /** Exclusive prefix over sorted (bucket, sum) rows → per-bucket start
    * offsets — the driver-side step of the two-phase prefix sum. Shared
    * by the token-budget packing (Long buckets) and the global shuffle
    * (hex-prefix String buckets).
    */
  private def prefixOffsets[K](bucketSums: Seq[(K, Long)]): Seq[(K, Long)] = {
    var acc = 0L
    bucketSums.map { case (b, n) => val off = acc; acc += n; (b, off) }
  }

  private[graft] def packIntoShards(in: DataFrame, budget: Long): DataFrame =
    withExclusivePrefixSum(in)
      .select(col("doc_id"), col("n_tokens"),
        floor(col("__start") / lit(budget.toDouble)).cast(LongType).as("shard_id"))
      .orderBy(col("doc_id").asc)

  /** [[packIntoShards]] with an independent shard sequence per value of
    * `partCol` (shard_id restarts at 0 within each split).
    */
  private[graft] def packIntoShardsBy(in: DataFrame, budget: Long,
                                      partCol: String): DataFrame =
    withExclusivePrefixSum(in, Some(partCol))
      .select(col("doc_id"), col(partCol), col("n_tokens"),
        floor(col("__start") / lit(budget.toDouble)).cast(LongType).as("shard_id"))
      .orderBy(col("doc_id").asc)

  /** Seed for the deterministic global training-order shuffle; fixed
    * docs-per-shard for the positional sharding (distinct from the
    * token-budget packing — this is the ORDER randomizer, not the
    * size balancer).
    */
  private[graft] val shuffleSeed = 42
  private[graft] val shuffleDocsPerShard = 64L

  /** Deterministic GLOBAL SHUFFLE — the training-order randomization
    * every epoch-0 data loader needs: documents are permuted by
    * md5(doc_id || ':' || seed) (reshuffling = changing the seed,
    * reproducing a run = keeping it), assigned a global position, and
    * cut into fixed-size positional shards. Downstream loaders read
    * shards sequentially and still see an i.i.d.-like document stream.
    *
    * Scale shape: a global ROW_NUMBER is a single-task window, so the
    * position is two-phase like [[packIntoShards]] — but bucketed by
    * the first 2 hex chars of the SORT KEY (256 uniform buckets; the
    * hash makes them uniform by construction, no skew even when
    * doc_ids cluster), a 256-row driver prefix, then per-bucket
    * row_number + broadcast offset join. Ordering by (bucket,
    * sort_key) equals ordering by sort_key because the bucket IS a
    * prefix of the key. At 100 TB this is one hash-partitioned
    * shuffle of (doc_id, 32-byte key) pairs — keys-only, never the
    * document text.
    */
  val qGlobalShuffle: Q = Q.sql(
    "q_doc_global_shuffle",
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    md5(CAST(doc_id AS VARCHAR) || ':$shuffleSeed') AS sort_key
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, sort_key,
       |    CAST(ROW_NUMBER() OVER (ORDER BY sort_key ASC, doc_id ASC) - 1
       |      AS BIGINT) AS pos
       |  FROM keyed)
       |SELECT doc_id, sort_key, pos,
       |  pos // $shuffleDocsPerShard AS shard_id
       |FROM pos
       |ORDER BY pos ASC""".stripMargin) { (s, d) =>
    globalShuffle(Tables.documents(s, d))
  }

  /** The two-phase permutation over any frame with a doc_id column —
    * factored so the spec can assert the permutation property directly.
    */
  def globalShuffle(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // feeds the bucket-count collect AND the output; localCheckpoint
    // (not cache) so the blocks release with the frame via the
    // ContextCleaner — a CacheManager entry would pin corpus-scale
    // keys for the rest of the session (Verify never clearCache()s)
    val keyed = docs.select(col("doc_id"),
      md5(concat(col("doc_id").cast(StringType), lit(s":$shuffleSeed")))
        .as("sort_key"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val bucketed = keyed.withColumn("__bucket", substring(col("sort_key"), 1, 2))
    val counts = bucketed.groupBy("__bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val offsetDf = broadcast(prefixOffsets(counts).toDF("__bucket", "__offset"))
    val w = Window.partitionBy("__bucket")
      .orderBy(col("sort_key").asc, col("doc_id").asc)
    bucketed.join(offsetDf, "__bucket")
      .withColumn("pos",
        (row_number().over(w).cast(LongType) - 1L + col("__offset"))
          .cast(LongType))
      .select(col("doc_id"), col("sort_key"), col("pos"),
        floor(col("pos") / lit(shuffleDocsPerShard.toDouble))
          .cast(LongType).as("shard_id"))
      .orderBy(col("pos").asc)
  }

  /** Pack documents (in doc_id order) into training shards of
    * ~`shardTokenBudget` whitespace tokens — see [[packIntoShards]].
    */
  val qShardPack: Q = Q.sql(
    "q_doc_shard_pack",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |  CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
       |    / $shardTokenBudget.0) AS BIGINT) AS shard_id
       |FROM t
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    packIntoShards(
      Tables.documents(s, d).select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens")),
      shardTokenBudget)
  }

  // -------------------------------------------------------------------
  // Fixed-context sequence spans
  // -------------------------------------------------------------------

  /** Pretraining-batch geometry: concatenate the corpus in doc_id
    * order and cut it into fixed `seqLen`-token training sequences
    * (tokens cross document boundaries, the standard packed-sequence
    * regime). Per document: the first and last sequence it lands in
    * and how many it spans — the bookkeeping a data loader needs to
    * attribute sequences back to documents (and the shape of the
    * boundary-index sidecar file a packed dataset ships with).
    *
    * Same scale shape as shard packing: the only non-per-row work is
    * the two-phase exclusive prefix sum (no global window). Positions
    * are exact at any corpus size a Double can index (< 2^53 tokens).
    */
  val seqLen = 128L

  val qSeqSpans: Q = Q.sql(
    "q_doc_seq_spans",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS st
       |  FROM t WHERE n_tokens >= 1)
       |SELECT doc_id, n_tokens,
       |  CAST(floor(st / $seqLen.0) AS BIGINT) AS first_seq,
       |  CAST(floor((st + n_tokens - 1) / $seqLen.0) AS BIGINT) AS last_seq,
       |  CAST(floor((st + n_tokens - 1) / $seqLen.0)
       |     - floor(st / $seqLen.0) + 1 AS BIGINT) AS n_seqs
       |FROM p
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") >= 1)
    val lastTok = col("__start") + col("n_tokens") - 1
    withExclusivePrefixSum(toks)
      .select(col("doc_id"), col("n_tokens"),
        floor(col("__start") / lit(seqLen.toDouble)).cast(LongType).as("first_seq"),
        floor(lastTok / lit(seqLen.toDouble)).cast(LongType).as("last_seq"),
        (floor(lastTok / lit(seqLen.toDouble))
          - floor(col("__start") / lit(seqLen.toDouble)) + 1)
          .cast(LongType).as("n_seqs"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Overlapping document chunking
  // -------------------------------------------------------------------

  /** Split each document into overlapping `chunkLen`-token windows at
    * `chunkStride` spacing — the chunker a retrieval/embedding pipeline
    * runs before vectorizing (overlap keeps sentences that straddle a
    * boundary retrievable from both sides). The last chunk is the one
    * containing the final token; documents at or under one window stay
    * whole.
    *
    * Scale shape: pure per-row generate (tokens → slice per window) —
    * no shuffle at all before the output sort; the output is bounded
    * by n_tokens/stride rows per doc. All chunk arithmetic is integer
    * (ceil via (n−L+S−1) div S), so the oracle is exact.
    */
  val chunkLen = 50
  val chunkStride = 40

  val qChunk: Q = Q.sql(
    "q_doc_chunk",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |t2 AS (SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) >= 1),
       |t3 AS (SELECT *, CASE WHEN n <= $chunkLen THEN 1
       |  ELSE 1 + CAST((n - $chunkLen + ${chunkStride - 1}) // $chunkStride AS BIGINT)
       |  END AS n_chunks FROM t2),
       |c AS (SELECT doc_id, tok, n, unnest(range(0, n_chunks)) AS k FROM t3)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |  CAST(least($chunkLen, n - k * $chunkStride) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(list_slice(tok, k * $chunkStride + 1,
       |    least(k * $chunkStride + $chunkLen, n)), ' ') AS chunk_text
       |FROM c
       |ORDER BY doc_id ASC, chunk_id ASC""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .withColumn("n", size(col("tok")))
      .filter(col("n") >= 1)
      .withColumn("n_chunks",
        when(col("n") <= chunkLen, lit(1L))
          .otherwise(lit(1L) +
            floor((col("n") - chunkLen + (chunkStride - 1)) / chunkStride)
              .cast(LongType)))
      .select(col("doc_id"), col("tok"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("k"))
    t.select(col("doc_id"), col("k").as("chunk_id"),
        least(lit(chunkLen.toLong), col("n") - col("k") * chunkStride)
          .cast(LongType).as("n_chunk_tokens"),
        array_join(slice(col("tok"),
          (col("k") * chunkStride + 1).cast(IntegerType), lit(chunkLen)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
  }

  // -------------------------------------------------------------------
  // Stratified sampling
  // -------------------------------------------------------------------

  /** Per-language keep-thresholds over the md5(doc_id) hash space:
    * a row survives iff its first 8 md5 hex chars sort below the
    * language's threshold — 50% of English, 20% of everything else.
    * Deterministic (same rows in any engine, any partitioning, any
    * run), per-row, shuffle-free: the sampling design that lets a
    * 100 TB corpus downsample in the scan itself. Hex-string
    * comparison is engine-portable; 0x80000000/0x33333333 ≈ the target
    * fractions of the 32-bit space.
    */
  private val langThreshold: Map[String, String] =
    Map("en" -> "80000000").withDefaultValue("33333333")

  val qStratifiedSample: Q = Q.sql(
    "q_doc_stratified_sample",
    s"""SELECT doc_id, lang
       |FROM documents
       |WHERE $sqlDocHashPrefix <
       |  CASE WHEN lang = 'en' THEN '80000000' ELSE '33333333' END
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(docHashPrefix < when(col("lang") === "en", lit(langThreshold("en")))
        .otherwise(lit(langThreshold("other"))))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Deterministic hashing for sampling / splits
  // -------------------------------------------------------------------

  /** md5 of doc_id rendered as a decimal string — THE deterministic
    * per-document hash every sampling/split operator cuts on, defined
    * once per surface so the Spark and oracle forms cannot drift (the
    * VARCHAR render step is load-bearing: hashing the raw int64 bytes
    * would produce different digests). Same shape as Num's dec/sqlDsum
    * helper pair.
    */
  private def docHash: Column =
    md5(col("doc_id").cast(StringType).cast(BinaryType))
  private def docHashPrefix: Column = substring(docHash, 1, 8)
  private def sqlDocHash: String = "md5(CAST(doc_id AS VARCHAR))"
  private def sqlDocHashPrefix: String = s"substring($sqlDocHash, 1, 8)"

  // -------------------------------------------------------------------
  // Deterministic k-per-group sampling
  // -------------------------------------------------------------------

  /** k random-but-reproducible documents per language — the "pull a
    * few eval examples per class" operation. Randomness is the md5
    * order of doc_id (run-, engine-, and partitioning-independent;
    * adding documents only perturbs a group's sample where new hashes
    * sort into its top k), rank is a per-group window — one shuffle on
    * the group key, bounded state per group.
    */
  val samplePerGroupK = 5

  val qSamplePerGroup: Q = Q.sql(
    "q_doc_sample_per_group",
    s"""WITH ranked AS (
       |  SELECT lang, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY $sqlDocHash ASC, doc_id ASC) AS rk
       |  FROM documents)
       |SELECT lang, CAST(rk AS INT) AS rk, doc_id
       |FROM ranked WHERE rk <= $samplePerGroupK
       |ORDER BY lang ASC NULLS FIRST, rk ASC""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang")
      .orderBy(docHash.asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), row_number().over(w).as("rk"))
      .filter(col("rk") <= samplePerGroupK)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang").asc, col("rk").asc)
  }

  // -------------------------------------------------------------------
  // Train / validation / test split
  // -------------------------------------------------------------------

  /** Deterministic 90/5/5 train/val/test assignment over the md5
    * hash space — the split every training run needs, with the
    * properties that matter at 100 TB: per-row and shuffle-free
    * (assignment happens in the scan), reproducible across engines,
    * runs, and partitionings (hash of doc_id, never RAND()), and
    * STABLE UNDER CORPUS GROWTH — a document keeps its split when
    * other documents are added or removed, so yesterday's held-out set
    * never silently leaks into today's training set. Thresholds are
    * hex prefixes of the 32-bit space (0xE6666666 ≈ 90%,
    * 0xF3333333 ≈ 95%).
    */
  val qSplit: Q = Q.sql(
    "q_doc_split",
    s"""SELECT doc_id,
       |  CASE WHEN $sqlDocHashPrefix < 'e6666666' THEN 'train'
       |       WHEN $sqlDocHashPrefix < 'f3333333' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(docHashPrefix < "e6666666", "train")
          .when(docHashPrefix < "f3333333", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Unicode normalization
  // -------------------------------------------------------------------

  /** NFC-normalize (composed form), strip control characters, collapse
    * whitespace runs, trim — the canonical text-cleanup pass before
    * hashing/dedup (differently-encoded equal strings must hash equal).
    * Per-row scalar, embarrassingly parallel. Oracle: DuckDB
    * nfc_normalize + the same regex pipeline.
    */
  val nfcNormalize = udf { s: String =>
    if (s == null) null
    else Normalizer.normalize(s, Normalizer.Form.NFC)
  }.withName("nfcNormalize")

  /** The full normalize pipeline as a column expression — NFC compose,
    * strip non-whitespace controls (tab/newline/CR stay, so the
    * whitespace collapse turns them into single spaces instead of
    * gluing words), collapse runs, trim. Shared by the batch queries.
    */
  def normText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(nfcNormalize(c), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "\\s+", " "))

  val qNormalize: Q = Q.sql(
    "q_doc_normalize",
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
      |    '[ \x09-\x0d]+', ' ', 'g')) AS norm_text
      |FROM documents
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm_text"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Repetition metrics (Gopher-style quality rules)
  // -------------------------------------------------------------------

  /** Per-document repetition signals from the public Gopher data-quality
    * rules (Rae et al. 2021 §A1.1): duplicate-word fraction and the
    * fraction of bigrams taken by the single most frequent bigram.
    * Highly repetitive machine-generated text scores near 1. Per-doc
    * aggregation of exploded bigrams — shuffle keys are (doc_id,
    * bigram), uniform at corpus scale.
    */
  val qRepetition: Q = Q.sql(
    "q_doc_repetition",
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS tok
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, len(tok) AS n_tokens, len(list_distinct(tok)) AS n_distinct, tok
      |  FROM t WHERE len(tok) >= 2),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])) AS bigram
      |  FROM base),
      |top AS (
      |  SELECT doc_id, MAX(c) AS top_c
      |  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
      |  1.0 - CAST(b.n_distinct AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) AS dup_word_frac,
      |  CAST(p.top_c AS DOUBLE) / CAST(b.n_tokens - 1 AS DOUBLE) AS top_bigram_frac
      |FROM base b JOIN top p ON b.doc_id = p.doc_id
      |ORDER BY b.doc_id ASC""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .filter(size(col("tok")) >= 2)
      .select(col("doc_id"),
        size(col("tok")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("tok"))).cast(LongType).as("n_distinct"),
        col("tok"))
    val top = base
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("tok"), 2)).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"))
    base.join(top, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("dup_word_frac"),
        (col("top_c").cast(DoubleType) / (col("n_tokens") - 1).cast(DoubleType))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Fixed-context truncation packing
  // -------------------------------------------------------------------

  /** Context length for the truncation packer — small enough that the
    * fixture corpus actually splits documents.
    */
  val truncSeqLen = 64L

  /** Per-doc piece cap: keeps the synthetic (doc, piece) order key
    * dense and collision-free (pid = doc_id·cap + piece_idx). A doc
    * longer than cap·[[truncSeqLen]] tokens (65536·64 here) would need
    * a wider key — asserted, not silently wrapped.
    */
  val truncMaxPieces = 65536L

  /** Fixed-context TRUNCATION packing: documents longer than
    * [[truncSeqLen]] tokens split at the context boundary (the standard
    * alternative to [[qSeqSpans]]' doc-spanning concatenation — no
    * sequence ever crosses a document boundary, the form used when
    * attention must not leak across documents), then the pieces pack
    * into token-budget shards in (doc_id, piece_idx) order with the
    * same two-phase prefix sum as every other packer — the piece
    * stream just rides a dense synthetic key, so no new window shapes.
    */
  val qTruncatePack: Q = Q.sql(
    "q_doc_truncate_pack",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n
       |  FROM documents),
       |pieces AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS piece_idx,
       |    least($truncSeqLen, n - CAST(u.i AS BIGINT) * $truncSeqLen) AS n_tokens
       |  FROM t, unnest(range(0, (n - 1) // $truncSeqLen + 1)) AS u(i)
       |  WHERE n > 0)
       |SELECT doc_id, piece_idx, n_tokens,
       |  CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id, piece_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
       |    / $shardTokenBudget.0) AS BIGINT) AS shard_id
       |FROM pieces
       |ORDER BY doc_id ASC, piece_idx ASC""".stripMargin) { (s, d) =>
    val pieces = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n"))
      .filter(col("n") > 0)
      // key-width guard: fail loudly rather than wrap the piece key
      .withColumn("n", when(col("n") > lit(truncSeqLen * truncMaxPieces),
        raise_error(lit("q_doc_truncate_pack: document exceeds truncMaxPieces")))
        .otherwise(col("n")))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L),
          floor((col("n") - 1) / truncSeqLen).cast(LongType))).as("piece_idx"))
      .withColumn("n_tokens",
        least(lit(truncSeqLen), col("n") - col("piece_idx") * truncSeqLen))
    val keyed = pieces
      .withColumn("pid", col("doc_id") * truncMaxPieces + col("piece_idx"))
    packIntoShards(
      keyed.select(col("pid").as("doc_id"), col("n_tokens")),
      shardTokenBudget)
      .select((col("doc_id") / truncMaxPieces).cast(LongType).as("doc_id"),
        pmod(col("doc_id"), lit(truncMaxPieces)).cast(LongType).as("piece_idx"),
        col("n_tokens"), col("shard_id"))
      .orderBy(col("doc_id").asc, col("piece_idx").asc)
  }

  // -------------------------------------------------------------------
  // Corpus-level duplicate-span profile (exact-substring dedup)
  // -------------------------------------------------------------------

  /** Exact-substring duplication profile (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * every positional `dupSpanN`-token window in a document, is that
    * exact span repeated anywhere else in the corpus (any doc,
    * including elsewhere in the same doc)? Per document: total spans,
    * duplicated spans, and the duplicated fraction — the signal that
    * paper's suffix-array pass produces, here as two shingle-keyed
    * aggregations. Unlike q_doc_repetition (per-doc Gopher rules) this
    * is a CORPUS-level frequency test; unlike q_doc_ngram_jaccard it
    * profiles spans, not document pairs, so it needs no pair join.
    *
    * Scale shape: positional spans explode once (cached — the frame
    * feeds the frequency count and the join back), the corpus-wide
    * count is one map-side-combining shuffle on the span key, and the
    * re-join is the same key — at 100 TB both run over xxhash64(span)
    * instead of the raw string (8-byte shuffle keys; collisions only
    * ever merge counts, never lose spans). The string form is kept here
    * because the DuckDB oracle must group on identical keys.
    */
  val dupSpanN = 5

  /** Stand-in benchmark boundary shared by q_doc_contamination, the
    * surgical span decontamination, and the curate flagship. (Declared
    * BEFORE the query vals that interpolate it — object vals
    * initialize in declaration order and a forward reference silently
    * reads 0; the q_doc_decontam_spans oracle hit exactly that.)
    */
  val curateBenchMaxDocId = 10L

  val qDupSpans: Q = Q.sql(
    "q_doc_dup_spans",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tok) - 3),
       |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4])) AS span
       |  FROM t WHERE len(tok) >= $dupSpanN),
       |freq AS (SELECT span, COUNT(*) AS occ FROM spans GROUP BY span)
       |SELECT s.doc_id,
       |  COUNT(*) AS n_spans,
       |  CAST(SUM(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  CAST(SUM(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
       |FROM spans s JOIN freq f ON s.span = f.span
       |GROUP BY s.doc_id
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val spans = positionalSpans(s, d)
    val freq = spans.groupBy("span").agg(count(lit(1)).as("occ"))
    val isDup = when(col("occ") >= 2, lit(1L)).otherwise(lit(0L))
    spans.join(freq, "span")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(isDup).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast(DoubleType) / col("n_spans").cast(DoubleType))
      .orderBy(col("doc_id").asc)
  }

  /** The positional span table (doc_id, pos, span) shared by the
    * duplicate-span profile and the span-removal operator — memoized
    * checkpoint (per-invocation checkpointing without the memo measured
    * 2× on the sf1 decade because both bench passes re-materialized it).
    */
  private def positionalSpans(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.shingles
    SharedFrames.frame(s, s"dup_spans:$d") {
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tok"))
        .filter(size(col("tok")) >= dupSpanN)
        .select(col("doc_id"),
          posexplode(shingles(col("tok"), dupSpanN)).as(Seq("pos", "span")))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
  }

  /** Exact-substring span REMOVAL (the acting half of [[qDupSpans]]'s
    * profile — Lee et al. 2022's ExactSubstr dedup, windowed): every
    * token position covered by a `dupSpanN`-token span that occurs ≥2
    * times in the corpus is cut; the document is rebuilt from the
    * surviving tokens in order. Removing BOTH occurrences (not
    * keep-one) matches the paper's observation that duplicated spans
    * are boilerplate the model should not weight at all; the per-doc
    * profile query remains the measurement sibling.
    *
    * Scale shape: spans explode once (the shared [[positionalSpans]]
    * checkpoint), the corpus-wide frequency is one map-side-combining
    * shuffle on the span key, covered positions explode from the
    * duplicated spans only (bounded by dup mass, not corpus size), and
    * the cut is a keys-only (doc_id, pos) anti-join. The rebuild sorts
    * each doc's surviving tokens inside one aggregation — no global
    * sort before the output ORDER BY.
    */
  val qDespan: Q = Q.sql(
    "q_doc_despan",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, tok[u.i] AS token
       |  FROM t, unnest(range(1, len(tok) + 1)) AS u(i)),
       |spans AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
       |    tok[u.i] || ' ' || tok[u.i+1] || ' ' || tok[u.i+2] || ' ' || tok[u.i+3] || ' ' || tok[u.i+4] AS span
       |  FROM t, unnest(range(1, len(tok) - 3)) AS u(i)
       |  WHERE len(tok) >= $dupSpanN),
       |freq AS (SELECT span FROM spans GROUP BY span HAVING COUNT(*) >= 2),
       |covered AS (
       |  SELECT DISTINCT s.doc_id, s.pos + v.j AS cpos
       |  FROM spans s JOIN freq f ON s.span = f.span
       |  CROSS JOIN unnest(range(0, $dupSpanN)) AS v(j)),
       |kept AS (
       |  SELECT tk.doc_id, tk.pos, tk.token
       |  FROM toks tk LEFT JOIN covered c
       |    ON c.doc_id = tk.doc_id AND c.cpos = tk.pos
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, string_agg(token, ' ' ORDER BY pos ASC) AS clean_text,
       |    COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |  COALESCE(a.clean_text, '') AS clean_text,
       |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(t.tok) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
       |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id ASC""".stripMargin) { (s, d) =>
    despanFromSpans(Tables.documents(s, d), positionalSpans(s, d))
  }

  /** The removal pipeline over any (doc_id, text) + positional-span
    * frame — factored so PipelineQSpec can plant exact duplicated
    * spans and check the cut semantics directly.
    */
  def despanFromSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val dupSpan = spans.join(
      spans.groupBy("span").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2).select("span"),
      "span")
    rebuildWithoutCovered(docs, spanCover(dupSpan))
  }

  /** (doc_id, cpos) position cover of a positional-span frame. */
  private def spanCover(spans: DataFrame): DataFrame =
    spans.select(col("doc_id"),
      explode(sequence(col("pos"), col("pos") + lit(dupSpanN - 1))).as("cpos"))
      .distinct()

  /** Rebuild each document from the tokens NOT in the (doc_id, cpos)
    * cover: keys-only anti-join, per-doc in-aggregate sort, kept /
    * removed counts. Shared by span-dedup and surgical
    * decontamination.
    */
  private def rebuildWithoutCovered(docs: DataFrame,
                                    covered: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val kept = toks.join(covered,
      toks("doc_id") === covered("doc_id") && toks("pos") === covered("cpos"),
      "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).cast(LongType).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).cast(LongType).as("n_removed"))
      .orderBy(col("doc_id").asc)
  }

  /** SURGICAL decontamination: instead of dropping every document that
    * shares a benchmark 5-gram (q_doc_contamination's sweep — the
    * conservative pre-training default), cut exactly the overlapping
    * token spans and keep the rest of the document — the retention-
    * maximizing variant for corpora where contamination is boilerplate
    * quotation rather than wholesale copying. Output rows are the
    * corpus documents (the doc_id < 10 stand-ins are the eval set, not
    * corpus members here). Same scale shape as [[qDespan]]: the bench
    * span set broadcasts, the cover explodes from matches only, the
    * cut is a keys-only anti-join.
    */
  val qDecontamSpans: Q = Q.sql(
    "q_doc_decontam_spans",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, tok[u.i] AS token
       |  FROM t, unnest(range(1, len(tok) + 1)) AS u(i)
       |  WHERE doc_id >= $curateBenchMaxDocId),
       |spans AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
       |    tok[u.i] || ' ' || tok[u.i+1] || ' ' || tok[u.i+2] || ' ' || tok[u.i+3] || ' ' || tok[u.i+4] AS span
       |  FROM t, unnest(range(1, len(tok) - 3)) AS u(i)
       |  WHERE len(tok) >= $dupSpanN),
       |bench AS (
       |  SELECT DISTINCT span FROM spans WHERE doc_id < $curateBenchMaxDocId),
       |covered AS (
       |  SELECT DISTINCT s.doc_id, s.pos + v.j AS cpos
       |  FROM spans s JOIN bench b ON s.span = b.span
       |  CROSS JOIN unnest(range(0, $dupSpanN)) AS v(j)
       |  WHERE s.doc_id >= $curateBenchMaxDocId),
       |kept AS (
       |  SELECT tk.doc_id, tk.pos, tk.token
       |  FROM toks tk LEFT JOIN covered c
       |    ON c.doc_id = tk.doc_id AND c.cpos = tk.pos
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, string_agg(token, ' ' ORDER BY pos ASC) AS clean_text,
       |    COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |  COALESCE(a.clean_text, '') AS clean_text,
       |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(t.tok) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
       |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
       |WHERE t.doc_id >= $curateBenchMaxDocId
       |ORDER BY t.doc_id ASC""".stripMargin) { (s, d) =>
    val spans = positionalSpans(s, d)
    val bench = spans.filter(col("doc_id") < curateBenchMaxDocId)
      .select("span").distinct()
    val hits = spans.filter(col("doc_id") >= curateBenchMaxDocId)
      .join(broadcast(bench), Seq("span"), "left_semi")
    rebuildWithoutCovered(
      Tables.documents(s, d).filter(col("doc_id") >= curateBenchMaxDocId),
      spanCover(hits))
  }

  // -------------------------------------------------------------------
  // Paragraph-level dedup (keep-first)
  // -------------------------------------------------------------------

  /** Paragraph width in tokens. The synthetic corpus carries no
    * newline/sentence boundaries, so "paragraph" here is a fixed
    * NON-overlapping 16-token block aligned at multiples of 16 — the
    * segmentation is a stand-in, the dedup semantics are the real
    * operator (on a natural corpus the blockify step is replaced by a
    * split on newline runs; everything downstream is unchanged).
    */
  val paraK = 16

  /** Corpus-wide paragraph dedup, KEEP-FIRST (MassiveText-style line/
    * paragraph dedup, Rae et al. 2021 §A.1.2): every document splits
    * into non-overlapping [[paraK]]-token blocks; for each distinct
    * block content exactly the lexicographically-first occurrence (min
    * (doc_id, bidx)) survives and every other occurrence is cut;
    * documents are rebuilt from their surviving blocks in order. The
    * keep-first rule is what distinguishes this from [[qDespan]]
    * (overlapping 5-gram windows, BOTH occurrences cut) — boilerplate
    * survives once instead of vanishing entirely.
    *
    * Scale shape: blockify is a per-row generate (no shuffle); the
    * first-occurrence table is a map-side-combining groupBy(block) MIN
    * of a (doc_id, bidx) struct — an aggregation, deliberately NOT a
    * row_number window, because a window partitioned by block puts a
    * corpus-frequency boilerplate block into ONE task while the
    * aggregation pre-combines it per partition; there is NO keep-test
    * join — the winning (doc_id, bidx, block) triple comes straight
    * out of that aggregate (the block text is its grouping key), so
    * each block travels the wire exactly once; rebuild sorts blocks
    * inside the per-doc aggregate. At 100 TB the aggregate key would
    * be a 128-bit block hash carried next to the text — at gate scale
    * the exact text keys keep the oracle bit-exact.
    */
  val qParagraphDedup: Q = Q.sql(
    "q_doc_paragraph_dedup",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, tok[u.i] AS token
       |  FROM t, unnest(range(1, len(tok) + 1)) AS u(i)),
       |blocks AS (
       |  SELECT doc_id, pos // $paraK AS bidx,
       |    string_agg(token, ' ' ORDER BY pos ASC) AS block
       |  FROM toks GROUP BY doc_id, bidx),
       |ranked AS (
       |  SELECT doc_id, bidx, block,
       |    ROW_NUMBER() OVER (PARTITION BY block
       |      ORDER BY doc_id ASC, bidx ASC) AS rn
       |  FROM blocks),
       |agg AS (
       |  SELECT doc_id,
       |    string_agg(block, ' ' ORDER BY bidx ASC) AS clean_text,
       |    COUNT(*) AS n_kept
       |  FROM ranked WHERE rn = 1 GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS n_blocks FROM blocks GROUP BY doc_id)
       |SELECT t.doc_id,
       |  COALESCE(a.clean_text, '') AS clean_text,
       |  CAST(COALESCE(tot.n_blocks, 0) AS BIGINT) AS n_blocks,
       |  CAST(COALESCE(tot.n_blocks, 0) - COALESCE(a.n_kept, 0) AS BIGINT)
       |    AS n_removed
       |FROM t
       |LEFT JOIN tot ON tot.doc_id = t.doc_id
       |LEFT JOIN agg a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id ASC""".stripMargin) { (s, d) =>
    paragraphDedup(Tables.documents(s, d))
  }

  /** The keep-first block-dedup pipeline over any (doc_id, text) frame —
    * factored so PipelineQSpec can plant exact duplicate paragraphs.
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val tok = tokens(col("text"))
    // null text tokenizes to null → 0 blocks (the oracle's unnest over a
    // NULL range emits no rows, so its per-doc counts coalesce to 0)
    val nb = coalesce(
      ceil(size(tok).cast(DoubleType) / paraK).cast(IntegerType), lit(0))
    val blockArr = when(size(tok) === 0, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(0), nb - 1),
        i => concat_ws(" ", slice(tok, i * paraK + lit(1), lit(paraK)))))
    val blocks = docs.select(col("doc_id"),
      posexplode(blockArr).as(Seq("bidx", "block")))
    // keep-first survivors ARE the min-struct rows: the block text is
    // the grouping key, so the winning (doc_id, bidx, block) triple
    // comes straight out of the aggregate — no join back against the
    // block stream (r12; the previous shape re-shuffled every block a
    // second time as the join probe side just to filter it down to the
    // rows this aggregate already held)
    val kept = blocks.groupBy("block")
      .agg(min(struct(col("doc_id"), col("bidx"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.bidx").as("bidx"),
        col("block"))
    val rebuilt = kept.groupBy("doc_id").agg(
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("bidx"), col("block")))),
          x => x.getField("block"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), nb.cast(LongType).as("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_blocks"),
        (col("n_blocks") - coalesce(col("n_kept"), lit(0L)))
          .cast(LongType).as("n_removed"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Benchmark decontamination
  // -------------------------------------------------------------------

  /** Decontamination: flag corpus documents sharing any 5-gram with the
    * benchmark set (here the deterministic doc_id < 10 subset stands in
    * for an eval benchmark). The overlap test routes through
    * [[graft.plans.AdaptiveSmallSide.decontamSemi]] — a MEASURED
    * broadcast↔bloom handoff behind one knob: a benchmark gram set at
    * or under maxBroadcastRows broadcasts (every gate SF — the corpus
    * never shuffles, pinned in PlanAuditSpec), one past the knob
    * engages the bloom-cut + partitioned-confirm shape automatically
    * instead of relying on the prose claim that bench sets stay tiny.
    * This is the standard eval-contamination sweep run before training.
    */
  val qContamination: Q = Q.sql(
    "q_doc_contamination",
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS tok
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(tok) - 3),
      |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4])) AS g
      |  FROM t WHERE len(tok) >= 5),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 10)
      |SELECT DISTINCT s.doc_id
      |FROM sh s JOIN bench b ON s.g = b.g
      |WHERE s.doc_id >= 10
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .filter(size(col("tok")) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("tok"), 5)).as("g"))
    val bench = sh.filter(col("doc_id") < 10).select("g").distinct()
    graft.plans.AdaptiveSmallSide
      .decontamSemi(sh.filter(col("doc_id") >= 10), bench, "g")
      .select("doc_id").distinct()
      .orderBy(col("doc_id").asc)
  }

  /** SPLIT-LEAKAGE audit: after train/val/test assignment ([[splitCol]]),
    * measure n-gram leakage from train into each held-out split — the
    * hygiene check that a random split of a DUPLICATED corpus silently
    * fails (near-identical docs land on both sides and the val loss
    * becomes a memorization probe). Per held-out split: how many
    * distinct 5-grams also occur in train, how many docs share at
    * least one, and the leaked-doc fraction.
    *
    * Scale shape: everything is keys-only — (split, doc_id, gram)
    * against a distinct train-gram table, one gram-keyed shuffle (the
    * train side is corpus-sized, so no broadcast; this is the audit
    * that runs once per split decision, not per training step). The
    * three COUNT(DISTINCT)s expand the aggregate input 3× — bounded
    * by the held-out gram mass, which is ~10% of the corpus under the
    * 90/5/5 cut.
    */
  val qSplitLeakage: Q = Q.sql(
    "q_split_leakage",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tok) - 3),
       |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4])) AS g
       |  FROM t WHERE len(tok) >= 5),
       |lab AS (
       |  SELECT doc_id,
       |    CASE WHEN $sqlDocHashPrefix < 'e6666666' THEN 'train'
       |         WHEN $sqlDocHashPrefix < 'f3333333' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |sg AS (
       |  SELECT l.split, s.doc_id, s.g
       |  FROM sh s JOIN lab l ON l.doc_id = s.doc_id),
       |train_g AS (SELECT DISTINCT g FROM sg WHERE split = 'train'),
       |ev AS (
       |  SELECT e.split, e.doc_id, e.g, tg.g AS hit
       |  FROM sg e LEFT JOIN train_g tg ON tg.g = e.g
       |  WHERE e.split <> 'train')
       |SELECT split,
       |  COUNT(DISTINCT CASE WHEN hit IS NOT NULL THEN g END) AS leaked_grams,
       |  COUNT(DISTINCT CASE WHEN hit IS NOT NULL THEN doc_id END) AS leaked_docs,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(COUNT(DISTINCT CASE WHEN hit IS NOT NULL THEN doc_id END) AS DOUBLE)
       |    / COUNT(DISTINCT doc_id) AS leak_frac
       |FROM ev
       |GROUP BY split
       |ORDER BY split ASC""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.shingles
    // The split label is a PURE function of doc_id (md5-prefix cut), so
    // it computes in-scan on the same row the grams explode from — the
    // r14 shape joined the exploded gram stream back to a second
    // documents scan just to attach it (a build+probe over every gram
    // row; the oracle keeps its CTE join spelling, which DuckDB plans
    // independently). Result-identical even under duplicate doc_ids:
    // every downstream aggregate is COUNT(DISTINCT ...).
    val sg = Tables.documents(s, d)
      .select(col("doc_id"), splitCol.as("split"), tokens(col("text")).as("tok"))
      .filter(size(col("tok")) >= 5)
      .select(col("doc_id"), col("split"),
        explode(shingles(col("tok"), 5)).as("g"))
    val trainG = sg.filter(col("split") === "train")
      .select(col("g").as("tg")).distinct()
    sg.filter(col("split") =!= "train")
      .join(trainG, col("g") === col("tg"), "left")
      .groupBy("split")
      .agg(
        countDistinct(when(col("tg").isNotNull, col("g"))).as("leaked_grams"),
        countDistinct(when(col("tg").isNotNull, col("doc_id"))).as("leaked_docs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("leak_frac",
        col("leaked_docs").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .orderBy(col("split").asc)
  }

  // -------------------------------------------------------------------
  // PII redaction
  // -------------------------------------------------------------------

  /** Scrub emails and URLs to placeholder tokens — the minimal PII /
    * boilerplate pass every public-web corpus runs. Patterns restricted
    * to syntax RE2 (DuckDB) and java.util.regex execute identically.
    * Per-row scalar, shuffle-free.
    */
  val qRedact: Q = Q.sql(
    "q_doc_redact",
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(text, 'https?://[^ \x09-\x0d]+', '<URL>', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS red_text
      |FROM documents
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "https?://[^\\s]+", "<URL>"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>").as("red_text"))
      .orderBy(col("doc_id").asc)
  }

  /** WITHIN-document line dedup — the self-repetition scrub the
    * C4/RefinedWeb recipes run before any cross-corpus dedup: a line
    * survives iff it is the FIRST occurrence of its exact text inside
    * its own document (nav menus, cookie banners, and boilerplate
    * footers repeated down a page collapse to one copy; cross-document
    * boilerplate is q_doc_paragraph_dedup's job). Reassembly preserves
    * original line order by construction.
    *
    * Scale shape: pure per-row array work in the scan — zero shuffle
    * before the output sort. The first-occurrence test is
    * list_position (first index) against the line's own index, O(L²)
    * string compares per doc worst case, bounded by per-document line
    * counts — never by corpus size.
    */
  val qSelfDedupLines: Q = Q.sql(
    "q_doc_selfdedup_lines",
    """WITH l AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS ln FROM documents),
      |k AS (
      |  SELECT doc_id, ln,
      |    list_transform(
      |      list_filter(range(1, len(ln) + 1), i -> list_position(ln, ln[i]) = i),
      |      i -> ln[i]) AS kept
      |  FROM l)
      |SELECT doc_id,
      |  CAST(len(ln) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  array_to_string(kept, chr(10)) AS clean_text
      |FROM k
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val lns = split(col("text"), "\n", -1)
    val kept = filter(lns, (l, i) => array_position(lns, l) === (i + 1).cast(LongType))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(lns).cast(LongType).as("n_lines"),
        size(kept).cast(LongType).as("n_kept"),
        array_join(kept, "\n").as("clean_text"))
      .orderBy(col("doc_id").asc)
  }

  /** PII exposure AUDIT — the aggregate sibling of [[qRedact]]: instead
    * of rewriting documents, report per source how much redactable
    * surface exists (total email/URL hits and the fraction of
    * documents carrying any). The triage signal that decides which
    * sources need the redaction pass at all.
    *
    * Scale shape: regexp_extract_all counts compute per-row in the
    * scan; the rollup is one map-side-combined aggregate to ≤ #sources
    * rows.
    *
    * Determinism: every output column is exact int64. The carrying-doc
    * ratio is published as integer PERMILLE via floor division
    * (`(n_pii_docs * 1000) div n_docs` / DuckDB `//`) — the
    * q_doc_token_budget_select idiom — because the earlier
    * DOUBLE→DECIMAL(18,6) quantization is the one engine-divergent
    * rounding in the catalog (Spark HALF_UP vs DuckDB round-half-even
    * on 7th-digit ties such as 1/128). Likewise the URL pattern spells
    * its whitespace class explicitly (`[^ \x09-\x0d]`): java.util.regex
    * `\s` includes \x0b while RE2's does not, so the shorthand can
    * count differently at the margins. Oracle SUMs are cast back to
    * BIGINT (DuckDB widens SUM(BIGINT) to HUGEINT; Spark stays int64).
    */
  val qPiiStats: Q = Q.sql(
    "q_doc_pii_stats",
    """WITH per_doc AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(text, 'https?://[^ \x09-\x0d]+')) AS BIGINT) AS n_url,
      |    CAST(len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email
      |  FROM documents)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_url) AS BIGINT) AS total_urls,
      |  CAST(SUM(n_email) AS BIGINT) AS total_emails,
      |  CAST(SUM(CASE WHEN n_url + n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
      |  (CAST(SUM(CASE WHEN n_url + n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
      |    // COUNT(*) AS pii_permille
      |FROM per_doc
      |GROUP BY source
      |ORDER BY source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit("https?://[^\\s]+"), lit(0)))
          .cast(LongType).as("n_url"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
          .cast(LongType).as("n_email"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_url").as("total_urls"),
        sum("n_email").as("total_emails"),
        sum(when(col("n_url") + col("n_email") > 0, 1L).otherwise(0L))
          .as("n_pii_docs"))
      .withColumn("pii_permille", expr("(n_pii_docs * 1000L) div n_docs"))
      .orderBy(col("source").asc)
  }

  /** CORPUS-frequent boilerplate line removal — the cross-document
    * sibling of [[qSelfDedupLines]] (and the REMOVE-ALL counterpart of
    * q_doc_paragraph_dedup's keep-first): a line whose exact text
    * appears in ≥ 3 DISTINCT documents is boilerplate (nav chrome,
    * cookie banners, license footers) and is deleted from every
    * document; surviving lines reassemble in original order. The
    * Dolma/RefinedWeb-style frequency scrub.
    *
    * Scale shape: document TEXT never crosses a shuffle — the document
    * frequency pass and the keep-decision join move (doc_id, pos,
    * 16-byte line hash) triples only, the kept POSITIONS (ints) group
    * back per doc, and reassembly filters the original line array in
    * the scan against that position list. Hot lines are naturally
    * bounded: the df table only carries hashes seen ≥ 3 times.
    */
  val qBoilerplateLines: Q = Q.sql(
    "q_doc_boilerplate_lines",
    """WITH l AS (
      |  SELECT doc_id, ln FROM (
      |    SELECT doc_id, string_split(text, chr(10)) AS ln FROM documents)),
      |x AS (
      |  SELECT doc_id, i AS pos, md5(ln[i]) AS h
      |  FROM l CROSS JOIN unnest(range(1, len(ln) + 1)) AS t(i)),
      |hot AS (
      |  SELECT h FROM x GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3),
      |kept AS (
      |  SELECT doc_id, list(pos ORDER BY pos ASC) AS ks
      |  FROM x WHERE h NOT IN (SELECT h FROM hot)
      |  GROUP BY doc_id)
      |SELECT l.doc_id,
      |  CAST(len(l.ln) AS BIGINT) AS n_lines,
      |  CAST(COALESCE(len(k.ks), 0) AS BIGINT) AS n_kept,
      |  COALESCE(array_to_string(
      |    list_transform(COALESCE(k.ks, []), i -> l.ln[i]), chr(10)), '')
      |    AS clean_text
      |FROM l LEFT JOIN kept k USING (doc_id)
      |ORDER BY l.doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val lns = split(col("text"), "\n", -1)
    // (doc_id, pos, line-hash) triples — the only corpus-scale shuffle
    val x = docs.select(col("doc_id"), posexplode(lns).as(Seq("p0", "line")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        md5(col("line").cast(BinaryType)).as("h"))
    val hot = x.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3)
      .select("h")
    val kept = x.join(hot, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ks"))
    docs.select(col("doc_id"), lns.as("ln"))
      .join(kept, Seq("doc_id"), "left")
      .withColumn("ks", coalesce(col("ks"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("ln")).cast(LongType).as("n_lines"),
        size(col("ks")).cast(LongType).as("n_kept"),
        array_join(transform(col("ks"), i => element_at(col("ln"), i)), "\n")
          .as("clean_text"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Cluster representative selection (quality-aware dedup)
  // -------------------------------------------------------------------

  /** For each near-dup cluster, keep the BEST copy rather than an
    * arbitrary one: representative = argmax(n_tokens), tie-broken by
    * min doc_id. This is the retention policy step that follows
    * clustering in a curation pipeline — dropping n-1 copies per
    * cluster but keeping the longest (highest-information) variant.
    * Scale shape: clusters from [[connectedComponents]] (keys-only
    * iterations), then ONE window over cluster_id — cluster tables are
    * tiny relative to the corpus (only docs in ≥1 near-dup pair).
    */
  val qClusterRep: Q = Q.sql(
    "q_doc_cluster_rep",
    s"""${TextQ.jaccardPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT w.doc_id, e.dst FROM reach w JOIN edges e ON w.r = e.src),
       |comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
       |scored AS (
       |  SELECT c.cluster_id, c.doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(d.text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
       |ranked AS (
       |  SELECT cluster_id, doc_id, n_tokens,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY n_tokens DESC, doc_id ASC) AS rnk,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM scored)
       |SELECT cluster_id, doc_id AS rep_doc_id, n_tokens AS rep_n_tokens,
       |  CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped
       |FROM ranked WHERE rnk = 1
       |ORDER BY cluster_id ASC""".stripMargin) { (s, d) =>
    val comp = dupComponents(s, d)
    val scored = comp.join(
      Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens")),
      "doc_id")
    val w = Window.partitionBy("cluster_id")
    val ranked = scored
      .withColumn("rnk", row_number().over(
        w.orderBy(col("n_tokens").desc, col("doc_id").asc)))
      .withColumn("cluster_size", count(lit(1)).over(w))
    ranked.filter(col("rnk") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("n_tokens").as("rep_n_tokens"),
        col("cluster_size").cast(LongType).as("cluster_size"),
        (col("cluster_size") - 1).cast(LongType).as("n_dropped"))
      .orderBy(col("cluster_id").asc)
  }

  // -------------------------------------------------------------------
  // Bloom-filter decontamination (the 100 TB shape)
  // -------------------------------------------------------------------

  /** Decontamination with a BLOOM pre-filter: at real scale the
    * benchmark n-gram set is ~10^8 rows — broadcasting it as a hashed
    * relation costs multiple GB per executor, while a 1%-FPP bloom
    * filter of the same set is ~120 MB. So: build the bloom with a
    * distributed `stat.bloomFilter` aggregation, broadcast it, drop
    * ~99% of corpus n-grams in the SCAN stage, and run the exact
    * semi-join confirm only on the tiny survivor set (true hits +
    * ~1% false positives) — the FPs are removed by the exact confirm,
    * so the result is IDENTICAL to [[qContamination]] and shares its
    * oracle semantics. Since round 8 both entries run the SAME
    * [[graft.plans.AdaptiveSmallSide.decontamSemi]] handoff; this one
    * forces the bloom arm so the at-scale shape stays continuously
    * exercised (and plan-pinned) at the gate SFs, where the measured
    * choice alone would always pick the plain broadcast.
    */
  val qContaminationBloom: Q = Q.sql(
    "q_doc_contamination_bloom",
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS tok
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(tok) - 3),
      |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4])) AS g
      |  FROM t WHERE len(tok) >= 5),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 10)
      |SELECT DISTINCT s.doc_id
      |FROM sh s JOIN bench b ON s.g = b.g
      |WHERE s.doc_id >= 10
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .filter(size(col("tok")) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("tok"), 5)).as("g"))
    val bench = sh.filter(col("doc_id") < 10).select("g").distinct()
    graft.plans.AdaptiveSmallSide
      .decontamSemi(sh.filter(col("doc_id") >= 10), bench, "g",
        forceBloom = true)
      .select("doc_id").distinct()
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // TF-IDF top terms
  // -------------------------------------------------------------------

  /** Top-3 most characteristic terms per document by TF-IDF rank
    * (score ∝ tf/df; the monotone log(N/df) weighting is omitted from
    * the ORDER BY operand to keep the comparison engine-portable —
    * identical ordering, no transcendental-function bit drift).
    * Shuffles carry only (doc_id, term, count) triples: tf is one
    * keyed agg, df re-aggregates tf's output, and the rank window
    * partitions by doc_id — never a global sort until the final
    * output ORDER BY.
    */
  val qTfidfTopTerms: Q = Q.sql(
    "q_doc_tfidf_topterms",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |ranked AS (
      |  SELECT t.doc_id, t.term, t.tf, d.df,
      |    row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.term ASC) AS rnk
      |  FROM tf t JOIN df d ON t.term = d.term)
      |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, df
      |FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id ASC, rnk ASC""".stripMargin) { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val ranked = tf.join(df, "term")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy((col("tf").cast(DoubleType) / col("df")).desc, col("term").asc)))
    ranked.filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast(IntegerType).as("rnk"),
        col("term"), col("tf"), col("df"))
      .orderBy(col("doc_id").asc, col("rnk").asc)
  }

  // -------------------------------------------------------------------
  // End-to-end curation flagship
  // -------------------------------------------------------------------

  /** The whole curation pipeline in ONE oracle-gated query:
    * normalize → quality gate → exact dedup on normalized text (keep
    * min doc_id) → benchmark decontamination → train/val/test split →
    * per-split token-budget shard packing. This is the full production
    * sequence a training run executes; every stage is the operator
    * proven individually elsewhere in the catalog
    * (q_doc_normalize/quality_cut/exact_dedup/contamination/split/
    * shard_pack), and the pipeline stays oracle-checkable end to end
    * because each stage is deterministic.
    *
    * Stage semantics: decontamination reuses q_doc_contamination's
    * exact definition — bench 5-grams from the doc_id < 10 stand-in
    * set over RAW text, flagged docs (doc_id ≥ 10 sharing any bench
    * 5-gram) are anti-joined out; the stand-in docs themselves remain
    * corpus members. The split is the same stable md5 cut as
    * q_doc_split, assigned AFTER dedup+decontam so survivors keep
    * their split under corpus growth; shards pack independently per
    * split (a val shard never mixes into train).
    *
    * Scale shape: per-row stages fuse into the scan, dedup is one
    * hash shuffle on md5(norm_text), the decontam probe is a
    * broadcast semi-join (the bench n-gram table is tiny), the split
    * is per-row in the scan, and packing is the two-phase prefix sum
    * keyed by (split, bucket) — no global window anywhere
    * (PlanAuditSpec).
    */
  val curateMinTokens = 5L
  val curateMaxPunctRatio = 0.3

  /** The curation pipeline over any documents frame (doc_id, text) —
    * factored out so CurateStagesSpec can force every stage to fire on
    * a planted fixture. Output: (doc_id, split, n_tokens, shard_id).
    */
  def curateDocs(docs: DataFrame): DataFrame = {
    val norm = docs
      .select(col("doc_id"), normText(col("text")).as("norm_text"))
    val scored = norm
      .filter(length(col("norm_text")) > 0)
      .select(col("doc_id"), col("norm_text"),
        size(tokens(col("norm_text"))).cast(LongType).as("n_tokens"),
        (length(col("norm_text")) -
          length(regexp_replace(col("norm_text"), "[^\\w\\s]", "")))
          .cast(LongType).as("n_punct"),
        length(col("norm_text")).cast(LongType).as("n_chars"))
    val kept = scored.filter(col("n_tokens") >= curateMinTokens &&
      col("n_punct").cast(DoubleType) / col("n_chars") <= curateMaxPunctRatio)
    val dedup = kept
      .groupBy(md5(col("norm_text").cast(BinaryType)))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"))
    // decontamination: q_doc_contamination's exact shape (raw-text
    // 5-grams, broadcast bench probe, corpus never shuffles)
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("tok"))
      .filter(size(col("tok")) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("tok"), 5)).as("g"))
    val bench = sh.filter(col("doc_id") < curateBenchMaxDocId)
      .select("g").distinct()
    val contaminated = sh.filter(col("doc_id") >= curateBenchMaxDocId)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    val clean = dedup.join(contaminated, Seq("doc_id"), "left_anti")
    val withSplit = clean.select(col("doc_id"), col("n_tokens"),
      splitCol.as("split"))
    packIntoShardsBy(withSplit, shardTokenBudget, "split")
  }

  /** The stable train/val/test assignment (90/5/5 md5 cut on doc_id) —
    * ONE definition for every query that splits, so split membership
    * cannot diverge between them.
    */
  def splitCol: Column =
    when(docHashPrefix < "e6666666", "train")
      .when(docHashPrefix < "f3333333", "val")
      .otherwise("test")

  val qCurate: Q = Q.sql(
    "q_doc_curate",
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(
       |      regexp_replace(nfc_normalize(text), '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
       |      '[ \\x09-\\x0d]+', ' ', 'g')) AS norm_text
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, norm_text,
       |    CAST(len(regexp_split_to_array(lower(norm_text), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens,
       |    CAST(length(norm_text) - length(regexp_replace(norm_text, '[^\\w \\x09-\\x0d]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(length(norm_text) AS BIGINT) AS n_chars
       |  FROM norm WHERE length(norm_text) > 0),
       |kept AS (
       |  SELECT * FROM scored
       |  WHERE n_tokens >= $curateMinTokens
       |    AND CAST(n_punct AS DOUBLE) / n_chars <= $curateMaxPunctRatio),
       |dedup AS (
       |  SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens
       |  FROM kept GROUP BY md5(norm_text)),
       |t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tok) - 3),
       |      i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4])) AS g
       |  FROM t WHERE len(tok) >= 5),
       |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < $curateBenchMaxDocId),
       |contaminated AS (
       |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.g = b.g
       |  WHERE s.doc_id >= $curateBenchMaxDocId),
       |clean AS (
       |  SELECT d.doc_id, d.n_tokens,
       |    CASE WHEN $sqlDocHashPrefix < 'e6666666' THEN 'train'
       |         WHEN $sqlDocHashPrefix < 'f3333333' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM dedup d
       |  WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated))
       |SELECT doc_id, split, n_tokens,
       |  CAST(floor((SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
       |    / $shardTokenBudget.0) AS BIGINT) AS shard_id
       |FROM clean
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    curateDocs(Tables.documents(s, d))
  }

  // -------------------------------------------------------------------
  // Source mixture balancing (data mixing)
  // -------------------------------------------------------------------

  /** Rebalance the corpus to equal per-source character mass — the
    * "data mixing" step of a training pipeline (down-sample
    * over-represented sources to target proportions). Per-source
    * sampling rate = min(1, fair_share / source_mass), applied as the
    * same deterministic md5 cut as [[qStratifiedSample]] so the sample
    * is reproducible and order-independent.
    *
    * Scale shape: the rate table is one tiny groupBy over `source`
    * (partial agg, a handful of keys) broadcast back onto the scan —
    * the corpus itself is filtered in the scan stage with NO shuffle.
    * At 100 TB the only change is the rate table coming from table
    * statistics instead of a recount.
    */
  val qMixBalance: Q = Q.sql(
    "q_doc_mix_balance",
    """WITH stats AS (
      |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS src_chars
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(src_chars) AS DOUBLE) AS total_chars,
      |         CAST(COUNT(*) AS DOUBLE) AS nsrc
      |  FROM stats),
      |rates AS (
      |  SELECT source, LEAST(1.0, (total_chars / nsrc) / src_chars) AS rate
      |  FROM stats CROSS JOIN tot)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN rates r USING (source)
      |WHERE r.rate >= 1.0
      |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
      |      lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy("source")
      .agg(sum("n_chars").cast(DoubleType).as("src_chars"))
    val tot = stats.agg(sum("src_chars").as("total_chars"),
      count(lit(1)).cast(DoubleType).as("nsrc"))
    val rates = stats.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0), (col("total_chars") / col("nsrc")) / col("src_chars")).as("rate"))
    docs.join(broadcast(rates), "source")
      .filter(col("rate") >= 1.0 ||
        docHashPrefix <
          lpad(lower(hex(floor(col("rate") * lit(4294967296.0)).cast(LongType))), 8, "0"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id").asc)
  }

  /** TEMPERATURE-scaled mixture sampling (the mT5/multilingual-C4
    * recipe, Xue et al. 2021 §3.1: sample domain s ∝ p_s^α) at
    * α = 0.5 — between q_doc_mix_balance's full flattening (α→0 on
    * char mass) and no rebalancing (α=1): over-represented sources
    * down-sample toward √-share, rare sources keep everything. The
    * output budget is half the corpus; keep rate_s =
    * min(1, B·√n_s / (Σ√n · n_s)), realized by the same deterministic
    * md5(doc_id) hash cut as the stratified sampler, so the survivor
    * set is reproducible in any engine at any partitioning.
    *
    * α = 0.5 specifically because sqrt is CORRECTLY-ROUNDED IEEE in
    * both engines — the rate doubles replay bit-identically (a general
    * pow(p, α) is libm-dependent and would need the quantized-decimal
    * aux pattern instead). Σ√n is an order-pinned fold over sources
    * sorted lexicographically (≤ #sources terms, driver-side).
    *
    * Scale shape: one map-side-combined count per source (≤ #sources
    * rows collected), the rate table broadcasts back, and the cut
    * runs in the scan — the whole rebalance costs one aggregation
    * pass + one filtered scan, no corpus shuffle.
    */
  val qTemperatureMix: Q = Q.sql(
    "q_doc_temperature_mix",
    """WITH stats AS (
      |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(n) AS DOUBLE) AS nd,
      |    list_reduce(
      |      list_prepend(0.0, list(sqrt(CAST(n AS DOUBLE)) ORDER BY source ASC NULLS FIRST)),
      |      (x, y) -> x + y) AS ssum
      |  FROM stats),
      |rates AS (
      |  SELECT source,
      |    LEAST(1.0, (sqrt(CAST(n AS DOUBLE)) * (nd * 0.5))
      |      / (ssum * CAST(n AS DOUBLE))) AS rate
      |  FROM stats CROSS JOIN tot)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN rates r USING (source)
      |WHERE r.rate >= 1.0
      |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
      |      lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      // matches the oracle's pinned `ORDER BY source ASC NULLS FIRST`
      // fold order (a bare sortBy would NPE on a null source group)
      .sortBy(_._1)(Q.nullsFirstString)
    val nd = stats.map(_._2).sum.toDouble
    var ssum = 0.0 // fold in source order, 0-initialized — mirrors the oracle's pinned list fold
    stats.foreach { case (_, n) => ssum += math.sqrt(n.toDouble) }
    val rates = stats.map { case (src, n) =>
      val nD = n.toDouble
      (src, math.min(1.0, (math.sqrt(nD) * (nd * 0.5)) / (ssum * nD)))
    }.toSeq
    import s.implicits._
    docs.join(broadcast(rates.toDF("source", "rate")), "source")
      .filter(col("rate") >= 1.0 ||
        docHashPrefix <
          lpad(lower(hex(floor(col("rate") * lit(4294967296.0)).cast(LongType))), 8, "0"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id").asc)
  }

  /** EPOCH-AWARE mixture realization — the step after a mixture is
    * chosen: materialize a training stream where each source hits its
    * target share via FRACTIONAL EPOCHS (the LLaMA-recipe shape:
    * over-represented sources sample < 1 epoch, under-represented
    * sources REPEAT — epochs > 1 — rather than capping at one pass).
    * Target here is the uniform per-source char share (the same fair
    * share as [[qMixBalance]], which only ever down-samples); epochs_s
    * = fair_share / src_chars, realized per doc as floor(epochs) full
    * copies plus one extra copy iff the deterministic md5(doc_id) cut
    * lands under the fractional part — so the expected char mass per
    * source is exactly the target, and the survivor/copy multiset is
    * reproducible at any partitioning in any engine.
    *
    * Scale shape: identical to the other mix queries — tiny per-source
    * stats, broadcast rate table, the copy count computes in the scan.
    * The explode materializes copies because downstream packers consume
    * a flat stream; at 100 TB the (doc_id, n_copies) form feeds the
    * shard packer directly and this explode never hits storage.
    */
  val qEpochMix: Q = Q.sql(
    "q_doc_epoch_mix",
    """WITH stats AS (
      |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS src_chars
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(src_chars) AS DOUBLE) AS total_chars,
      |         CAST(COUNT(*) AS DOUBLE) AS nsrc
      |  FROM stats),
      |rates AS (
      |  SELECT source, (total_chars / nsrc) / src_chars AS epochs
      |  FROM stats CROSS JOIN tot),
      |counted AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(floor(r.epochs) AS BIGINT)
      |    + CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
      |        lpad(lower(to_hex(CAST(floor((r.epochs - floor(r.epochs)) * 4294967296.0) AS BIGINT))), 8, '0')
      |      THEN 1 ELSE 0 END AS n_copies
      |  FROM documents d JOIN rates r USING (source))
      |SELECT doc_id, source, unnest(range(0, n_copies)) AS copy
      |FROM counted WHERE n_copies > 0
      |ORDER BY doc_id ASC, copy ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy("source")
      .agg(sum("n_chars").cast(DoubleType).as("src_chars"))
    val tot = stats.agg(sum("src_chars").as("total_chars"),
      count(lit(1)).cast(DoubleType).as("nsrc"))
    val rates = stats.crossJoin(broadcast(tot))
      .select(col("source"),
        ((col("total_chars") / col("nsrc")) / col("src_chars")).as("epochs"))
    val frac = col("epochs") - floor(col("epochs"))
    docs.join(broadcast(rates), "source")
      .withColumn("n_copies",
        floor(col("epochs")).cast(LongType) +
          when(docHashPrefix <
            lpad(lower(hex(floor(frac * lit(4294967296.0)).cast(LongType))), 8, "0"),
            lit(1L)).otherwise(lit(0L)))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      .orderBy(col("doc_id").asc, col("copy").asc)
  }

  /** UNIMAX language mixing (Chung et al., ICLR 2023): distribute a
    * total char budget UNIFORMLY across languages, except that no
    * language may repeat more than `unimaxEpochCap` epochs — the
    * closed-form waterfilling that paper shows beats temperature
    * sampling for multilingual pretraining. Languages in ascending
    * char-mass order: each takes min(cap · mass, remaining / langs
    * left); a language that saturates at the cap frees its unused
    * share for the larger languages after it. epochs_l = alloc_l /
    * mass_l is then REALIZED exactly like [[qEpochMix]]: floor(epochs)
    * full copies + one md5-cut fractional copy, so expected char mass
    * per language lands on the allocation.
    *
    * Determinism: the allocation is a sequential fold over ≤ #langs
    * rows — driver-side here, a pinned-order recursive CTE in the
    * oracle — with every step a single IEEE double op on identical
    * operands (masses are exact integer-valued doubles; sums stay
    * below 2^53), so the fold replays bit-identically. Budget = half
    * the corpus chars, cap = 2 epochs.
    *
    * Scale shape: identical to the other mixing ops — one map-side-
    * combined per-lang aggregate (≤ #langs rows collected), a
    * broadcast rate table, and the copy count computed in the scan;
    * the corpus itself never shuffles.
    */
  private[graft] val unimaxEpochCap = 2.0

  val qUnimaxMix: Q = Q.sql(
    "q_doc_unimax_mix",
    """WITH RECURSIVE stats AS (
      |  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS mass,
      |    ROW_NUMBER() OVER (ORDER BY CAST(SUM(n_chars) AS DOUBLE) ASC, lang ASC NULLS FIRST) AS rn
      |  FROM documents GROUP BY lang
      |  HAVING SUM(n_chars) IS NOT NULL),
      |meta AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nl, SUM(mass) * 0.5 AS budget
      |  FROM stats),
      |alloc AS (
      |  SELECT s.rn, s.lang, s.mass, m.nl,
      |    LEAST(2.0 * s.mass, m.budget / CAST(m.nl AS DOUBLE)) AS a,
      |    m.budget - LEAST(2.0 * s.mass, m.budget / CAST(m.nl AS DOUBLE)) AS remaining
      |  FROM stats s CROSS JOIN meta m WHERE s.rn = 1
      |  UNION ALL
      |  SELECT s.rn, s.lang, s.mass, p.nl,
      |    LEAST(2.0 * s.mass, p.remaining / CAST(p.nl - s.rn + 1 AS DOUBLE)),
      |    p.remaining - LEAST(2.0 * s.mass, p.remaining / CAST(p.nl - s.rn + 1 AS DOUBLE))
      |  FROM alloc p JOIN stats s ON s.rn = p.rn + 1),
      |rates AS (SELECT lang, a / mass AS epochs FROM alloc),
      |counted AS (
      |  SELECT d.doc_id, d.lang,
      |    CAST(floor(r.epochs) AS BIGINT)
      |    + CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
      |        lpad(lower(to_hex(CAST(floor((r.epochs - floor(r.epochs)) * 4294967296.0) AS BIGINT))), 8, '0')
      |      THEN 1 ELSE 0 END AS n_copies
      |  FROM documents d JOIN rates r USING (lang))
      |SELECT doc_id, lang, unnest(range(0, n_copies)) AS copy
      |FROM counted WHERE n_copies > 0
      |ORDER BY doc_id ASC, copy ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // a lang whose docs carry no countable chars (all-null n_chars)
    // has no mass to allocate — excluded on both sides (its docs also
    // drop out of the rate join; a null lang never equi-joins anyway)
    val stats = docs.groupBy("lang").agg(sum("n_chars").as("m"))
      .filter(col("m").isNotNull)
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble)
      // mass asc, lang asc — tiebreak pinned NULLS FIRST to match the
      // oracle's `ORDER BY mass ASC, lang ASC NULLS FIRST` rank (a bare
      // sortBy would NPE on a null lang group)
      .sortBy { case (lang, mass) => (mass, lang) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Q.nullsFirstString))
    val nl = stats.length
    val budget = stats.map(_._2).sum * 0.5
    var remaining = budget
    val rates = stats.zipWithIndex.map { case ((lang, mass), i) =>
      // mirrors the oracle's recursive step: fair share over langs left
      val alloc = math.min(unimaxEpochCap * mass, remaining / (nl - i).toDouble)
      remaining -= alloc
      (lang, alloc / mass)
    }.toSeq
    import s.implicits._
    val frac = col("epochs") - floor(col("epochs"))
    docs.join(broadcast(rates.toDF("lang", "epochs")), "lang")
      .withColumn("n_copies",
        floor(col("epochs")).cast(LongType) +
          when(docHashPrefix <
            lpad(lower(hex(floor(frac * lit(4294967296.0)).cast(LongType))), 8, "0"),
            lit(1L)).otherwise(lit(0L)))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      .orderBy(col("doc_id").asc, col("copy").asc)
  }

  // -------------------------------------------------------------------
  // Incremental dedup (new crawl batch vs existing corpus)
  // -------------------------------------------------------------------

  /** Dedup an INCOMING batch against the EXISTING corpus — the
    * incremental-crawl shape (the whole-corpus pass is
    * TextQ.qExactDedup). Survivors = one representative (min doc_id)
    * per content hash that is new to the corpus: batch-internal dupes
    * collapse AND anything already in the corpus is dropped. The
    * deterministic doc_id%3 split stands in for the batch boundary.
    *
    * Scale shape: the corpus side reduces to DISTINCT hashes before the
    * anti-join, so the shuffle carries 16-byte keys only — never
    * document text. At 100 TB the existing side IS the corpus hash
    * index (a fraction of corpus size), exactly how production crawl
    * dedup joins a new dump against the index.
    */
  val qIncrementalDedup: Q = Q.sql(
    "q_doc_incremental_dedup",
    """WITH existing AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
      |incoming AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0)
      |SELECT MIN(i.doc_id) AS doc_id
      |FROM incoming i
      |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.h)
      |GROUP BY i.h
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val h = md5(col("text").cast(BinaryType)).as("h")
    val existing = docs.filter(col("doc_id") % 3 =!= 0).select(h).distinct()
    val incoming = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), h)
    incoming.join(existing, Seq("h"), "left_anti")
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Snapshot diff (change capture between crawls)
  // -------------------------------------------------------------------

  /** Change capture between two corpus snapshots — the bookkeeping op
    * an incremental pipeline runs per crawl: which documents were
    * added, removed, changed (same id, different content hash), or
    * unchanged. Snapshots are simulated from the one synthetic table
    * (old = doc_id % 5 ≠ 4, new = doc_id % 5 ≠ 0, content of
    * doc_id % 5 = 1 "edited" in new), which exercises all four states
    * deterministically.
    *
    * Scale shape: both sides project to (doc_id, 16-byte md5) BEFORE
    * the full-outer join, so the shuffle carries hashes, never text;
    * with both snapshots bucketed on doc_id the join runs with zero
    * Exchange (BucketedJoinSpec proves the layout).
    */
  val qSnapshotDiff: Q = Q.sql(
    "q_doc_snapshot_diff",
    """WITH old AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 4),
      |new AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 1 THEN text || ' v2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.h <> n.h THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // distinct column names on each side: both frames derive from the
    // same scan, and Dataset-column references are ambiguous in a
    // self-join
    val old = docs.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id").as("o_id"), md5(col("text").cast(BinaryType)).as("o_h"))
    val nw = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("n_id"),
        md5(when(col("doc_id") % 5 === 1, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).cast(BinaryType)).as("n_h"))
    old.join(nw, col("o_id") === col("n_id"), "full_outer")
      .select(
        coalesce(col("o_id"), col("n_id")).as("doc_id"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_h") =!= col("n_h"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy(col("doc_id").asc)
  }

  // -------------------------------------------------------------------
  // Corpus profile (GROUPING SETS)
  // -------------------------------------------------------------------

  /** One-pass corpus profile: per-source totals, per-language totals,
    * and the grand total via GROUP BY GROUPING SETS — the report a
    * curation run prints before/after each stage. Single Expand +
    * one hash aggregate (each row expands to its 3 grouping tuples);
    * never a re-scan per dimension. Complements ROLLUP (q_rollup) and
    * CUBE (q_cube) with the third, irregular grouping construct.
    */
  val qCorpusProfile: Q = {
    val sql =
      """SELECT
        |  CASE WHEN GROUPING(source) = 1 THEN NULL ELSE source END AS source,
        |  CASE WHEN GROUPING(lang) = 1 THEN NULL ELSE lang END AS lang,
        |  CAST(GROUPING(source) * 2 + GROUPING(lang) AS INT) AS lvl,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source), (lang), ())
        |ORDER BY lvl ASC, source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin
    Q.sql("q_doc_corpus_profile", sql) { (s, d) =>
      // Native groupingSets (Spark 4.0+) — no temp view, so this query
      // is side-effect-free like the rest of the catalog (a
      // createOrReplaceTempView("documents") here would silently
      // re-point the shared view other SQL consumers resolve against).
      Tables.documents(s, d)
        .groupingSets(Seq(Seq(col("source")), Seq(col("lang")), Seq.empty),
          col("source"), col("lang"))
        .agg(
          (grouping(col("source")) * 2 + grouping(col("lang")))
            .cast(IntegerType).as("lvl"),
          count(lit(1)).as("n_docs"),
          sum("n_chars").cast(LongType).as("sum_chars"))
        .select(col("source"), col("lang"), col("lvl"), col("n_docs"), col("sum_chars"))
        .orderBy(col("lvl").asc, col("source").asc_nulls_first, col("lang").asc_nulls_first)
    }
  }

  // -------------------------------------------------------------------
  // Per-group quantile quality cut
  // -------------------------------------------------------------------

  /** Keep documents at/above their language's median length — the
    * "top-X% by quality, per group" curation cut (quality proxies vary;
    * the pattern is the operator). The per-lang threshold table is a
    * handful of rows broadcast onto the scan, so the corpus filters in
    * place. Exact `percentile` is the oracle-matchable form; at 100 TB
    * the threshold pass switches to `approx_percentile` (same plan
    * shape; error bounds proven in SketchSpec) — only the tiny
    * threshold aggregate changes, never the filter side.
    */
  val qQualityCut: Q = Q.sql(
    "q_doc_quality_cut",
    """WITH th AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
      |  FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN th USING (lang)
      |WHERE d.n_chars >= th.med
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val th = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    docs.join(broadcast(th), "lang")
      .filter(col("n_chars") >= col("med"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  /** TOKEN-BUDGET corpus selection — the data-constrained-scaling op
    * (Muennighoff et al. 2023 territory): given a training budget of
    * B tokens (here half the corpus), keep the BEST B tokens, where
    * "best" ranks documents by a quality tier (stopword density as
    * the natural-language signal, quantized to integer permille so
    * the rank key is engine-exact) and the budget line is drawn by an
    * exclusive prefix sum of token counts in (tier DESC, doc_id ASC)
    * order — a document is kept iff its tokens START inside the
    * budget, so exactly one document straddles the line.
    *
    * Scale shape: a GLOBAL quality-ordered running sum would be a
    * single-task window, so the prefix sum is two-phase like
    * [[packIntoShards]] — but bucketed by the quality TIER itself
    * (≤ 1001 integer permille values): per-tier partial sums, a
    * ≤ 1001-row driver prefix in descending-tier order, then a
    * per-tier window + broadcast offset join. Ordering by (tier DESC,
    * doc_id) IS the global quality order because the tier is the
    * leading sort key — the same bucket-is-a-prefix-of-the-key trick
    * as the global shuffle's hex buckets.
    */
  val qTokenBudgetSelect: Q = Q.sql(
    "q_doc_token_budget_select",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+'),
       |      w -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], w))) AS BIGINT) AS n_stop
       |  FROM documents WHERE length(text) > 0),
       |s AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(floor(CAST(1000 * n_stop AS DOUBLE) / n_tokens) AS BIGINT) AS tier
       |  FROM t WHERE n_tokens > 0),
       |b AS (SELECT SUM(n_tokens) // 2 AS budget FROM s),
       |r AS (
       |  SELECT doc_id, n_tokens, tier,
       |    COALESCE(SUM(n_tokens) OVER (ORDER BY tier DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
       |  FROM s)
       |SELECT doc_id, tier, n_tokens
       |FROM r CROSS JOIN b
       |WHERE strt < budget
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    import s.implicits._
    val toks = tokens(col("text"))
    val scored0 = Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"),
        size(filter(toks, w => w.isin(stopwords: _*))).cast(LongType).as("n_stop"))
      .filter(col("n_tokens") > 0)
      .withColumn("tier",
        floor((col("n_stop") * 1000).cast(DoubleType) / col("n_tokens"))
          .cast(LongType))
      .select(col("doc_id"), col("n_tokens"), col("tier"))
    val scored =
      if (scored0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        scored0.cache()
      else scored0
    val budget = scored.agg(sum("n_tokens")).head.getLong(0) / 2
    // two-phase prefix: per-tier sums, driver prefix in tier-DESC order
    val tierSums = scored.groupBy("tier").agg(sum("n_tokens").as("tsum"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (tier, _) => -tier }
    val offsets = prefixOffsets(tierSums.toSeq)
    val offsetDf = broadcast(offsets.toDF("tier", "__offset"))
    val w = Window.partitionBy("tier").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(offsetDf, "tier")
      .withColumn("strt",
        sum(col("n_tokens")).over(w) + col("__offset") - col("n_tokens"))
      .filter(col("strt") < budget)
      .select(col("doc_id"), col("tier"), col("n_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** DEDUP SELECTION-BIAS AUDIT — near-dup dedup is not neutral: it
    * deletes boilerplate, but it also deletes POPULAR text (widely
    * mirrored articles, canonical references), and keep-min-id picks
    * an arbitrary witness. This rollup compares the prose-ness
    * (stopword ratio — boilerplate and template spam run stopword-
    * light) of each source's KEPT vs DROPPED documents under the
    * near-dup cluster keep-first policy, so a source where dedup is
    * systematically removing the GOOD half shows up before training
    * does. Ratios are group-level (exact integer token/stop sums,
    * one IEEE division) — never means of per-doc doubles, which would
    * be accumulation-order-dependent.
    *
    * Scale shape: consumes the memoized component table (zero extra
    * candidate work); the dropped-id set is near-dup-sized and
    * broadcasts; everything else is one scan with map-side-combined
    * conditional sums to ≤ #sources rows.
    */
  val qDedupBias: Q = Q.sql(
    "q_doc_dedup_bias",
    s"""${TextQ.jaccardPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT w.doc_id, e.dst FROM reach w JOIN edges e ON w.r = e.src),
       |comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
       |reps AS (SELECT cluster_id, MIN(doc_id) AS rep FROM comp GROUP BY cluster_id),
       |dropped AS (
       |  SELECT c.doc_id FROM comp c
       |  JOIN reps rp ON c.cluster_id = rp.cluster_id
       |  WHERE c.doc_id <> rp.rep),
       |q AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+'),
       |      t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t))) AS BIGINT) AS n_stop
       |  FROM documents),
       |agg AS (
       |  SELECT q.source,
       |    SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS n_kept,
       |    SUM(CASE WHEN dr.doc_id IS NULL THEN q.n_tokens ELSE 0 END) AS kept_tokens,
       |    SUM(CASE WHEN dr.doc_id IS NULL THEN q.n_stop ELSE 0 END) AS kept_stop,
       |    SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_dropped,
       |    SUM(CASE WHEN dr.doc_id IS NOT NULL THEN q.n_tokens ELSE 0 END) AS dropped_tokens,
       |    SUM(CASE WHEN dr.doc_id IS NOT NULL THEN q.n_stop ELSE 0 END) AS dropped_stop
       |  FROM q LEFT JOIN dropped dr ON q.doc_id = dr.doc_id
       |  GROUP BY q.source)
       |SELECT source,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(n_dropped AS BIGINT) AS n_dropped,
       |  CASE WHEN kept_tokens > 0
       |    THEN CAST(kept_stop AS DOUBLE) / kept_tokens END AS kept_stop_ratio,
       |  CASE WHEN dropped_tokens > 0
       |    THEN CAST(dropped_stop AS DOUBLE) / dropped_tokens END AS dropped_stop_ratio
       |FROM agg
       |ORDER BY source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val comp = dupComponents(s, d)
    val reps = comp.groupBy("cluster_id").agg(min("doc_id").as("rep"))
    val dropped = comp.join(reps, "cluster_id")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"), lit(1).as("is_dropped"))
    val toks = tokens(col("text"))
    val q = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(toks).cast(LongType).as("n_tokens"),
      size(filter(toks, t => t.isin(stopwords: _*))).cast(LongType).as("n_stop"))
    q.join(broadcast(dropped), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        sum(when(col("is_dropped").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_dropped").isNull, col("n_tokens")).otherwise(0L))
          .as("kept_tokens"),
        sum(when(col("is_dropped").isNull, col("n_stop")).otherwise(0L))
          .as("kept_stop"),
        sum(when(col("is_dropped").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dropped").isNotNull, col("n_tokens")).otherwise(0L))
          .as("dropped_tokens"),
        sum(when(col("is_dropped").isNotNull, col("n_stop")).otherwise(0L))
          .as("dropped_stop"))
      .select(col("source"), col("n_kept"), col("n_dropped"),
        when(col("kept_tokens") > 0,
          col("kept_stop").cast(DoubleType) / col("kept_tokens"))
          .as("kept_stop_ratio"),
        when(col("dropped_tokens") > 0,
          col("dropped_stop").cast(DoubleType) / col("dropped_tokens"))
          .as("dropped_stop_ratio"))
      .orderBy(col("source").asc)
  }

  /** Continuation-STITCH detection — crawl chunking and context-window
    * truncation split documents mid-stream; downstream, the halves
    * train as two broken documents. A doc pair (a, b) where a's LAST
    * k tokens equal b's FIRST k tokens is a stitch candidate for
    * boundary reassembly (the inverse of q_doc_chunk's overlapped
    * split). k = 5; both endpoint keys are md5'd, and corpus-hot keys
    * (common openings/closings, df > [[TextQ.maxShingleDf]]) are
    * excluded from matching — the same disclosed DF-cap discipline as
    * the shingle candidate family, and what keeps the equi-join's
    * buckets bounded at corpus scale.
    *
    * Scale shape: two (doc_id, 16-byte key) key streams, DF-capped,
    * one equi-join — text never shuffles; output is stitch-pair-sized.
    */
  val stitchK = 5
  val qStitchPairs: Q = Q.sql(
    "q_doc_stitch_pairs",
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tk
       |  FROM documents),
       |ends AS (
       |  SELECT doc_id,
       |    md5(array_to_string(tk[1:$stitchK], ' ')) AS pre,
       |    md5(array_to_string(list_slice(tk, len(tk) - ${stitchK - 1}, len(tk)), ' ')) AS suf
       |  FROM t WHERE len(tk) >= $stitchK),
       |pre_ok AS (
       |  SELECT pre FROM ends GROUP BY pre
       |  HAVING COUNT(*) <= ${TextQ.maxShingleDf}),
       |suf_ok AS (
       |  SELECT suf FROM ends GROUP BY suf
       |  HAVING COUNT(*) <= ${TextQ.maxShingleDf})
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM ends a
       |JOIN suf_ok so ON a.suf = so.suf
       |JOIN ends b ON a.suf = b.pre AND a.doc_id <> b.doc_id
       |JOIN pre_ok po ON b.pre = po.pre
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, d) =>
    val tk = tokens(col("text"))
    val ends = Tables.documents(s, d)
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= stitchK)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), 1, stitchK)).cast(BinaryType))
          .as("pre"),
        md5(concat_ws(" ", slice(col("tk"), -stitchK, stitchK)).cast(BinaryType))
          .as("suf"))
    val preOk = ends.groupBy("pre").agg(count(lit(1)).as("c"))
      .filter(col("c") <= TextQ.maxShingleDf).select("pre")
    val sufOk = ends.groupBy("suf").agg(count(lit(1)).as("c"))
      .filter(col("c") <= TextQ.maxShingleDf).select("suf")
    ends.select(col("doc_id").as("doc_a"), col("suf"))
      .join(sufOk, "suf")
      .join(ends.select(col("doc_id").as("doc_b"), col("pre")).join(preOk, "pre"),
        col("suf") === col("pre") && col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** RANGE-PARTITION ADVISOR — the 15 doc_id split points that divide
    * the corpus into 16 equal-CHARACTER-mass ranges: what a
    * repartitionByRange on row count gets wrong (documents are wildly
    * skewed in size, so equal-row ranges produce unequal shuffle
    * partitions and stragglers) and what this advisor fixes by
    * computing boundaries on the byte-mass CDF. Boundary i is the
    * smallest doc whose inclusive cumulative mass reaches
    * ⌈i·total/16⌉ — exact integer thresholds, no floats anywhere.
    *
    * Scale shape: the same two-phase prefix sum as the shard packer
    * (per-bucket sums → ≤ maxDriverBuckets driver scalars → windowed
    * within bucket + broadcast offsets) — no global window at any
    * corpus size; the threshold table is 15 broadcast rows.
    */
  val qPartitionAdvisor: Q = Q.sql(
    "q_doc_partition_advisor",
    """WITH m AS (
      |  SELECT doc_id, n_chars,
      |    CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      |  FROM documents),
      |tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS t FROM documents),
      |th AS (
      |  SELECT CAST(i AS INT) AS boundary_idx,
      |    CAST((i * tot.t + 15) // 16 AS BIGINT) AS thr
      |  FROM range(1, 16) r(i) CROSS JOIN tot)
      |SELECT th.boundary_idx, m.doc_id,
      |  CAST(m.st + m.n_chars AS BIGINT) AS cum_chars
      |FROM th JOIN m ON th.thr > m.st AND th.thr <= m.st + m.n_chars
      |ORDER BY boundary_idx ASC""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("n_tokens"))
    val total = docs.agg(sum("n_tokens")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val thresholds = (1 to 15)
      .map(i => (i, (i.toLong * total + 15L) / 16L))
      .toDF("boundary_idx", "thr")
    withExclusivePrefixSum(docs)
      .join(broadcast(thresholds),
        col("thr") > col("__start") &&
          col("thr") <= col("__start") + col("n_tokens"))
      .select(col("boundary_idx"), col("doc_id"),
        (col("__start") + col("n_tokens")).as("cum_chars"))
      .orderBy(col("boundary_idx").asc)
  }

  /** Integer-exact PageRank over an undirected pair table — the graph
    * kernel behind [[qPagerank]], factored out so PagerankSpec can feed
    * planted graphs. Ranks live in integer mass units (INIT = 1e9 per
    * node); each of the `iters` rounds moves `rank div outdeg` along
    * every edge and damps with new = 150e6 + (17·Σ) div 20 — i.e. the
    * classic 0.15/0.85 split done entirely in BIGINT truncating
    * division, so the sums are accumulation-order-independent and a
    * DuckDB replay of the same unrolled arithmetic is bit-identical
    * (the same libm-free discipline as q_doc_temperature_mix). Mass is
    * conserved up to truncation, so every intermediate is bounded by
    * n·1e9: the 17·S multiply stays inside Long for graphs up to
    * ~5·10⁸ in-graph docs; past that you rescale INIT down — a one-
    * constant change, not a new algorithm.
    *
    * Scale shape: the edge table is near-dup-sized (nodes are docs
    * with at least one ≥0.5-jaccard pair, NOT the corpus) and is
    * checkpointed once; each round is one keys-only join + one
    * map-side-combined sum — 2 shuffles per round, 5 rounds, no text
    * movement anywhere.
    */
  private[graft] def pagerank(pairs: DataFrame, iters: Int = 5): DataFrame = {
    val edges = pairs.toDF("doc_a", "doc_b")
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.toDF("doc_a", "doc_b")
        .select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var rank = deg.select(col("src").as("doc_id"),
      lit(1000000000L).as("rank"))
    for (_ <- 1 to iters) {
      rank = edges
        .join(rank.select(col("doc_id").as("src"), col("rank")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("c")).as("s"))
        .select(col("doc_id"),
          (lit(150000000L) + expr("(17 * s) div 20")).as("rank"))
    }
    rank.join(deg.select(col("src").as("doc_id"),
        col("outdeg").as("n_neighbors")), Seq("doc_id"))
  }

  /** One unrolled PageRank round in DuckDB SQL — same integer
    * arithmetic as [[pagerank]] (`//` floor-div equals Spark's `div`
    * truncation on the all-positive mass values).
    */
  private def prRoundSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT e.dst AS doc_id,
       |    CAST(150000000 + (17 * SUM(p.rank // dg.outdeg)) // 20 AS BIGINT) AS rank
       |  FROM edges e
       |  JOIN $prev p ON e.src = p.doc_id
       |  JOIN deg dg ON e.src = dg.src
       |  GROUP BY e.dst)""".stripMargin

  /** NEAR-DUP GRAPH CENTRALITY — PageRank over the exact-jaccard
    * near-dup graph as the canonical-witness selector: min-doc_id
    * keep-first (q_doc_dup_clusters' policy) picks an ARBITRARY
    * cluster member, but the highest-centrality member is the
    * most-mirrored version — the best canonical text to keep and the
    * first place to look when a boilerplate hub is inflating the
    * graph (hubs separate from spokes by an order of magnitude of
    * rank). Rides the memoized jaccard pair table: zero additional
    * candidate-generation work.
    */
  val qPagerank: Q = Q.sql(
    "q_doc_pagerank",
    s"""${TextQ.jaccardPairsSql},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |pr0 AS (SELECT src AS doc_id, CAST(1000000000 AS BIGINT) AS rank FROM deg),
       |${prRoundSql("pr0", "pr1")},
       |${prRoundSql("pr1", "pr2")},
       |${prRoundSql("pr2", "pr3")},
       |${prRoundSql("pr3", "pr4")},
       |${prRoundSql("pr4", "pr5")}
       |SELECT p.doc_id, p.rank, CAST(dg.outdeg AS BIGINT) AS n_neighbors
       |FROM pr5 p JOIN deg dg ON p.doc_id = dg.src
       |ORDER BY rank DESC, doc_id ASC""".stripMargin) { (s, d) =>
    pagerank(TextQ.jaccardPairsShared(s, d).select(col("doc_a"), col("doc_b")))
      .orderBy(col("rank").desc, col("doc_id").asc)
  }

  val all: Seq[Q] = Seq(qDupClusters, qShardPack, qSeqSpans, qChunk, qStratifiedSample, qSplit, qSamplePerGroup, qNormalize,
    qRepetition, qDupSpans, qDespan, qDecontamSpans, qTruncatePack,
    qParagraphDedup, qGlobalShuffle, qSplitLeakage,
    qContamination, qRedact,
    qClusterRep, qContaminationBloom, qTfidfTopTerms, qCurate,
    qMixBalance, qTemperatureMix, qEpochMix, qUnimaxMix, qIncrementalDedup,
    qSnapshotDiff, qCorpusProfile, qQualityCut, qDupStats, qTokenBudgetSelect,
    qSelfDedupLines, qPiiStats, qBoilerplateLines, qDedupBias, qStitchPairs,
    qPagerank, qPartitionAdvisor)
}
