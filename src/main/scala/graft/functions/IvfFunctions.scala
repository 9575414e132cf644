package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-
  * quantizer counterpart to the hyperplane-LSH path (SURVEY §7.6 names
  * both as the scale options):
  *
  *   1. train a k-means coarse quantizer over the embedding corpus
  *      (Spark ML KMeans — distributed, seeded);
  *   2. assign every vector to its nearest centroid — the "inverted
  *      list" id, a plain integer key;
  *   3. queries probe their `nProbe` nearest centroids, equi-join on
  *      the list id for candidates, and exact-rerank with the codegen
  *      fast_cosine.
  *
  * Scale shape: the index is (vector, int) — at 100 TB the lists can
  * be bucketed/partitioned by `cid` so probes touch only matching
  * partitions (partition pruning); candidate volume is
  * |corpus| × nProbe / k on balanced lists. The centroid table ships
  * as a TorrentBroadcast (once per executor, not once per task
  * closure), so the index stays honest at large k — k=65k × 64 dims is
  * ~33 MB, fine broadcast, fatal closure. Assignment stays a per-row
  * UDF over the broadcast rather than a join against a centroid table:
  * a broadcast-join argmin would materialize k candidate rows per
  * vector before aggregating them away — a k× row blowup the UDF's
  * internal argmin never pays.
  */
object IvfFunctions {

  /** Training-sample bound: ~256 vectors per centroid (the FAISS
    * guideline band is 39–256/centroid). With adaptiveK ≈ N/125 this
    * only binds once adaptive k's 65536 cap does (N ≳ 8×10^6) — but
    * at 100 TB it is THE difference between a bounded training job
    * (≤ ~1M vectors regardless of corpus size) and k-means over the
    * whole corpus.
    */
  def trainSampleSize(k: Int): Long = 256L * k

  /** k at or below which training uses the Spark ML KMeans path (k-means||
    * init, bit-stable across rounds for the gate SFs, which all resolve to
    * k=16); above it the DataFrame Lloyd's loop takes over — the SemDeDup
    * paper regime is k=50k (Abbas et al. 2023 run it on LAION), which the
    * ML path was never exercised at here, so the large-k path is built
    * from the two shapes the index already uses: assign = broadcast
    * centroids into the scan, update = groupBy(cid) mean.
    */
  val singleNodeKCap = 4096

  /** Train the coarse quantizer; returns ≤k centroid vectors. Training
    * runs on a deterministic hash-cut sample of ≤ [[trainSampleSize]]
    * vectors (corpus-order- and partitioning-independent, stable under
    * appends like every other sampling surface here); corpora at the
    * fixture SFs are below the bound and train on everything, so gate
    * results are unchanged. Dispatch: k ≤ [[singleNodeKCap]] keeps the
    * seeded Spark ML path (unchanged results at every gate SF); larger k
    * runs [[trainCentroidsLloyd]], whose per-iteration cost is one
    * broadcast-assign scan plus one k-row shuffle — no driver-side
    * clustering at any k.
    */
  def trainCentroids(emb: DataFrame, embeddingCol: String, k: Int,
                     seed: Long = 42, maxIter: Int = 10): Array[Array[Double]] =
    if (k <= singleNodeKCap) trainCentroidsML(emb, embeddingCol, k, seed, maxIter)
    else trainCentroidsLloyd(emb, embeddingCol, k, seed, maxIter)

  /** Deterministic hash-cut training sample of ≤ [[trainSampleSize]]. */
  private[functions] def trainSample(emb: DataFrame, k: Int,
                                     seed: Long): DataFrame = {
    val cap = trainSampleSize(k)
    val n = emb.count()
    if (n <= cap) emb
    else emb.filter(
      pmod(xxhash64(col("vec_id"), lit(seed)), lit(n / cap + 1)) === 0)
  }

  private val toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))

  /** TRUE iff every component is finite. K-means training drops
    * non-finite vectors (Spark ML's KMeans rejects NaN/Inf input
    * outright, and a NaN component would poison every mean it touches)
    * — a data-quality guard, not a semantic choice: such vectors are
    * still ASSIGNED a list downstream (the argmin is NaN-deterministic
    * — no distance ever compares below Double.MaxValue, so cid = 0)
    * and the oracle replays whatever assignment the engine publishes.
    */
  def finiteVec(c: Column): Column =
    call_function("vec_all_finite", c)

  /** Small-k trainer: Spark ML KMeans (k-means|| init, seeded). */
  def trainCentroidsML(emb: DataFrame, embeddingCol: String, k: Int,
                       seed: Long = 42, maxIter: Int = 10): Array[Array[Double]] =
    fitKmeans(trainSample(emb, k, seed), embeddingCol, k, seed, maxIter)

  /** The bare ML KMeans fit over an ALREADY-sampled frame — exposed so
    * multi-codebook trainers (PQ: 8 subspace fits) sample and count the
    * corpus once instead of once per fit.
    */
  private[functions] def fitKmeans(train: DataFrame, embeddingCol: String,
                                   k: Int, seed: Long,
                                   maxIter: Int = 10): Array[Array[Double]] = {
    val feats = train.filter(finiteVec(col(embeddingCol)))
      .select(toVec(col(embeddingCol)).as("features"))
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setFeaturesCol("features")
      .fit(feats)
    model.clusterCenters.map(_.toArray)
  }

  /** k-means|| initialization (Bahmani et al., "Scalable k-means++",
    * VLDB 2012) — the init that makes large-k Lloyd actually converge:
    * random-sample init covers at most a 1−1/e fraction of equal-mass
    * modes, so merged clusters survive every Lloyd round; d²-weighted
    * oversampling provably doesn't.
    *
    *   1. `rounds` distributed passes, each sampling every point with
    *      probability min(1, k·d²(x,C)/Σd²) — points far from the current
    *      candidate set are picked almost surely, so uncovered mass
    *      recruits its own candidates. The sample decision is a pure
    *      function of xxhash64(vec_id, seed·31+round), so the candidate
    *      set is deterministic for a given corpus.
    *   2. Candidates are weighted by how many corpus points they are
    *      nearest-candidate for (one distributed assign + count).
    *   3. Weighted k-means++ reduction to k on the driver: O(k·|C|·d)
    *      with |C| ≈ rounds·k, the distance-update step fanned across
    *      cores with IntStream.parallel. Identical duplicate candidates
    *      have d²=0 and are never re-picked, which is what makes
    *      duplicate-heavy corpora (the near-dup fixtures) cover cleanly.
    */
  private def kmeansParallelInit(feats: DataFrame, k: Int, seed: Long,
                                 rounds: Int = 4): Array[Array[Double]] = {
    import scala.collection.mutable.ArrayBuffer
    val first = feats
      .orderBy(xxhash64(col("vec_id"), lit(seed)).asc, col("vec_id").asc)
      .limit(1).select(col("v")).collect()
    if (first.isEmpty) return Array.empty
    val cand = ArrayBuffer[Array[Double]](
      first.head.getSeq[Float](0).map(_.toDouble).toArray)
    var r = 0
    while (r < rounds && cand.length < 4 * k) {
      val bc = broadcastCentroids(feats, cand.toArray)
      val d2 = feats.withColumn("__a", assignWithDistUdf(bc)(col("v")))
        .select(col("vec_id"), col("v"), col("__a._2").as("d2"))
      val phi = d2.agg(sum(col("d2"))).head().getDouble(0)
      if (phi <= 0) { bc.destroy(); r = rounds } // all mass covered
      else {
        // u = xxhash64 mapped to [0,1); keep iff u < k·d²/phi
        val u = (pmod(xxhash64(col("vec_id"), lit(seed * 31 + r)), lit(1L << 40))
          .cast("double") / lit((1L << 40).toDouble))
        val picked = d2.filter(u < lit(k.toDouble) * col("d2") / lit(phi))
          .orderBy(col("vec_id").asc).select(col("v")).collect()
        bc.destroy()
        cand ++= picked.map(_.getSeq[Float](0).map(_.toDouble).toArray)
        r += 1
      }
    }
    if (cand.length <= k) return cand.toArray
    // weight candidates by nearest-candidate population
    val bcW = broadcastCentroids(feats, cand.toArray)
    val wRows = feats.withColumn("cid", assignUdf(bcW)(col("v")))
      .groupBy("cid").count().collect()
    bcW.destroy()
    val w = Array.fill(cand.length)(0.0)
    wRows.foreach(rw => w(rw.getInt(0)) = rw.getLong(1).toDouble)
    weightedKmeansPlusPlus(cand.toArray, w, k, seed)
  }

  /** Driver-side weighted k-means++ over the candidate table (standard
    * k-means|| reduction). Sequential in the k picks; the O(|C|·d)
    * distance update after each pick runs across cores.
    */
  private def weightedKmeansPlusPlus(cand: Array[Array[Double]],
                                     w: Array[Double], k: Int,
                                     seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    val n = cand.length
    val minD2 = Array.fill(n)(Double.MaxValue)
    val chosen = new Array[Array[Double]](k)
    // first pick: weight-proportional
    var cum = 0.0
    val totW = w.sum
    var target = rng.nextDouble() * totW
    var firstIdx = 0
    var i = 0
    while (i < n && cum + w(i) < target) { cum += w(i); i += 1 }
    firstIdx = math.min(i, n - 1)
    chosen(0) = cand(firstIdx)
    var m = 1
    while (m < k) {
      val last = chosen(m - 1)
      java.util.stream.IntStream.range(0, n).parallel().forEach { j =>
        val d = l2sqD(cand(j), last)
        if (d < minD2(j)) minD2(j) = d
      }
      var tot = 0.0
      i = 0
      while (i < n) { tot += w(i) * minD2(i); i += 1 }
      if (tot <= 0) {
        // all remaining candidates duplicate a chosen centroid
        return chosen.take(m)
      }
      target = rng.nextDouble() * tot
      cum = 0.0
      i = 0
      while (i < n && cum + w(i) * minD2(i) < target) {
        cum += w(i) * minD2(i); i += 1
      }
      chosen(m) = cand(math.min(i, n - 1))
      m += 1
    }
    chosen
  }

  /** Large-k trainer: Lloyd's iterations as DataFrame jobs, so nothing
    * about training is single-node at any k.
    *
    *   init    — [[kmeansParallelInit]] (k-means||, seeded).
    *   assign  — [[assignWithDistUdf]] over a TorrentBroadcast of the
    *             centroid table (k=65k × 64 dims ≈ 33 MB — fine broadcast,
    *             fatal closure), exactly the production index-build scan.
    *   update  — groupBy(cid).agg(Summarizer.mean): partial aggregation
    *             means each task ships one k×d partial, and the collected
    *             result is the k×d centroid table itself (k=50k × 64 d ≈
    *             25 MB), not data rows.
    *   repair  — duplicate centroids leave slots empty; empty slots
    *             reseed each round to the points currently farthest from
    *             their assigned centroid (the classic FAISS/sklearn empty-
    *             cluster repair) — a distributed top-#empty by cdist, so
    *             uncovered mass pulls centroids toward itself until the
    *             partition stabilizes.
    *
    * Stops when the max centroid movement drops below `tol` or after
    * `maxIter` rounds (maxIter=0 returns the bare init — the spec's
    * improvement baseline). Returns ≤k centroids. Not bit-deterministic
    * across cluster layouts (float partial-merge order in the mean),
    * which every consumer tolerates by construction: the oracle replays
    * whatever centroid table the engine wrote, never a re-derivation.
    */
  def trainCentroidsLloyd(emb: DataFrame, embeddingCol: String, k: Int,
                          seed: Long = 42, maxIter: Int = 10,
                          tol: Double = 1e-4): Array[Array[Double]] = {
    import org.apache.spark.ml.linalg.Vector
    import org.apache.spark.ml.stat.Summarizer
    val feats = trainSample(emb.filter(finiteVec(col(embeddingCol))), k, seed)
      .select(col("vec_id"), col(embeddingCol).as("v"),
        toVec(col(embeddingCol)).as("fv"))
      .cache()
    try {
      var centroids: Array[Array[Double]] = kmeansParallelInit(feats, k, seed)
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIter && moved >= tol) {
        val bc = broadcastCentroids(emb, centroids)
        val assigned = feats
          .withColumn("__a", assignWithDistUdf(bc)(col("v")))
          .select(col("vec_id"), col("v"), col("fv"),
            col("__a._1").as("cid"), col("__a._2").as("cdist"))
        val next = centroids.clone()
        val meanRows = assigned.groupBy("cid")
          .agg(Summarizer.mean(col("fv")).as("m")).collect()
        meanRows.foreach(r => next(r.getInt(0)) = r.getAs[Vector]("m").toArray)
        val present = meanRows.map(_.getInt(0)).toSet
        val empty = centroids.indices.filterNot(present)
        if (empty.nonEmpty) {
          val far = assigned
            .orderBy(col("cdist").desc, col("vec_id").asc)
            .select(col("v")).limit(empty.size).collect()
            .map(_.getSeq[Float](0).map(_.toDouble).toArray)
          empty.zip(far).foreach { case (slot, vec) => next(slot) = vec }
        }
        moved = centroids.indices.map { i =>
          math.sqrt(l2sqD(centroids(i), next(i)))
        }.foldLeft(0.0)(math.max)
        bc.destroy()
        centroids = next
        iter += 1
      }
      centroids
    } finally feats.unpersist()
  }

  private def l2sqD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Zero-copy unbox of the array<float> UDF input: Spark 4 hands UDFs
    * an immutable.ArraySeq.ofFloat wrapping the primitive float[]
    * (toImmutableArraySeq in the deserializer), so the k·d argmin loop
    * must run on the raw array — a boxed Seq#apply per element is a
    * ~5-10× tax exactly where assignment is O(n·k·d).
    */
  private[graft] def toFloatArray(v: Seq[Float]): Array[Float] = v match {
    case w: ArraySeq.ofFloat => w.unsafeArray
    case _ => v.toArray
  }

  // ---------------------------------------------------------------
  // The quantizer kernels. Every IVF and PQ UDF is a thin wrapper
  // over these, and the oracle replays each of them in SQL: keep
  // their operand order and tie-breaks fixed.
  // ---------------------------------------------------------------

  /** Squared L2 from `v` starting at `off` to `c`: a sequential double
    * fold, i ascending over min(c.length, v.length − off), each float
    * widened to double before the subtraction.
    */
  private[graft] def l2sq(v: Array[Float], off: Int, c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(c.length, v.length - off)
    while (i < n) { val d = v(off + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Index of the `table` row nearest `v` from `off`: strict `<` from
    * Double.MaxValue, so ties go to the lowest index and NaN never wins
    * (a non-finite vector whose distances are all NaN gets index 0).
    */
  private[graft] def argmin(v: Array[Float], off: Int,
                            table: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < table.length) {
      val d = l2sq(v, off, table(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `n` indices of the `table` rows nearest `v`, ordered by
    * java.lang.Double.compare on the distance, then by index (a stable
    * sort of ascending indices). Unlike [[argmin]], NaN sorts last and
    * +Inf ranks ahead of it, so the two differ on such rows.
    */
  private[graft] def nearest(v: Array[Float], table: Array[Array[Double]],
                             n: Int): Array[Int] = {
    val d = table.map(l2sq(v, 0, _))
    Array.range(0, table.length).sortBy(d(_))(Ordering.Double.TotalOrdering)
      .take(n)
  }

  /** Residual r = v − c, rounded back to FLOAT per element (one double
    * subtraction + one float rounding — the exact sequence
    * `CAST(CAST(x AS DOUBLE) - c AS FLOAT)` replays in SQL). Float
    * residuals let IVF-PQ reuse every float PQ kernel (encode, ADC)
    * unchanged, at a quantization already far coarser than the lost
    * bits.
    */
  private[graft] def residual(v: Array[Float], c: Array[Double]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { out(i) = (v(i).toDouble - c(i)).toFloat; i += 1 }
    out
  }

  /** Ship the centroid table to executors once (TorrentBroadcast). */
  def broadcastCentroids(emb: DataFrame,
                         centroids: Array[Array[Double]]): Broadcast[Array[Array[Double]]] =
    emb.sparkSession.sparkContext.broadcast(centroids)

  /** Nearest-centroid (inverted list) id. */
  def assignUdf(bc: Broadcast[Array[Array[Double]]]): UserDefinedFunction =
    udf { v: Seq[Float] => argmin(toFloatArray(v), 0, bc.value) }

  /** Nearest-centroid id plus the squared L2 distance to it — the
    * assignment SemDeDup ranks within (distance to centroid is its
    * keep-priority signal), computed in the same single pass as the
    * list id so clustering consumers don't run the argmin twice.
    */
  def assignWithDistUdf(bc: Broadcast[Array[Array[Double]]]): UserDefinedFunction =
    udf { v: Seq[Float] =>
      val a = toFloatArray(v)
      val best = argmin(a, 0, bc.value)
      // re-derive the winning distance: for a non-finite vector no NaN
      // comparison ever lands, and every oracle recomputation of
      // ||x - c||² says NaN, not Double.MaxValue
      (best, l2sq(a, 0, bc.value(best)))
    }

  /** Float-rounded [[residual]] against centroid `cid`. */
  def residualUdf(bc: Broadcast[Array[Array[Double]]]): UserDefinedFunction =
    udf { (v: Seq[Float], cid: Int) =>
      ArraySeq.unsafeWrapArray(residual(toFloatArray(v), bc.value(cid)))
    }

  /** The `nProbe` [[nearest]] centroid ids for a query vector. */
  def probeUdf(bc: Broadcast[Array[Array[Double]]], nProbe: Int): UserDefinedFunction =
    udf { v: Seq[Float] =>
      ArraySeq.unsafeWrapArray(nearest(toFloatArray(v), bc.value, nProbe))
    }

  /** End-to-end IVF top-k: index `emb`, answer `queries` (vec_id,
    * embedding) with exact-cosine rerank over the probed lists. The
    * centroid table is pre-trained, so the catalog entry can
    * materialize the exact centroids it retrieves with for the DuckDB
    * oracle replay (assignment + probe + rerank re-run in SQL).
    */
  def annTopKWith(emb: DataFrame, queries: DataFrame,
                  centroidRows: Array[Array[Double]], nProbe: Int,
                  topK: Int): DataFrame = {
    val centroids = broadcastCentroids(emb, centroidRows)
    val lists = emb.withColumn("cid", assignUdf(centroids)(col("embedding")))
    val probed = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(probeUdf(centroids, nProbe)(col("embedding"))).as("cid"))
    rerankProbed(lists, probed, topK)
  }

  /** Candidate equi-join + exact-cosine rerank over any inverted-list
    * table (vec_id, embedding, cid) and probe table (query_id, q_emb,
    * cid) — the tail shared by the in-session and persistent IVF
    * searches.
    */
  private[graft] def rerankProbed(lists: DataFrame, probed: DataFrame,
                                      topK: Int): DataFrame = {
    topKPerQuery(lists.join(broadcast(probed), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.fastCosine(col("q_emb"), col("embedding")).as("score")),
      topK)
  }

  /** Per-query top-k of (query_id, neighbor_id, score) by (score desc,
    * neighbor_id asc), in (query_id, rank) order — the epilogue every
    * ANN path ranks with.
    */
  private[graft] def topKPerQuery(scored: DataFrame, topK: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
      .orderBy(col("query_id").asc, col("rank").asc)
}
