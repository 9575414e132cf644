package graft

import org.apache.spark.sql.functions._

import graft.functions.IvfFunctions
import graft.sink.VectorIndex
import graft.sources.Tables

/** The persistent IVF index (round-12 verdict #5): a search against
  * the materialized centroid + bucketed inverted-list tables must
  * (a) equal the in-session IVF path bit-for-bit, and (b) read ONLY
  * the probed buckets with the index side never sitting under an
  * Exchange; (c) a changed corpus must un-match the stored signature.
  */
class VectorIndexSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq

  test("persistent search equals the in-session IVF path bit-for-bit") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = IvfFunctions.trainCentroids(emb, "embedding", k = 16, seed = 42)
    val queries = emb.filter(col("vec_id") < 5)
    val expect = rows(IvfFunctions.annTopKWith(
      emb, queries, centroids, nProbe = 6, topK = 10))
    spark.sql("DROP TABLE IF EXISTS vecidx_spec")
    spark.sql("DROP TABLE IF EXISTS vecidx_spec_centroids")
    VectorIndex.build(emb, "vecidx_spec", centroids)
    val got = rows(VectorIndex.search(spark, "vecidx_spec", queries,
      nProbe = 6, topK = 10))
    assert(got == expect,
      "the stored index must answer exactly what the in-session path answers")
  }

  test("probe reads are bucket-pruned and the index scan never sits under an Exchange") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = IvfFunctions.trainCentroids(emb, "embedding", k = 16, seed = 42)
    spark.sql("DROP TABLE IF EXISTS vecidx_plan")
    spark.sql("DROP TABLE IF EXISTS vecidx_plan_centroids")
    VectorIndex.build(emb, "vecidx_plan", centroids)
    // one query, two probes: of 8 buckets at most 2 may be read
    val one = emb.filter(col("vec_id") === 0)
    val res = VectorIndex.search(spark, "vecidx_plan", one, nProbe = 2, topK = 5)
    val full = res.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==")(0)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"probe read must bucket-prune:\n$plan")
    assert(sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt == 8,
      s"1 query x 2 probes must read at most 2 of 8 buckets: ${sel.get}")
    assert("Exchange[^\\n]*\\n[^\\n]*FileScan parquet".r.findFirstIn(plan).isEmpty,
      s"the bucketed index scan must not sit under an Exchange:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the (tiny) probe table must broadcast into the index read:\n$plan")
  }

  test("persistent CODED search equals the in-session IVF-PQ path bit-for-bit") {
    SparkEntry.prepares.get("q_ann_ivfpq_persistent").foreach(p => p(spark, sfDir))
    val expect = rows(SparkEntry.queries("q_ann_ivfpq")(spark, sfDir))
    val got = rows(SparkEntry.queries("q_ann_ivfpq_persistent")(spark, sfDir))
    assert(got == expect,
      "the stored coded index must answer exactly what the in-session path answers")
  }

  test("coded lists scan reads codes only (no embedding column) and bucket-prunes") {
    SparkEntry.prepares.get("q_ann_ivfpq_persistent").foreach(p => p(spark, sfDir))
    val res = SparkEntry.queries("q_ann_ivfpq_persistent")(spark, sfDir)
    val plan = res.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("SelectedBucketsCount:"),
      s"coded probe read must bucket-prune:\n$plan")
    val idxScan = plan.linesIterator
      .filter(l => l.contains("graft_vecidx_pq") && l.contains("FileScan"))
      .mkString("\n")
    assert(idxScan.nonEmpty, s"coded index scan not found in plan:\n$plan")
    assert(!idxScan.contains("embedding"),
      s"the coded index scan must read codes only, never a float vector:\n$idxScan")
  }

  test("corpus-batch search never collects the query set: no LocalTableScan, executor-side ADC") {
    SparkEntry.prepares.get("q_ann_ivfpq_batch").foreach(p => p(spark, sfDir))
    val res = SparkEntry.queries("q_ann_ivfpq_batch")(spark, sfDir)
    val plan = res.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the r13 driver-side path surfaced the collected probe pairs as a
    // LocalTableScan — the executor-side path must read BOTH sides of
    // the candidate join from files
    assert(!plan.contains("LocalTableScan"),
      s"the query batch must never round-trip through the driver:\n$plan")
    assert(plan.contains("SelectedBucketsCount:"),
      s"the corpus-batch probe must still bucket-prune the index scan:\n$plan")
    val idxScan = plan.linesIterator
      .filter(l => l.contains("graft_vecidx_pq") && l.contains("FileScan"))
      .mkString("\n")
    assert(idxScan.nonEmpty && !idxScan.contains("embedding"),
      s"the coded index scan must read codes only:\n$idxScan")
    // and the batch answers per-query-identically: query 0 sits in
    // BOTH query sets (vec_id < 5 and vec_id % 16 = 0), and its
    // neighbors must match the fixed-query persistent path exactly
    val batch = rows(res)
    SparkEntry.prepares.get("q_ann_ivfpq_persistent").foreach(p => p(spark, sfDir))
    val fixed = rows(SparkEntry.queries("q_ann_ivfpq_persistent")(spark, sfDir))
    assert(batch.filter(_._1 == 0L) == fixed.filter(_._1 == 0L),
      "batch and fixed-set search must agree on a shared query")
    assert(batch.map(_._1).distinct.size > 1,
      "the modulo cut must select more than one query")
  }

  test("content-signature guard: one changed row ANYWHERE is detected; quantizer compare is sample-blind to it") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = IvfFunctions.trainCentroids(emb, "embedding", k = 16, seed = 42)
    Seq("vecidx_sig", "vecidx_sig_centroids", "vecidx_sig_sig")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    VectorIndex.build(emb, "vecidx_sig", centroids)
    assert(VectorIndex.signatureMatches(spark, "vecidx_sig", emb),
      "the stamped index must match its own corpus")
    // regenerate ONE row's embedding, keeping every vec_id: the r13
    // quantizer compare only noticed drift inside the hash-cut
    // TRAINING SAMPLE, so a single out-of-sample change could silently
    // reuse a stale index — the signature sums every row's hash
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val swapped = emb
      .withColumn("embedding",
        when(col("vec_id") === maxId,
          org.apache.spark.sql.functions.transform(
            col("embedding"), x => x + lit(1.0f)))
          .otherwise(col("embedding")))
    assert(!VectorIndex.signatureMatches(spark, "vecidx_sig", swapped),
      "a single changed row must un-match the stored signature")
    // same ids, same count — only content differs
    assert(swapped.count() == emb.count())
    // signature is order-independent: a re-partitioned/re-ordered scan
    // of the SAME content still matches
    assert(VectorIndex.signatureMatches(spark, "vecidx_sig",
      emb.repartition(7).sortWithinPartitions(col("vec_id").desc)),
      "the signature must not depend on row order or partitioning")
  }
}
