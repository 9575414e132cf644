package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent corpus MinHash band-key index: "find everything in a
  * new crawl dump that is a near-duplicate of anything ever kept"
  * without touching corpus text. The index holds (band, bh, doc_id)
  * band keys (a few dozen bytes per kept document) BUCKETED by
  * (band, bh) at write time, so
  * the batch-vs-corpus candidate join satisfies the index side's
  * distribution from the files on disk: only the (small) incoming
  * batch's band table shuffles; the (huge) index reads in place,
  * bucket by bucket. Appending accepted documents' keys preserves the
  * bucket spec — the index grows crawl over crawl with no rewrite.
  *
  * Candidates from the index are APPROXIMATE (band collisions); the
  * caller reranks them exactly (shingle Jaccard — see
  * q_doc_incremental_neardup) before dropping anything, the same
  * candidates→verify contract as every LSH path in this engine.
  */
object BandIndex {

  /** An orphaned warehouse location — the catalog entry is gone (a
    * crashed run, or a fresh in-memory catalog over a persistent
    * warehouse dir) but the directory survived — blocks CREATE TABLE
    * with LOCATION_ALREADY_EXISTS. A (re)build must not be blocked by
    * a dead run's debris, so clear it when the catalog doesn't know
    * the table. Shared with [[VectorIndex]] and [[Compactor]].
    */
  private[graft] def clearOrphanedLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val p = new org.apache.hadoop.fs.Path(wh,
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** (Re)build the index from a (doc_id, band, bh) band-key table. */
  def build(banded: DataFrame, table: String, buckets: Int = 8): Unit = {
    clearOrphanedLocation(banded.sparkSession, table)
    banded.select(col("band"), col("bh"), col("doc_id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "band", "bh").sortBy("band", "bh")
      .saveAsTable(table)
  }

  /** Distinct (batch_doc, corpus_doc) candidate pairs of an incoming
    * batch's band-key table against the index. Joins on exactly the
    * bucket keys, so the index side reads bucket-aligned with no
    * Exchange.
    */
  def candidatesAgainst(spark: SparkSession, table: String,
                        batchBanded: DataFrame): DataFrame =
    batchBanded.select(col("band"), col("bh"), col("doc_id").as("batch_doc"))
      .join(spark.table(table).withColumnRenamed("doc_id", "corpus_doc"),
        Seq("band", "bh"))
      .select(col("batch_doc"), col("corpus_doc"))
      .dropDuplicates("batch_doc", "corpus_doc")

  /** Record accepted documents' band keys. `buckets` must match
    * [[build]]; append preserves the spec so later candidate joins
    * stay shuffle-free on the index side.
    */
  def append(spark: SparkSession, table: String, accepted: DataFrame,
             buckets: Int = 8): Unit =
    accepted.select(col("band"), col("bh"), col("doc_id"))
      .write.mode("append")
      .bucketBy(buckets, "band", "bh").sortBy("band", "bh")
      .saveAsTable(table)
}
