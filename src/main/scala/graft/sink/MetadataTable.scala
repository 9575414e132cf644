package graft.sink

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{Encoders, SparkSession}

/** K5 — per-dataset ingestion bookkeeping (storage.py:299-334): one row
  * per dataset_id holding last ingestion time, record count, status —
  * latest-wins on dataset_id.
  *
  * The table holds one row per registered dataset, so an update merges
  * in memory: collect the existing rows, replace this dataset's row,
  * and rewrite the table through the upsert sink's write-new-then-swap.
  */
object MetadataTable {

  final case class MetadataEntry(
      dataset_id: String,
      table_name: String,
      last_ingestion: Timestamp,
      record_count: Long,
      status: String)

  private val encoder = Encoders.product[MetadataEntry]

  /** Record (or overwrite) the bookkeeping row for one ingestion run. */
  def update(
      spark: SparkSession,
      dir: String,
      datasetId: String,
      tableName: String,
      recordCount: Long,
      status: String = "success",
      now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    val target = Paths.get(dir)
    val existing =
      if (!Files.exists(target)) Seq.empty[MetadataEntry]
      else spark.read.schema(encoder.schema).parquet(dir).as(encoder).collect().toSeq
    val rows = (existing.filterNot(_.dataset_id == datasetId) :+
      MetadataEntry(datasetId, tableName, now, recordCount, status)).sortBy(_.dataset_id)
    UpsertSink.writeAtomic(spark.createDataset(rows)(encoder).toDF().coalesce(1), target)
  }
}
