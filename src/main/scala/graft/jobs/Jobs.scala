package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.DatasetSpec
import graft.sink.{JsonFeatureSink, MetadataTable, UpsertSink}
import graft.validate.{ValidationReport, Validator}

/** The reference's two batch entry points as engine jobs.
  *
  * [[IngestJob]] = `python scripts/ingest_data.py --dataset <key>`
  * (SURVEY §3.1): fetch (caller supplies the raw frame via a
  * connector) → transform chain → validation → upsert-or-append →
  * parquet table → metadata bookkeeping. One lazy plan end-to-end
  * until the table write, which also computes the validation report;
  * per-dataset failures stay isolated in the caller's loop like
  * ingest_data.py:180-210.
  *
  * [[ExportJob]] = `python scripts/export_static_data.py` (§3.3): run
  * the three §2.6 queries and write each FeatureCollection to a static
  * JSON file.
  */
object IngestJob {

  final case class Result(
      datasetKey: String,
      tableDir: String,
      recordCount: Long,
      report: ValidationReport)

  /** Run one dataset's pipeline: transform → validate → upsert (on the
    * spec's unique keys; append when none declared — ingest_data.py:
    * 136-150) → metadata row. `dryRun` stops after validation
    * (ingest_data.py:108-116).
    *
    * One pass over the data: the validation metrics are observed on the
    * frame the upsert (or append) writes, and read once the write has
    * returned; the metadata row then merges in memory. A dry run
    * validates with one job of its own and writes nothing.
    */
  def run(
      spark: SparkSession,
      spec: DatasetSpec,
      raw: DataFrame,
      transform: DataFrame => DataFrame,
      warehouseDir: String,
      dryRun: Boolean = false): Result = {
    val transformed = transform(raw)
    val tableDir = s"$warehouseDir/${spec.tableName}"
    val report =
      if (dryRun) Validator.validate(transformed, spec)
      else {
        val (observed, readReport) = Validator.observed(transformed, spec)
        val keys = spec.validation.uniqueKeys
        if (keys.nonEmpty && keys.forall(transformed.columns.contains))
          UpsertSink.upsertParquet(spark, tableDir, observed, keys,
            partitionBy = spec.partitionColumns)
        else {
          val w = observed.write.mode("append")
          (if (spec.partitionColumns.nonEmpty)
            w.partitionBy(spec.partitionColumns: _*) else w).parquet(tableDir)
        }
        val r = readReport()
        MetadataTable.update(spark, s"$warehouseDir/dataset_metadata",
          spec.datasetId, spec.tableName, r.rowCount)
        r
      }
    Result(spec.key, tableDir, report.rowCount, report)
  }
}

object ExportJob {

  /** Run the three production queries over the warehouse tables and
    * write the three static FeatureCollection files
    * (export_static_data.py:118-151). Returns file → feature count,
    * counted in the same aggregate that assembles the file.
    */
  def run(spark: SparkSession, warehouseDir: String, outDir: String): Map[String, Long] =
    Main.endpoints.map { case (endpoint, file) =>
      file -> JsonFeatureSink.writeFeatureCollection(
        Main.namedQuery(spark, warehouseDir, endpoint), s"$outDir/$file")
    }.toMap
}
