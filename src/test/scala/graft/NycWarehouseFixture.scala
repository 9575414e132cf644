package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{DatasetSpec, Registry}
import graft.jobs.IngestJob
import graft.transform.Transformers

/** NYC-shaped five-table warehouse fixture landing on the reference's
  * real output cardinalities (197 food-gap NTAs / 177 poverty ZIPs /
  * 155 rent ZIPs — BASELINE.md), built through the REAL ingest path
  * (IngestJob: transform → validate → upsert → metadata). Shared by
  * NycPipelineSpec (batch export + interactive SQL) and ApiServerSpec
  * (HTTP serving); each suite builds its own copy so suite-local
  * mutations (e.g. the idempotent re-ingest test) can't leak.
  */
object NycWarehouseFixture {

  val nNtas = 197
  val nZips = 178
  val zips: Seq[String] = (0 until nZips).map(i => f"1$i%04d")

  def squareGeoJson(i: Int): String =
    s"""{"type":"MultiPolygon","coordinates":[[[[$i,0],[${i + 1},0],[${i + 1},1],[$i,1],[$i,0]]]]}"""
  def squareWkt(i: Int): String =
    s"POLYGON (($i 0, ${i + 1} 0, ${i + 1} 1, $i 1, $i 0))"

  /** One dataset's ingest inputs: spec, raw-shaped frame, transformer chain. */
  final case class Input(spec: DatasetSpec, raw: DataFrame, transform: DataFrame => DataFrame)

  /** The five raw sources, in ingest order. */
  def inputs(spark: SparkSession): Seq[Input] = {
    import spark.implicits._

    // --- ntas_2020 (SODA raw shape) -> 197 geometry rows
    val ntasRaw = (0 until nNtas).map { i =>
      (f"NTA$i%03d", s"Neighborhood $i", "Brooklyn", s"$i", squareGeoJson(i))
    }.toDF("NTA2020", "NTAName", "BoroName", "BoroCode", "the_geom")

    // --- food_supply_gap (SODA raw shape): 2022 + 2023 vintages, all NTAs
    val foodRaw = (0 until nNtas).flatMap { i =>
      Seq(2022, 2023).map(y =>
        (s"row-$y-$i", y.toString, f"NTA$i%03d", s"${1000 + i}", s"${i % 40}",
          s"${i % 30}", s"${i % 10}", s"${i + 1}", (y.toLong * 1000) + i))
    }.toDF(":id", "Year", "NTA", "supply_gap_lbs", "Food Insecure Percentage",
      "unemployment_rate", "Vulnerable Population", "Rank", "Row Order")

    // --- census_zctas_2020 (shapefile raw shape): 178 ZIP polygons
    val zctasRaw = zips.zipWithIndex
      .map { case (z, i) => (z, squareWkt(i)) }
      .toDF("ZCTA5CE20", "geometry")

    // --- census_acs (census raw shape): one ZIP carries the sentinel
    //     income -> NULL -> excluded by the poverty query -> 177
    val acsRaw = zips.zipWithIndex.map { case (z, i) =>
      val income = if (i == 42) "-666666666" else s"${50000 + i * 10}"
      (z, income, s"${5 + i % 50}", s"${100 + i}")
    }.toDF("zip code tabulation area", "B19013_001E", "B17020_002E", "B17020_001E")

    // --- zillow_zori (wide CSV raw shape): 23 ZIPs have no rent at all
    //     -> dropped by dropna -> 155
    val zillowRaw = zips.zipWithIndex.map { case (z, i) =>
      val hasRent = i % 8 != 3 && i != 0 // 23 of 178 have no rent data
      (1000L + i, z, 7L,
        if (hasRent) Some(2000.0 + i) else None,
        if (hasRent && i % 2 == 0) Some(2100.0 + i) else None)
    }.toDF("RegionID", "RegionName", "SizeRank", "2024-01-31", "2024-02-29")

    Seq(
      Input(Registry.ntas2020, ntasRaw, Transformers.ntas2020),
      Input(Registry.foodSupplyGap, foodRaw, Transformers.foodSupplyGap(Seq(col("row_order")))),
      Input(Registry.censusZctas2020, zctasRaw, Transformers.censusZctas2020(zips)),
      Input(Registry.censusAcs, acsRaw, Transformers.censusAcs()),
      Input(Registry.zillowZori, zillowRaw, Transformers.zillowZori(zips)))
  }

  /** Build a fresh warehouse under a temp dir and return its path. */
  def build(spark: SparkSession): String = {
    val dir = Files.createTempDirectory("graft-warehouse").toString
    inputs(spark).foreach(in => IngestJob.run(spark, in.spec, in.raw, in.transform, dir))
    dir
  }
}
