package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.Registry
import graft.jobs.{ExportJob, IngestJob, Main => JobsMain}
import graft.sink.JsonFeatureSink
import graft.transform.Transformers

/** The reference pipeline end-to-end on NYC-shaped fixtures: five raw
  * sources → IngestJob (transform → validate → upsert → metadata) →
  * ExportJob (the three §2.6 queries → static FeatureCollection files)
  * — landing on the reference's real output cardinalities: 197
  * food-gap NTAs, 177 poverty ZIPs, 155 rent ZIPs (BASELINE.md;
  * viz/public/data measurements).
  */
class NycPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val nNtas = NycWarehouseFixture.nNtas
  private val nZips = NycWarehouseFixture.nZips
  private val zips = NycWarehouseFixture.zips

  private lazy val warehouse = NycWarehouseFixture.build(spark)

  /** Spark SQL executions (actions and writes) that `f` runs. Listener
    * events arrive asynchronously but in order, so a marker query run
    * before and after `f` brackets exactly its executions.
    */
  private def executionsDuring(f: => Unit): Int = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.logical.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe.logical.toString)
    }
    def mark(name: String): Unit = {
      spark.range(1).toDF(name).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_.contains(name)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_.contains(name)), s"listener never saw marker $name")
    }
    spark.listenerManager.register(listener)
    try {
      mark("executions_start_marker")
      f
      mark("executions_end_marker")
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.asScala.toSeq
    plans.indexWhere(_.contains("executions_end_marker")) -
      plans.indexWhere(_.contains("executions_start_marker")) - 1
  }

  test("IngestJob lands validated tables + metadata for all five datasets") {
    val tables = Seq("ntas_2020", "food_supply_gaps", "census_zctas_2020",
      "census_acs_income_poverty", "zillow_zori")
    tables.foreach { t =>
      assert(Files.exists(Paths.get(s"$warehouse/$t")), s"missing table $t")
    }
    assert(spark.read.parquet(s"$warehouse/ntas_2020").count() == nNtas)
    assert(spark.read.parquet(s"$warehouse/census_zctas_2020").count() == nZips)
    assert(spark.read.parquet(s"$warehouse/zillow_zori").count() == 155)
    val meta = spark.read.parquet(s"$warehouse/dataset_metadata")
    assert(meta.count() == 5)
    assert(meta.filter(col("status") === "success").count() == 5)
  }

  test("ExportJob writes the three FeatureCollections at reference cardinalities") {
    val outDir = Files.createTempDirectory("graft-export").toString
    val counts = ExportJob.run(spark, warehouse, outDir)
    assert(counts == Map(
      "food_gaps.json" -> 197L,
      "poverty_by_zip.json" -> 177L,
      "rent_by_zip.json" -> 155L))

    // files are valid FeatureCollections with real geometry + properties
    val food = spark.read.json(s"$outDir/food_gaps.json")
    assert(food.selectExpr("size(features)").head.getInt(0) == 197)
    assert(food.selectExpr("features[0].geometry.type").head.getString(0) == "MultiPolygon")
    val props = food.selectExpr("features[0].properties AS p")
      .select(col("p.*")).columns.toSet
    assert(Set("nta_code", "nta_name", "boro_name", "year", "supply_gap_lbs",
      "food_insecure_pct", "vulnerable_pop_score", "unemployment_rate")
      .subsetOf(props))

    val rent = spark.read.json(s"$outDir/rent_by_zip.json")
    assert(rent.selectExpr("size(features)").head.getInt(0) == 155)
    // zctas promotion: every rent feature's geometry is a MultiPolygon
    assert(rent.selectExpr("explode(features.geometry.type) AS t")
      .filter(col("t") =!= "MultiPolygon").count() == 0)
  }

  test("interactive sql: ad-hoc statements run over the registered warehouse views") {
    // the serving counterpart to routes.py's per-request conn.execute
    // (SURVEY §3.2): every warehouse table becomes a temp view, then
    // plain spark.sql — here the food-gaps endpoint statement itself
    val views = JobsMain.registerWarehouse(spark, warehouse)
    assert(Set("ntas_2020", "food_supply_gaps", "census_zctas_2020",
      "census_acs_income_poverty", "zillow_zori").subsetOf(views.toSet))
    val df = JobsMain.sqlOverWarehouse(spark, warehouse,
      """SELECT n.nta2020 AS nta_code, n.nta_name, f.year, f.food_insecure_pct
        |FROM ntas_2020 n
        |LEFT JOIN food_supply_gaps f ON n.nta2020 = f.nta_code
        |WHERE f.year = (SELECT MAX(year) FROM food_supply_gaps)""".stripMargin)
    assert(df.count() == 197, "ad-hoc food-gaps statement must serve the snapshot")
    assert(df.filter(col("year") =!= 2023).count() == 0)
  }

  test("interactive query: named endpoints serve the HTTP payload shape") {
    // same cardinalities as the static export — the two serving paths
    // (ad-hoc `query` and batch ExportJob) must agree
    assert(JobsMain.namedQuery(spark, warehouse, "food-gaps").count() == 197)
    assert(JobsMain.namedQuery(spark, warehouse, "poverty-by-zip").count() == 177)
    assert(JobsMain.namedQuery(spark, warehouse, "rent-by-zip").count() == 155)
    val fc = JsonFeatureSink.featureCollection(
      JobsMain.namedQuery(spark, warehouse, "food-gaps"))
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(org.apache.commons.lang3.StringUtils.countMatches(
      fc, """{"type":"Feature","geometry":""") == 197)
    intercept[IllegalArgumentException] {
      JobsMain.namedQuery(spark, warehouse, "not-an-endpoint")
    }
  }

  test("fact tables land partitioned by year and snapshot reads prune partitions") {
    val foodDir = s"$warehouse/food_supply_gaps"
    // physical layout: one directory per vintage year
    val partDirs = Files.list(Paths.get(foodDir)).iterator()
    val years = scala.jdk.CollectionConverters.IteratorHasAsScala(partDirs).asScala
      .map(_.getFileName.toString).filter(_.startsWith("year=")).toSet
    assert(years == Set("year=2022", "year=2023"))
    // and Catalyst prunes to one partition for the snapshot filter
    val snap = spark.read.parquet(foodDir).filter(col("year") === 2023)
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("year"), plan)
    assert(snap.count() == nNtas)
  }

  test("dry-run validates without writing (ingest_data.py:108-116 parity)") {
    val dir = Files.createTempDirectory("graft-dryrun").toString
    val raw = Seq(("10001", "50000", "10", "100"))
      .toDF("zip code tabulation area", "B19013_001E", "B17020_002E", "B17020_001E")
    var res: IngestJob.Result = null
    val executions = executionsDuring {
      res = IngestJob.run(spark, Registry.censusAcs, raw,
        Transformers.censusAcs(), dir, dryRun = true)
    }
    assert(executions == 1, "a dry run is one validation job")
    assert(res.recordCount == 1)
    assert(res.report.ok)
    assert(!Files.exists(Paths.get(s"$dir/census_acs_income_poverty")),
      "dry run must not write the table")
    assert(!Files.exists(Paths.get(s"$dir/dataset_metadata")),
      "dry run must not touch metadata")
  }

  test("re-running ingest is idempotent (upsert on unique keys)") {
    val before = spark.read.parquet(s"$warehouse/census_acs_income_poverty").count()
    val acsAgain = zips.zipWithIndex.map { case (z, i) =>
      (z, s"${60000 + i}", s"${5 + i % 50}", s"${100 + i}")
    }.toDF("zip code tabulation area", "B19013_001E", "B17020_002E", "B17020_001E")
    IngestJob.run(spark, Registry.censusAcs, acsAgain, Transformers.censusAcs(), warehouse)
    val after = spark.read.parquet(s"$warehouse/census_acs_income_poverty")
    assert(after.count() == before, "same keys must not duplicate rows")
    // and the new batch's values won
    val z0 = after.filter(col("zip_code") === zips.head).head
    assert(z0.getAs[Double]("median_household_income") == 60000.0)
  }

  test("a writing ingest is one data pass: at most 3 Spark executions") {
    // refresh of an existing table: the upsert write (which also
    // computes the validation report), then the metadata read and write
    val in = NycWarehouseFixture.inputs(spark).find(_.spec.key == "zillow_zori").get
    val tableDir = s"$warehouse/zillow_zori"
    var res: IngestJob.Result = null
    val executions = executionsDuring {
      res = IngestJob.run(spark, in.spec, in.raw, in.transform, warehouse)
    }
    assert(executions <= 3, s"ingest ran $executions executions")
    assert(res.recordCount == 155 && res.report.ok)
    assert(spark.read.parquet(tableDir).count() == 155)
  }
}
