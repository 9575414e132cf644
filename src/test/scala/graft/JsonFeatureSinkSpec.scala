package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.geo.Geo
import graft.sink.JsonFeatureSink

/** A2/K6 — FeatureCollection assembly + static JSON export, golden
  * checked end-to-end: assemble → write → re-read with spark.read.json →
  * structural equality. Cardinalities mirror the reference's real
  * exports (197/177/155 features ≤ a few hundred).
  */
class JsonFeatureSinkSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private lazy val features = {
    val zones = (0 until 197).map(i => (i.toLong, s"NTA$i"))
      .toDF("zone_key", "zone_name")
    zones.select(JsonFeatureSink.featureJson(
      Geo.stAsGeoJson(format_string(
        "MULTIPOLYGON (((%d 0, %d 0, %d 1, %d 1, %d 0)))",
        col("zone_key"), col("zone_key") + 1, col("zone_key") + 1,
        col("zone_key"), col("zone_key"))),
      col("zone_key"), col("zone_name")).as("feature"))
  }

  test("featureJson splices geometry verbatim and serializes properties") {
    val f = features.orderBy("feature").head.getString(0)
    assert(f.startsWith("""{"type":"Feature","geometry":{"type":"MultiPolygon""""))
    assert(f.contains(""","properties":{"zone_key":"""))
    // the whole line must itself be valid JSON for downstream readers
    val parsed = spark.read.json(Seq(f).toDS).collect()
    assert(parsed.length == 1)
  }

  test("featureJson renders missing geometry as JSON null") {
    val f = Seq(("x", null: String)).toDF("name", "geom")
      .select(JsonFeatureSink.featureJson(col("geom"), col("name")).as("feature"))
      .head.getString(0)
    assert(f.contains(""""geometry":null"""))
  }

  test("writeFeatureCollection produces one valid FeatureCollection file (K6)") {
    val path = s"${tmpDir("fc")}/food_gaps.json"
    JsonFeatureSink.writeFeatureCollection(features, path)
    val content = new String(Files.readAllBytes(Paths.get(path)))
    assert(content.startsWith("""{"type":"FeatureCollection","features":["""))
    val back = spark.read.json(Seq(content).toDS)
    assert(back.selectExpr("size(features)").head.getInt(0) == 197)
    assert(back.selectExpr("features[0].type").head.getString(0) == "Feature")
  }

  test("featureJson emits NULL properties explicitly (json_build_object parity)") {
    val f = Seq(("NTA1", Option.empty[Double])).toDF("zone", "supply_gap_lbs")
      .select(JsonFeatureSink.featureJson(lit(null).cast("string"),
        col("zone"), col("supply_gap_lbs")).as("feature"))
      .head.getString(0)
    assert(f.contains(""""supply_gap_lbs":null"""),
      s"NULL property key must not be dropped: $f")
  }

  test("empty input yields an empty FeatureCollection (routes.py:95-97 fallback)") {
    val empty = features.limit(0)
    assert(JsonFeatureSink.featureCollection(empty) ==
      """{"type":"FeatureCollection","features":[]}""")
  }
}
