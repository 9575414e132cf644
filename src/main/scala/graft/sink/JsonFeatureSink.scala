package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A2/K6 — GeoJSON Feature assembly and the static-JSON export sink.
  *
  * Reference surface: the API builds `json_build_object('type','Feature',
  * 'geometry', ST_AsGeoJSON(geom)::json, 'properties', json_build_object(…))`
  * rows and aggregates them with `json_agg` into one FeatureCollection
  * (src/api/routes.py:24-42); the batch exporter dumps the same value to
  * the viz/public/data JSON files (scripts/export_static_data.py:118-147).
  *
  * The write path is [[writeFeatureCollection]]: one self-contained
  * FeatureCollection file — the reference's serving shape, correct for
  * bounded outputs (≤ thousands of features; the reference's real
  * datasets are 197/177/155 features).
  */
object JsonFeatureSink {

  /** Feature JSON column: raw GeoJSON geometry string spliced verbatim
    * (it is already JSON — to_json would double-encode it), properties
    * serialized from the given struct fields in declared order.
    * NULL-valued properties are emitted explicitly (`"key":null`) to
    * match the reference's json_build_object shape — Spark's default
    * ignoreNullFields=true would silently drop the key and change the
    * JSON schema consumers see.
    */
  def featureJson(geometryGeoJson: Column, properties: Column*): Column =
    concat(
      lit("""{"type":"Feature","geometry":"""),
      coalesce(geometryGeoJson, lit("null")),
      lit(""","properties":"""),
      to_json(struct(properties: _*), Map("ignoreNullFields" -> "false")),
      lit("}"))

  /** Minimal JSON string literal encoder (RFC 8259 §7) for
    * driver-side envelope assembly — error details, messages.
    */
  def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Aggregate per-feature JSON into a single FeatureCollection string.
    * Features are sorted for deterministic output (collect_list order is
    * partition-arrival order otherwise).
    */
  def featureCollection(features: DataFrame, featureCol: String = "feature"): String =
    collectFeatures(features, featureCol)._1

  /** K6 — write one FeatureCollection file (driver-side single file,
    * like the reference's json.dump). Returns the feature count, taken
    * from the same aggregate.
    */
  def writeFeatureCollection(features: DataFrame, path: String,
                             featureCol: String = "feature"): Long = {
    val (json, n) = collectFeatures(features, featureCol)
    val parent = Paths.get(path).getParent
    if (parent != null) Files.createDirectories(parent)
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
    n
  }

  /** One aggregate: the FeatureCollection string and its row count. */
  private[graft] def collectFeatures(features: DataFrame,
                                     featureCol: String = "feature"): (String, Long) = {
    val row = features
      .agg(array_join(sort_array(collect_list(col(featureCol))), ",").as("joined"),
        count(lit(1)).as("n"))
      .head()
    val joined = if (row.isNullAt(0)) "" else row.getString(0)
    (s"""{"type":"FeatureCollection","features":[$joined]}""", row.getLong(1))
  }
}
