package graft.functions

import org.apache.spark.sql.SparkSession

import graft.geo.Geo

/** SQL-surface registration of the engine's ScalaUDF scalars under
  * stable names, so the SQL and DataFrame surfaces expose the same
  * capabilities (a user of the reference's SQL-first workflow can stay
  * in SQL). Idempotent; [[graft.Sessions.local]] calls it at session
  * build. The native expressions (fast_cosine, minhash_sig, simhash64,
  * ...) are not registered here: GraftExtensions injects them into
  * every session [[graft.Sessions]] builds.
  */
object GraftFunctions {

  def registerAll(spark: SparkSession): Unit = {
    val r = spark.udf
    // geometry codecs (§2.7)
    r.register("st_asgeojson", Geo.stAsGeoJson)
    r.register("geojson_to_wkt", Geo.geojsonToWkt)
    r.register("st_multi", Geo.promoteToMultiPolygon)
    r.register("st_envelope_box", Geo.envelopeOf)
    // text / dedup primitives (minhash_sig and simhash64 are native
    // expressions)
    r.register("lang_id", TextFunctions.langId)
    r.register("winnow_fingerprints", TextFunctions.fingerprints)
  }
}
