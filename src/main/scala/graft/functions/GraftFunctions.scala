package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.Internal

import graft.expressions.NativeFn
import graft.geo.Geo

/** SQL names for the engine's ScalaUDF scalars, so the SQL and
  * DataFrame surfaces expose the same capabilities (a user of the
  * reference's SQL-first workflow can stay in SQL). GraftExtensions
  * injects them with the native expressions (fast_cosine, minhash_sig,
  * simhash64, ...) into every session [[graft.Sessions]] builds, and
  * `newSession()` children inherit them.
  */
object GraftFunctions {

  private def alias(name: String, udf: UserDefinedFunction): NativeFn =
    NativeFn(name, classOf[ScalaUDF], 1, c => Internal.scalaUdf(name, udf, c))

  val sqlAliases: Seq[NativeFn] = Seq(
    // geometry codecs (§2.7)
    alias("st_asgeojson", Geo.stAsGeoJson),
    alias("geojson_to_wkt", Geo.geojsonToWkt),
    alias("st_multi", Geo.promoteToMultiPolygon),
    alias("st_envelope_box", Geo.envelopeOf),
    // text / dedup primitives
    alias("lang_id", TextFunctions.langId),
    alias("winnow_fingerprints", TextFunctions.fingerprints))

  /** Does nothing: every function above is injected at session build.
    * Kept because the benchmark harness (`perfbench/harness`) calls it
    * and builds against this library.
    */
  def registerAll(spark: SparkSession): Unit = ()
}
