package graft

import org.apache.spark.sql.functions._

import graft.geo.Geo

/** The injected optimizer rule: double application of an idempotent
  * engine UDF optimizes to a single call, with identical results.
  */
class CollapseIdempotentUdfsSpec extends SparkSpecBase {
  import spark.implicits._

  // parquet-backed (a local Seq would be constant-folded by
  // ConvertToLocalRelation, evaluating the UDFs at optimization time)
  private lazy val polys = graft.sources.Tables.nation(spark, sfDir)
    .select(format_string("POLYGON ((%d 0, %d 0, %d 1, %d 0))",
      col("n_nationkey"), col("n_nationkey") + 1, col("n_nationkey") + 1,
      col("n_nationkey")).as("wkt"))

  test("promote(promote(x)) is semantically idempotent (soundness precondition)") {
    val once = polys.select(Geo.promoteToMultiPolygon(col("wkt")).as("g")).collect()
    val twice = polys.select(
      Geo.promoteToMultiPolygon(Geo.promoteToMultiPolygon(col("wkt"))).as("g")).collect()
    assert(once.map(_.getString(0)).toSeq == twice.map(_.getString(0)).toSeq)
  }

  test("the optimizer collapses the nested call to one UDF invocation") {
    val df = polys.select(
      Geo.promoteToMultiPolygon(Geo.promoteToMultiPolygon(col("wkt"))).as("g"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val calls = "promoteToMultiPolygon".r.findAllIn(optimized).size
    assert(calls == 1, s"expected 1 UDF call after optimization, got $calls:\n$optimized")
    // and a single application is untouched
    val single = polys.select(Geo.promoteToMultiPolygon(col("wkt")).as("g"))
    assert("promoteToMultiPolygon".r
      .findAllIn(single.queryExecution.optimizedPlan.toString).size == 1)
  }

  test("the SQL surface name (st_multi) collapses identically") {
    polys.createOrReplaceTempView("collapse_polys")
    val df = spark.sql("SELECT st_multi(st_multi(wkt)) AS g FROM collapse_polys")
    val calls = "st_multi".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(calls == 1,
      s"SQL-registered alias must collapse like the DataFrame name, got $calls")
  }

  test("non-idempotent UDFs are left alone") {
    // stAsGeoJson(stAsGeoJson(x)) is NOT idempotent (the outer parse of
    // a JSON string as WKT fails -> null); the rule must not touch it
    val df = polys.select(Geo.stAsGeoJson(Geo.stAsGeoJson(col("wkt"))).as("g"))
    val calls = "stAsGeoJson".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(calls == 2, "rule must only rewrite allowlisted idempotent UDFs")
  }
}
