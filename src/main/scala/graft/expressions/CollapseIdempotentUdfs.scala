package graft.expressions

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Injected optimizer rule (SparkSessionExtensions.injectOptimizerRule):
  * collapses nested applications of KNOWN-IDEMPOTENT engine UDFs —
  * `f(f(x)) → f(x)` — so pipeline composition can't double-pay for
  * normalization passes.
  *
  * Soundness: only UDFs on the explicit allowlist rewrite, and each is
  * idempotent by construction — `promoteToMultiPolygon` maps
  * MULTIPOLYGON inputs to themselves (Geo.promote is identity on
  * GMultiPolygon), and re-parsing its canonical output is a fixpoint
  * (GeoSpec pins promote(promote(x)) == promote(x)). This arises in
  * practice when a dataset chain normalizes geometry and a downstream
  * query defensively normalizes again (e.g. zctas transform →
  * NycQueries).
  *
  * Registered by [[GraftExtensions]], so every Sessions-built session
  * optimizes with it; CollapseIdempotentUdfsSpec asserts the optimized
  * plan carries ONE UDF call where the user wrote two.
  */
object CollapseIdempotentUdfs extends Rule[LogicalPlan] {

  /** Engine UDFs proven idempotent (specs referenced above), listed
    * under BOTH surfaces' names: the DataFrame-side withName and the
    * SQL alias (GraftFunctions.sqlAliases) — a UDF only collapses under
    * the name it was invoked with.
    */
  private val idempotent = Set("promoteToMultiPolygon", "st_multi")

  private def nameOf(u: ScalaUDF): Option[String] = u.udfName

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case outer @ ScalaUDF(_, _, Seq(inner: ScalaUDF), _, _, _, _, _)
        if nameOf(outer).exists(idempotent.contains) &&
          nameOf(outer) == nameOf(inner) =>
        inner
    }
}
