package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** The one sanctioned crossing into Spark's `private[sql]` surface:
  * building a DataFrame from a custom LogicalPlan (there is no public
  * constructor for that — every extension project hosts this same
  * two-line bridge in a child package of org.apache.spark.sql), and
  * building the Catalyst node of a Scala UDF for a session extension.
  * Nothing else in graft lives outside the graft.* namespace.
  */
object Internal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The expression `spark.udf.register(name, udf)` builds for a call
    * `name(children…)`: the UDF renamed to its SQL name, so the
    * ScalaUDF's `udfName` is the name it was invoked with.
    */
  def scalaUdf(name: String, udf: UserDefinedFunction, children: Seq[Expression]): ScalaUDF =
    classic.UserDefinedFunctionUtils.toScalaUDF(
      udf.withName(name).asInstanceOf[SparkUserDefinedFunction], children)
}
