package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One registration record per injected SQL function (a native
  * expression or a ScalaUDF alias) — the single implementation of the
  * identifier/info/arity-checked-builder boilerplate, injected by the
  * SparkSessionExtensions hook ([[GraftExtensions]]).
  */
private[graft] final case class NativeFn(
    name: String,
    clazz: Class[_],
    arity: Int,
    ctor: Seq[Expression] => Expression) {

  val identifier: FunctionIdentifier = FunctionIdentifier(name)
  val info: ExpressionInfo = new ExpressionInfo(clazz.getCanonicalName, null, name)
  val builder: Seq[Expression] => Expression = { children =>
    require(children.size == arity, s"$name takes exactly $arity argument(s)")
    ctor(children)
  }

  /** Tuple shape SparkSessionExtensions.injectFunction expects. */
  def injectable: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (identifier, info, builder)
}
