package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, FloatType}

/** `vec_all_finite(array<float>) -> boolean` — TRUE iff every element
  * is a finite float (no NaN, no ±Inf, no NULL element).
  *
  * The declarative form (`forall(c, x -> !isnan(x) && abs(x) <= MAX)`)
  * is an interpreted higher-order function: per row it allocates a
  * lambda frame and boxes every element, which read as a measurable
  * regression on the embedding-family bench rows when the finite-domain
  * guards landed (k-means trainers, quantizer, class separation — all
  * scan the corpus through this predicate). This expression is the
  * codegen rung of the custom-operator ladder: a primitive loop over
  * the ArrayData buffer inside the surrounding WholeStageCodegen stage.
  *
  * Float-level semantics (shared by eval and codegen): NaN fails
  * `v == v`; ±Inf fails `-Float.MaxValue <= v <= Float.MaxValue`.
  */
case class VecAllFinite(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_all_finite expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "vec_all_finite"

  override protected def withNewChildInternal(newChild: Expression): VecAllFinite =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return false
      val v = a.getFloat(i)
      if (v != v || v > Float.MaxValue || v < Float.MinValue) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val ok = ctx.freshName("ok")
      s"""
         |final int $n = $arr.numElements();
         |boolean $ok = true;
         |int $i = 0;
         |while ($ok && $i < $n) {
         |  if ($arr.isNullAt($i)) { $ok = false; }
         |  else {
         |    final float $v = $arr.getFloat($i);
         |    if ($v != $v || $v > Float.MAX_VALUE || $v < -Float.MAX_VALUE) { $ok = false; }
         |  }
         |  $i++;
         |}
         |${ev.value} = $ok;
       """.stripMargin
    })
}

object VecAllFinite {
  val fn: NativeFn = NativeFn("vec_all_finite", classOf[VecAllFinite], 1,
    c => VecAllFinite(c.head))
}
