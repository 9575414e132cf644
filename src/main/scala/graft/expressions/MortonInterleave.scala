package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `morton_interleave(x, y) -> long` — 32-bit Morton (Z-order) code
  * over two 16-bit coordinates: bit i of y lands at position 2i, bit i
  * of x at 2i+1 (Morton 1966; the multi-dimensional clustering key
  * behind Delta/Iceberg `OPTIMIZE ZORDER BY`).
  *
  * Why native: the same interleave composed from
  * shiftleft/shiftright/bitwiseAND/bitwiseOR is a 96-node expression
  * tree, and every collapsed projection that references z re-inlines
  * the whole tree (sort keys, shuffle hashes, pushed-down null checks)
  * — measured blowing a layout query's generated code past codegen
  * limits. As one expression it is a single static call from generated
  * code and stays inside WholeStageCodegen wherever it appears.
  */
case class MortonInterleave(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"morton_interleave expects (bigint, bigint), got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "morton_interleave"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    MortonInterleave.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.expressions.MortonInterleave.interleave($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonInterleave =
    copy(left = newLeft, right = newRight)
}

object MortonInterleave {

  /** Shared by interpreted eval and generated code. Only the low 16
    * bits of each input participate (the caller normalizes into that
    * range); higher bits are ignored by construction.
    */
  def interleave(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i + 1)
      z |= ((y >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }

  val fn: NativeFn = NativeFn("morton_interleave", classOf[MortonInterleave], 2,
    c => MortonInterleave(c(0), c(1)))
}
