package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `hilbert_index(x, y) -> long` — position of 16-bit coordinates
  * (x, y) along the order-16 Hilbert space-filling curve over the
  * 65536×65536 grid (Hilbert 1891; the canonical per-bit
  * quadrant+rotation walk, e.g. Warren, Hacker's Delight §16). The
  * clustering-key alternative to [[MortonInterleave]]: Hilbert's
  * unit-step continuity (consecutive positions are always grid
  * neighbors, where Morton takes corpus-wide jumps at quadrant
  * boundaries) gives tighter per-file min/max footprints for the same
  * file size, i.e. more files skipped per probe — measured against
  * Morton by q_layout_compare.
  *
  * Why native (same reasoning as [[MortonInterleave]]): the rotation
  * recurrence is 16 data-dependent steps — as composed Column
  * arithmetic it would be a several-hundred-node tree re-inlined into
  * every downstream projection; as one expression it is a single
  * static call that stays inside WholeStageCodegen.
  *
  * Only the low 16 bits of each input participate (callers normalize
  * into that range); higher bits are ignored by construction.
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_index expects (bigint, bigint), got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "hilbert_index"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertIndex.index(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.expressions.HilbertIndex.index($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {

  private val N = 1L << 16

  /** Shared by interpreted eval and generated code: the canonical
    * xy→d walk — per bit plane s (high to low), add the quadrant's
    * curve offset s²·((3·rx) xor ry), then flip+transpose the frame
    * so the sub-quadrant recursion sees canonical orientation.
    */
  def index(xIn: Long, yIn: Long): Long = {
    var x = xIn & (N - 1)
    var y = yIn & (N - 1)
    var d = 0L
    var s = N >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          x = N - 1 - x
          y = N - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  val fn: NativeFn = NativeFn("hilbert_index", classOf[HilbertIndex], 2,
    c => HilbertIndex(c(0), c(1)))
}
