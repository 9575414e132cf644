package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Bpe

/** `bpe_token_count(text, merges) -> int` — native BPE subword token
  * count (graft.functions.Bpe). `merges` must be a FOLDABLE
  * array<string> of rank-ordered "left right" merge rules (the trained
  * tokenizer, typically a few hundred elements): it is evaluated once
  * per expression instance into a rank table, not per row, and since
  * expression instances are task-local so is the per-word memo cache —
  * no locking in the hot path.
  *
  * Codegen calls back into this instance via a reference object
  * (standard pattern for kernel-heavy expressions, cf. RegExpExtract's
  * compiled-pattern reuse), so the expression stays inside
  * WholeStageCodegen without inlining the merge loop into Janino.
  */
case class BpeTokenCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) =>
      if (right.foldable) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "bpe_token_count merges argument must be foldable (a literal merge table)")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count expects (string, array<string>), got (${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "bpe_token_count"

  // merges fold once per instance; the memo cache is instance-local
  // (expressions deserialize per task -> single-threaded access)
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val arr = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    val merges = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    Bpe.buildRanks(merges)
  }

  @transient private lazy val cache = new java.util.HashMap[String, Integer]()

  /** Called from both interpreted eval and generated code. */
  def countTokens(text: UTF8String): Int =
    Bpe.countTokens(text.toString, ranks, cache)

  override protected def nullSafeEval(text: Any, merges: Any): Any =
    countTokens(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeExpr", this, classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.countTokens($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeTokenCount =
    copy(left = newLeft, right = newRight)
}

object BpeTokenCount {
  val fn: NativeFn = NativeFn("bpe_token_count", classOf[BpeTokenCount], 2,
    c => BpeTokenCount(c(0), c(1)))
}
