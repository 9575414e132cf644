package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** `simhash64(array<string>) -> bigint` — native form of the
  * token-frequency-weighted 64-bit SimHash
  * (graft.functions.TextFunctions.fastSimhash64). Same promotion
  * rationale as [[MinhashSig]]: the UDF form (the spec oracle) boxes
  * every token array to Seq[String] and breaks whole-stage codegen;
  * the expression reads tokens out of ArrayData and returns a
  * primitive long. Hash math is shared with
  * the UDF (TextFunctions.simTokenHash), so bit-identity holds by
  * construction for non-null input (pinned in SimhashSpec).
  *
  * NULL semantics DIFFER from the legacy UDF intentionally: a NULL
  * token array yields a NULL signature (standard SQL null propagation)
  * where the UDF returned 0L — the UDF's behavior was an accident of
  * Seq decoding, and pairing all null-text documents at hamming 0 was
  * never a meaningful result.
  */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    Simhash64.sigOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.Simhash64.sigOf($c);")
}

object Simhash64 {

  /** Signature of one token array — shared by interpreted eval and
    * generated code. NULL elements are skipped (the UDF's Seq decode
    * surfaced them as nulls that murmur would NPE on — skipping
    * matches the practical contract: tokens() never produces NULL
    * elements).
    */
  def sigOf(arr: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = TextFunctions.simTokenHash(arr.getUTF8String(i).toString)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  val fn: NativeFn = NativeFn("simhash64", classOf[Simhash64], 1,
    c => Simhash64(c.head))
}
