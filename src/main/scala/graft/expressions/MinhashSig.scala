package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** `minhash_sig(array<string>) -> array<bigint>` — native form of the
  * MinHash signature (graft.functions.TextFunctions.fastMinhashSig).
  *
  * A ScalaUDF form (the spec oracle in ReferenceKernels) pays
  * CatalystTypeConverters both ways on EVERY row: the shingle array
  * deserializes to a boxed Seq[String] and the signature
  * re-serializes from Seq[Long] — and the ScalaUDF node breaks the
  * surrounding WholeStageCodegen stage. This expression reads shingles
  * straight out of ArrayData and returns the long[] wrapped once, and
  * nullSafeCodeGen keeps the stage fused. The signature math itself is
  * THE SAME JVM code (TextFunctions.baseHash/permute via [[sigOf]]), so
  * bit-identity with the UDF is by construction for non-null input
  * (pinned in TextFunctionsSpec). NULL semantics DIFFER intentionally:
  * a NULL shingle array yields a NULL signature (standard SQL null
  * propagation) where the UDF returned the all-MaxValue sentinel — an
  * accident of Seq decoding, also pinned by spec.
  *
  * This is the per-row cost of every MinHash-LSH dedup pass; the same
  * promotion was measured worthwhile for the hyperplane band keys
  * (LshBandKeys, BENCH_NOTES ANN probe).
  */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinhashSig.sigOf(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.expressions.MinhashSig.sigOf($c));
       """.stripMargin
    })
}

object MinhashSig {

  /** Signature of one shingle array — shared by interpreted eval and
    * generated code (hence the JVM-friendly static signature). NULL
    * elements are skipped; duplicate shingles are hashed once (min is
    * idempotent, so this is an optimization, not a semantic choice —
    * the UDF's `.distinct` pins the same behavior).
    */
  def sigOf(arr: ArrayData): Array[Long] = {
    val k = TextFunctions.minhashK
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        if (seen.add(s)) {
          val x = TextFunctions.baseHash(s)
          var j = 0
          while (j < k) {
            val (a, b) = TextFunctions.hashParams(j)
            val h = TextFunctions.permute(a, b, x)
            if (h < sig(j)) sig(j) = h
            j += 1
          }
        }
      }
      i += 1
    }
    sig
  }

  val fn: NativeFn = NativeFn("minhash_sig", classOf[MinhashSig], 1,
    c => MinhashSig(c.head))
}
