package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `fast_cosine(array<float>, array<float>) -> double` — a native
  * Catalyst expression with whole-stage codegen for the similarity hot
  * path.
  *
  * The declarative form (`aggregate(zip_with(...))`, kept as the spec
  * oracle in FastCosineSpec) is semantically identical but walks
  * boxed higher-order-function lambdas per element — fine per row,
  * costly when near-dup/ANN reranks evaluate millions of candidate
  * pairs. This expression compiles to a primitive `while` loop over
  * the two `ArrayData` buffers inside the surrounding
  * WholeStageCodegen stage: no allocation, no virtual calls.
  *
  * Numeric contract (must stay bit-identical to the declarative form
  * and the DuckDB oracle, see SimilarityQ): each accumulator is a
  * sequential left-to-right IEEE-double sum; cosine =
  * dot / (sqrt(na)*sqrt(nb)), NULL on zero denominator. Interpreted
  * `eval` and generated code share exactly this order.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"fast_cosine expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "fast_cosine"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    while (i < nx) { val xi = x.getFloat(i).toDouble; na += xi * xi; i += 1 }
    var j = n
    while (j < ny) { val yj = y.getFloat(j).toDouble; nb += yj * yj; j += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr1, arr2) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |final int $nx = $arr1.numElements();
         |final int $ny = $arr2.numElements();
         |final int $n = java.lang.Math.min($nx, $ny);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $i = 0;
         |while ($i < $n) {
         |  final double $xi = (double) $arr1.getFloat($i);
         |  final double $yi = (double) $arr2.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  $i++;
         |}
         |while ($i < $nx) { final double $xi = (double) $arr1.getFloat($i); $na += $xi * $xi; $i++; }
         |$i = $n;
         |while ($i < $ny) { final double $yi = (double) $arr2.getFloat($i); $nb += $yi * $yi; $i++; }
         |final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })
}

/** Registration for `fast_cosine` — injected session-wide through
  * [[org.apache.spark.sql.SparkSessionExtensions]] (Sessions.builder).
  */
object CosineSimilarity {

  val fn: NativeFn = NativeFn("fast_cosine", classOf[CosineSimilarity], 2,
    c => CosineSimilarity(c.head, c(1)))
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // every native expression and ScalaUDF SQL alias; newSession()
    // children inherit them
    (Seq(CosineSimilarity.fn, LshBandKeys.fn, MinhashSig.fn, Simhash64.fn,
      DeflateSize.fn, BpeTokenCount.fn, MortonInterleave.fn, HilbertIndex.fn,
      VecAllFinite.fn) ++ graft.functions.GraftFunctions.sqlAliases)
      .foreach(f => ext.injectFunction(f.injectable))
    ext.injectOptimizerRule(_ => CollapseIdempotentUdfs)
    // whole-operator tier: the bounded-heap top-k-per-group physical
    // operator (graft.plans.TopKPerGroup)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
