package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `lsh_band_keys(array<float>, bands, rows_per_band) -> array<int>` —
  * native codegen form of the random-hyperplane band-key generator
  * (graft.functions.VectorFunctions.lshBandKeys, Charikar 2002).
  *
  * The UDF form deserializes every embedding to a boxed Seq[Float]
  * before computing bands×rowsPerBand (≤64) hyperplane projections of
  * 64 dims each — ~4k multiply-adds per row paying an allocation and a
  * box per element. This is THE per-row cost of every LSH candidate
  * pass (ANN and embedding near-dup), and the ANN scale probe
  * (BENCH_NOTES.md) showed it dominating corpus-side work. The native
  * expression reads floats straight out of ArrayData inside the
  * surrounding WholeStageCodegen stage: no boxing, no Seq, one int[]
  * allocation per row for the result.
  *
  * Key contract (bit-identical to the UDF, pinned by
  * LshBandKeysFastSpec): key(band) = (band << rowsPerBand) | sign bits
  * of that band's seeded-Gaussian projections; same plane matrix
  * (seed 7), same float→double widening, same ≥0 sign convention.
  */
case class LshBandKeys(vec: Expression, bands: Expression, rowsPerBand: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = bands
  override def third: Expression = rowsPerBand

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (vecOk && second.dataType == IntegerType && third.dataType == IntegerType) {
      // The 64-plane budget the Scala APIs enforce with require() must
      // hold on the SQL surface too, or generated code dies with a bare
      // ArrayIndexOutOfBoundsException. Literals (the only realistic SQL
      // usage) are checked here at analysis time; non-foldable args fall
      // through to the runtime guard in the eval paths.
      (foldedInt(bands), foldedInt(rowsPerBand)) match {
        case (Some(b), Some(r)) if b <= 0 || r <= 0 || r > 30 || b.toLong * r > LshBandKeys.maxPlanes =>
          TypeCheckResult.TypeCheckFailure(
            s"lsh_band_keys requires bands > 0, rows_per_band in [1, 30], and " +
              s"bands * rows_per_band <= ${LshBandKeys.maxPlanes}; got bands=$b, rows_per_band=$r")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    } else
      TypeCheckResult.TypeCheckFailure(
        s"lsh_band_keys expects (array<float>, int, int), got " +
          s"(${vec.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")
  }

  private def foldedInt(e: Expression): Option[Int] =
    if (e.foldable) Option(e.eval()).map(_.asInstanceOf[Int]) else None

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // default nullability (any child nullable): TernaryExpression's
  // eval/codegen returns NULL when bands/rows_per_band is NULL too, so
  // narrowing to vec.nullable would declare non-null for columns that
  // can in fact be NULL and mislead optimizer null-pruning
  override def prettyName: String = "lsh_band_keys"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LshBandKeys =
    copy(vec = newFirst, bands = newSecond, rowsPerBand = newThird)

  override protected def nullSafeEval(v: Any, b: Any, r: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val nBands = b.asInstanceOf[Int]
    val rpb = r.asInstanceOf[Int]
    LshBandKeys.checkPlaneBudget(nBands, rpb)
    val planes = LshBandKeys.planes
    val n = math.min(arr.numElements(), LshBandKeys.embeddingDim)
    val keys = new Array[Int](nBands)
    var band = 0
    while (band < nBands) {
      var bits = 0
      var rr = 0
      while (rr < rpb) {
        val plane = planes(band * rpb + rr)
        var s = 0.0
        var i = 0
        while (i < n) { s += arr.getFloat(i) * plane(i); i += 1 }
        if (s >= 0) bits |= (1 << rr)
        rr += 1
      }
      keys(band) = (band << rpb) | bits
      band += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", LshBandKeys.planes, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, b, r) => {
      val n = ctx.freshName("n")
      val keys = ctx.freshName("keys")
      val band = ctx.freshName("band")
      val bits = ctx.freshName("bits")
      val rr = ctx.freshName("rr")
      val plane = ctx.freshName("plane")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |graft.expressions.LshBandKeys.checkPlaneBudget($b, $r);
         |final int $n = java.lang.Math.min($v.numElements(), ${LshBandKeys.embeddingDim});
         |final int[] $keys = new int[$b];
         |for (int $band = 0; $band < $b; $band++) {
         |  int $bits = 0;
         |  for (int $rr = 0; $rr < $r; $rr++) {
         |    final double[] $plane = $planesRef[$band * $r + $rr];
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += ((double) $v.getFloat($i)) * $plane[$i];
         |    }
         |    if ($s >= 0) $bits |= (1 << $rr);
         |  }
         |  $keys[$band] = ($band << $r) | $bits;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }
}

object LshBandKeys {

  val embeddingDim = 64
  val maxPlanes = 64

  /** Runtime form of the plane-budget contract, shared by interpreted
    * eval and generated code (hence public + JVM-friendly signature).
    */
  def checkPlaneBudget(bands: Int, rowsPerBand: Int): Unit =
    if (bands <= 0 || rowsPerBand <= 0 || rowsPerBand > 30 ||
        bands.toLong * rowsPerBand > maxPlanes)
      throw new IllegalArgumentException(
        s"lsh_band_keys requires bands > 0, rows_per_band in [1, 30], and " +
          s"bands * rows_per_band <= $maxPlanes; got bands=$bands, rows_per_band=$rowsPerBand")

  /** THE seeded-Gaussian plane matrix (seed 7) — the single definition
    * both the native expression and the specs' reference UDF read, so
    * the two cannot drift (bit-identity also pinned by
    * LshBandKeysFastSpec).
    */
  private[graft] lazy val planes: Array[Array[Double]] = {
    val rng = new scala.util.Random(7)
    Array.fill(maxPlanes, embeddingDim)(rng.nextGaussian())
  }

  val fn: NativeFn = NativeFn("lsh_band_keys", classOf[LshBandKeys], 3,
    c => LshBandKeys(c.head, c(1), c(2)))
}
