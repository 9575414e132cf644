package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.expressions.LshBandKeys
import graft.functions.TextFunctions

/** Reference forms of the native kernels, kept as spec oracles: each
  * native expression must stay bit-identical to its reference here
  * (FastCosineSpec, LshBandKeysFastSpec, TextFunctionsSpec,
  * SimhashSpec). The queries run only the native forms.
  */
object ReferenceKernels {

  /** Elementwise products in double (each float*float product is exact
    * in double), then a sequential left fold.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Declarative cosine similarity; NULL on a zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    dot(a, b) / when(denom =!= 0.0, denom)
  }

  /** Random-hyperplane band keys as a ScalaUDF: one Int per band =
    * (band index << r) | sign bits of that band's projections onto the
    * seed-7 planes [[LshBandKeys.planes]].
    */
  def lshBandKeys(bands: Int, rowsPerBand: Int): UserDefinedFunction =
    udf { v: Seq[Float] =>
      val n = math.min(v.length, LshBandKeys.embeddingDim)
      (0 until bands).map { band =>
        var bits = 0
        var r = 0
        while (r < rowsPerBand) {
          val plane = LshBandKeys.planes(band * rowsPerBand + r)
          var s = 0.0
          var i = 0
          while (i < n) { s += v(i) * plane(i); i += 1 }
          if (s >= 0) bits |= (1 << r)
          r += 1
        }
        (band << rowsPerBand) | bits
      }
    }

  /** MinHash signature of a shingle set (k mins). Empty set → all MaxValue. */
  val minhashSig: UserDefinedFunction = udf { shingles: Seq[String] =>
    val sig = Array.fill(TextFunctions.minhashK)(Long.MaxValue)
    if (shingles != null) shingles.distinct.foreach { s =>
      val x = TextFunctions.baseHash(s)
      var k = 0
      while (k < TextFunctions.minhashK) {
        val (a, b) = TextFunctions.hashParams(k)
        val h = TextFunctions.permute(a, b, x)
        if (h < sig(k)) sig(k) = h
        k += 1
      }
    }
    sig.toSeq
  }

  /** 64-bit token-frequency-weighted SimHash. */
  val simhash64: UserDefinedFunction = udf { toks: Seq[String] =>
    val acc = new Array[Int](64)
    if (toks != null) toks.foreach { t =>
      val h = TextFunctions.simTokenHash(t)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }
}
