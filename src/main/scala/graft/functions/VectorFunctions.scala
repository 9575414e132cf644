package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.types.DoubleType

/** Embedding-vector primitives: cosine similarity, norms, and
  * random-hyperplane LSH for approximate nearest neighbors.
  *
  * The similarity kernels are native Catalyst expressions
  * (zip_with/aggregate) so they stay codegen'd and — crucially for the
  * DuckDB oracle — accumulate left-to-right in IEEE double, which is
  * bit-reproducible across engines for identical inputs.
  */
object VectorFunctions {

  /** Elementwise products in double (each float*float product is exact
    * in double), then a sequential left fold.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe via NULLIF-style guard on zero norms. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    dot(a, b) / when(denom =!= 0.0, denom)
  }

  /** The codegen'd native form (graft.expressions.CosineSimilarity) —
    * bit-identical to [[cosine]] (same sequential-sum order), ~no
    * per-element allocation. Resolves in any session built by
    * [[graft.Sessions]] (GraftExtensions injects it).
    */
  def fastCosine(a: Column, b: Column): Column =
    call_function("fast_cosine", a, b)

  // ---------------------------------------------------------------------
  // Random-hyperplane LSH (SimHash for vectors; Charikar 2002) with
  // banded OR-amplification: `lshBands` independent band keys, each the
  // sign pattern of `lshRowsPerBand` seeded Gaussian hyperplanes. Two
  // vectors at angle θ collide in one band w.p. (1-θ/π)^r; ORing over
  // bands amplifies recall while each band's equi-join stays a plain
  // shuffle-on-key — the scalable candidate generator. (A single wide
  // bucket + Hamming-probe variant measured far worse recall.)
  // ---------------------------------------------------------------------
  val lshBands = 16
  val lshRowsPerBand = 4
  val embeddingDim = 64
  private val maxPlanes = 64

  // THE plane matrix — defined once in LshBandKeys and shared here so
  // the UDF and the native codegen expression cannot drift (key parity
  // is also pinned by LshBandKeysFastSpec, but sharing removes the
  // hazard at the source, like Geo.ringCrossings for the ray cast).
  private def planes: Array[Array[Double]] = graft.expressions.LshBandKeys.planes

  /** Band keys: one Int per band = (band index << r) | sign bits of that
    * band's hyperplane projections. Band index is baked into the key so a
    * single `explode` + equi-join covers all bands at once.
    *
    * Tuning contract (bands × r ≤ 64 planes): short bands (r=4) for
    * ANN — true nearest neighbors sit at modest cosine and need high
    * per-band collision probability; long bands (r=8) for near-dup —
    * true duplicates are high-cosine, so longer bands prune candidates
    * ~16× harder with negligible recall loss ((1-θ/π)^r per band,
    * OR'd over bands).
    */
  def lshBandKeys(bands: Int = lshBands, rowsPerBand: Int = lshRowsPerBand): UserDefinedFunction = {
    require(bands * rowsPerBand <= maxPlanes, s"need ${bands * rowsPerBand} planes > $maxPlanes")
    udf { v: Seq[Float] =>
      val n = math.min(v.length, embeddingDim)
      (0 until bands).map { band =>
        var bits = 0
        var r = 0
        while (r < rowsPerBand) {
          val plane = planes(band * rowsPerBand + r)
          var s = 0.0
          var i = 0
          while (i < n) { s += v(i) * plane(i); i += 1 }
          if (s >= 0) bits |= (1 << r)
          r += 1
        }
        (band << rowsPerBand) | bits
      }
    }
  }

  /** Codegen'd native band keys (graft.expressions.LshBandKeys) —
    * bit-identical to [[lshBandKeys]] (same seed-7 planes, widening,
    * sign convention; pinned by LshBandKeysFastSpec), no per-element
    * boxing. The production candidate-generation path. Resolves in
    * any session built by [[graft.Sessions]] (GraftExtensions injects
    * it).
    */
  def fastLshBandKeys(v: Column, bands: Int = lshBands,
                      rowsPerBand: Int = lshRowsPerBand): Column = {
    require(bands * rowsPerBand <= maxPlanes, s"need ${bands * rowsPerBand} planes > $maxPlanes")
    call_function("lsh_band_keys", v, lit(bands), lit(rowsPerBand))
  }
}
