package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives: cosine similarity and
  * random-hyperplane LSH for approximate nearest neighbors.
  *
  * Both are native codegen'd expressions. The cosine accumulates
  * left-to-right in IEEE double, which — crucially for the DuckDB
  * oracle — is bit-reproducible across engines for identical inputs.
  */
object VectorFunctions {

  /** Cosine similarity, NULL on a zero norm: the codegen'd native
    * expression (graft.expressions.CosineSimilarity) — a sequential
    * left-to-right IEEE double sum of the float*float products, ~no
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
  private val maxPlanes = 64

  /** Band keys: one Int per band = (band index << r) | sign bits of
    * that band's seed-7 hyperplane projections
    * ([[graft.expressions.LshBandKeys.planes]]). Band index is baked
    * into the key so a single `explode` + equi-join covers all bands
    * at once. Codegen'd native expression, no per-element boxing.
    * Resolves in any session built by [[graft.Sessions]]
    * (GraftExtensions injects it).
    *
    * Tuning contract (bands × r ≤ 64 planes): short bands (r=4) for
    * ANN — true nearest neighbors sit at modest cosine and need high
    * per-band collision probability; long bands (r=8) for near-dup —
    * true duplicates are high-cosine, so longer bands prune candidates
    * ~16× harder with negligible recall loss ((1-θ/π)^r per band,
    * OR'd over bands).
    */
  def fastLshBandKeys(v: Column, bands: Int = lshBands,
                      rowsPerBand: Int = lshRowsPerBand): Column = {
    require(bands * rowsPerBand <= maxPlanes, s"need ${bands * rowsPerBand} planes > $maxPlanes")
    call_function("lsh_band_keys", v, lit(bands), lit(rowsPerBand))
  }
}
