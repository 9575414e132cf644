package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{IvfFunctions, PqFunctions}

/** Edge semantics of the shared quantizer kernels (argmin, nearest,
  * residual, ADC table) as every IVF / PQ UDF sees them: non-finite
  * vectors, NaN against +Inf distances, ties, and the ADC fold on a
  * residual query. The
  * oracle replays each of these, so a change here is a change to every
  * hashed ANN result.
  */
class QuantizerKernelSpec extends SparkSpecBase {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  test("a NaN-component vector assigns cid 0 with a NaN distance; an Inf-component one cid 0 with +Inf") {
    val df = vecs((0L, Seq(Float.NaN, 0f)), (1L, Seq(Float.PositiveInfinity, 0f)))
    val bc = IvfFunctions.broadcastCentroids(df, Array(Array(5.0, 5.0), Array(0.0, 0.0)))
    val rows = df.select(col("vec_id"),
        IvfFunctions.assignUdf(bc)(col("embedding")).as("cid"),
        IvfFunctions.assignWithDistUdf(bc)(col("embedding")).as("a"),
        IvfFunctions.probeUdf(bc, 2)(col("embedding")).as("p"))
      .orderBy("vec_id").collect()
    val Array(nan, inf) = rows
    assert(nan.getInt(1) == 0 && nan.getStruct(2).getInt(0) == 0)
    assert(nan.getStruct(2).getDouble(1).isNaN)
    assert(nan.getSeq[Int](3) == Seq(0, 1), "all-NaN distances rank by index")
    assert(inf.getInt(1) == 0 && inf.getStruct(2).getInt(0) == 0)
    assert(inf.getStruct(2).getDouble(1) == Double.PositiveInfinity)
    assert(inf.getSeq[Int](3) == Seq(0, 1), "all-+Inf distances rank by index")
  }

  test("a distance row mixing NaN and +Inf: assign keeps cid 0, probe(1) picks the +Inf centroid") {
    // d(v, c0) = NaN (NaN centroid component); d(v, c1) = +Inf (1e200² overflows)
    val table = Array(Array(Double.NaN, 0.0), Array(1e200, 0.0))
    val df = vecs((0L, Seq(0f, 0f)))
    val bc = IvfFunctions.broadcastCentroids(df, table)
    val r = df.select(IvfFunctions.assignUdf(bc)(col("embedding")),
      IvfFunctions.probeUdf(bc, 1)(col("embedding"))).head()
    assert(r.getInt(0) == 0, "strict < from Double.MaxValue: neither NaN nor +Inf wins")
    assert(r.getSeq[Int](1) == Seq(1), "Double.compare ranks +Inf ahead of NaN")
    // the kernels themselves, which every wrapper above calls
    assert(IvfFunctions.argmin(Array(0f, 0f), 0, table) == 0)
    assert(IvfFunctions.nearest(Array(0f, 0f), table, 2).toSeq == Seq(1, 0))
  }

  test("ties go to the lowest id in assign, probe and encode") {
    val df = vecs((0L, Seq(1f, 0f)), (1L, Seq(0.5f, 0.5f)))
    val bc = IvfFunctions.broadcastCentroids(df,
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)))
    val rows = df.select(col("vec_id"),
        IvfFunctions.assignUdf(bc)(col("embedding")),
        IvfFunctions.probeUdf(bc, 3)(col("embedding")))
      .orderBy("vec_id").collect()
    // vec 0 sits on the duplicated centroids 0 and 2
    assert(rows(0).getInt(1) == 0 && rows(0).getSeq[Int](2) == Seq(0, 2, 1))
    // vec 1 is equidistant from all three
    assert(rows(1).getInt(1) == 0 && rows(1).getSeq[Int](2) == Seq(0, 1, 2))
    // encode: every subspace's codebook repeats its nearest code
    val cb = Array.fill(PqFunctions.numSubspaces)(
      Array(Array.fill(PqFunctions.subDim)(9.0), Array.fill(PqFunctions.subDim)(1.0),
        Array.fill(PqFunctions.subDim)(1.0)))
    val v = vecs((0L, Seq.fill(64)(1f)))
    val codes = v.select(PqFunctions.encodeUdf(PqFunctions.broadcastCodebooks(v, cb))(
      col("embedding"))).head().getSeq[Int](0)
    assert(codes == Seq.fill(PqFunctions.numSubspaces)(1))
  }

  test("adcTable + adcFlat equal an in-test reference sum for a residual query") {
    val rnd = new scala.util.Random(11)
    val cb = Array.fill(PqFunctions.numSubspaces)(
      Array.fill(PqFunctions.codesPerSubspace)(Array.fill(PqFunctions.subDim)(rnd.nextGaussian())))
    val centroids = Array.fill(3)(Array.fill(64)(rnd.nextGaussian()))
    val q = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val codes = Seq.fill(PqFunctions.numSubspaces)(rnd.nextInt(PqFunctions.codesPerSubspace))
    val df = Seq((q, 2, codes)).toDF("q", "cid", "cs")
      .select(col("q").cast("array<float>").as("q"), col("cid"), col("cs"))
    val bcC = IvfFunctions.broadcastCentroids(df, centroids)
    val bcCb = PqFunctions.broadcastCodebooks(df, cb)
    val adc = df
      .withColumn("adct", PqFunctions.adcTableUdf(bcC, bcCb)(col("q"), col("cid")))
      .select(PqFunctions.adcFlatUdf(col("adct"), col("cs"))).head().getDouble(0)
    // reference: float residual, per-subspace fold, then the j-ascending sum
    val r = q.indices.map(i => (q(i).toDouble - centroids(2)(i)).toFloat)
    var expect = 0.0
    for (j <- 0 until PqFunctions.numSubspaces) {
      var sub = 0.0
      for (d <- 0 until PqFunctions.subDim) {
        val diff = r(j * 8 + d).toDouble - cb(j)(codes(j))(d)
        sub += diff * diff
      }
      expect += sub
    }
    assert(adc == expect)
  }
}
