package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The native codegen lsh_band_keys expression vs the UDF form: must be
  * BIT-identical for both tuning configs (it feeds every LSH candidate
  * join — ANN and embedding near-dup), and must actually run inside
  * whole-stage codegen, which is the point of promoting it.
  */
class LshBandKeysFastSpec extends SparkSpecBase {

  private lazy val emb = graft.sources.Tables.embeddings(spark, sfDir)

  private def keysOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Int])] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq.sortBy(_._1)

  test("bit-identical to the UDF for the ANN config (16 bands x 4 planes)") {
    val udfKeys = keysOf(emb.select(col("vec_id"),
      ReferenceKernels.lshBandKeys(VectorFunctions.lshBands,
        VectorFunctions.lshRowsPerBand)(col("embedding")).as("k")))
    val natKeys = keysOf(emb.select(col("vec_id"),
      VectorFunctions.fastLshBandKeys(col("embedding")).as("k")))
    assert(udfKeys == natKeys)
  }

  test("bit-identical to the UDF for the near-dup config (8 bands x 8 planes)") {
    val udfKeys = keysOf(emb.select(col("vec_id"),
      ReferenceKernels.lshBandKeys(bands = 8, rowsPerBand = 8)(col("embedding")).as("k")))
    val natKeys = keysOf(emb.select(col("vec_id"),
      VectorFunctions.fastLshBandKeys(col("embedding"), bands = 8, rowsPerBand = 8).as("k")))
    assert(udfKeys == natKeys)
  }

  test("band index is recoverable from the key (band << r | bits layout)") {
    val keys = keysOf(emb.limit(50).select(col("vec_id"),
      VectorFunctions.fastLshBandKeys(col("embedding")).as("k")))
    keys.foreach { case (_, ks) =>
      assert(ks.length == VectorFunctions.lshBands)
      ks.zipWithIndex.foreach { case (k, band) =>
        assert(k >> VectorFunctions.lshRowsPerBand == band)
      }
    }
  }

  test("NULL embedding yields NULL keys") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq(1f, 2f)), 0), (2L, None, 0)).toDF("id", "v", "pad")
      .select(col("id"), col("v").cast("array<float>").as("v"))
      .select(col("id"), VectorFunctions.fastLshBandKeys(col("v")).as("k"))
    val rows = df.orderBy("id").collect()
    assert(!rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1))
  }

  test("runs inside whole-stage codegen (no ScalaUDF in the hot path)") {
    val df = emb.select(col("vec_id"),
      explode(VectorFunctions.fastLshBandKeys(col("embedding"))).as("bk"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen stage:\n$plan")
    assert(plan.contains("lsh_band_keys"), plan)
    assert(!plan.contains("lshBandKeys"), s"UDF must not appear:\n$plan")
  }

  test("SQL surface rejects plane-budget violations at analysis time") {
    import spark.implicits._
    Seq((1L, Seq(1f, 2f))).toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
      .createOrReplaceTempView("lsh_guard_t")
    // 32 bands x 4 rows = 128 planes > the 64-plane budget: must fail
    // during analysis with the contract message, not die later with a
    // bare ArrayIndexOutOfBoundsException inside generated code
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT lsh_band_keys(v, 32, 4) FROM lsh_guard_t").collect()
    }
    assert(ex.getMessage.contains("bands * rows_per_band"), ex.getMessage)
    spark.catalog.dropTempView("lsh_guard_t")
  }
}
