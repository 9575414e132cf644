package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The native codegen fast_cosine expression vs the declarative
  * aggregate/zip_with form: must be BIT-identical (same sequential-sum
  * order) — it backs oracle-checked queries — and actually run inside
  * whole-stage codegen.
  */
class FastCosineSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val vecs = {
    val rng = new scala.util.Random(99)
    (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat),
        Seq.fill(64)(rng.nextGaussian().toFloat))
    }.toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
  }

  test("bit-identical to the declarative cosine on random vectors") {
    val out = vecs.select(
      ReferenceKernels.cosine(col("a"), col("b")).as("slow"),
      VectorFunctions.fastCosine(col("a"), col("b")).as("fast"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("zero vectors yield NULL (divide-by-zero guard) and nulls propagate") {
    val df = Seq(
      (Some(Seq(0f, 0f)), Some(Seq(1f, 2f))),
      (None, Some(Seq(1f, 2f))),
      (Some(Seq(1f, 0f)), Some(Seq(1f, 0f))))
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    val out = df.select(VectorFunctions.fastCosine(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 1.0)
  }

  test("unequal lengths: dot over the overlap, norms over full vectors (zip_with parity)") {
    // declarative zip_with pads with null and would nullify the dot —
    // equal-length is the data contract; the native form is defined to
    // truncate the dot and include full norms. Pin that behavior.
    val df = Seq((Seq(3f, 4f, 12f), Seq(3f, 4f)))
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    val got = df.select(VectorFunctions.fastCosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(got - 25.0 / (13.0 * 5.0)) < 1e-15)
  }

  test("runs inside whole-stage codegen (no interpreted fallback in the hot path)") {
    // a parquet-backed input — a local fixture would constant-fold into
    // a LocalTableScan and bypass codegen entirely
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val df = emb.select(
      VectorFunctions.fastCosine(col("embedding"), col("embedding")).as("c"))
      .filter(col("c") > 0.5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen stage:\n$plan")
    assert(plan.contains("fast_cosine"), plan)
  }

  test("SQL surface: expr and spark.sql can call fast_cosine") {
    vecs.createOrReplaceTempView("fc_vecs")
    val viaSql = spark.sql(
      "SELECT fast_cosine(a, b) AS c FROM fc_vecs ORDER BY id").collect()
    val viaCol = vecs.orderBy("id")
      .select(VectorFunctions.fastCosine(col("a"), col("b"))).collect()
    assert(viaSql.map(_.getDouble(0)).toSeq == viaCol.map(_.getDouble(0)).toSeq)
  }
}
