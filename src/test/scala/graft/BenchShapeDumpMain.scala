package graft

/** Manual plan inspector for the BENCH-shaped tree (not a CI test —
  * `Test/runMain graft.BenchShapeDumpMain <sfDir> <query>[,<query>...]`):
  * prints the formatted physical plan of `Bench.hashShape`, the
  * expression `Bench.materialize` times — xxhash64 over every output
  * column under a bit_xor aggregate — for named catalog queries. The
  * query's own plan (PlanDumpMain) can differ materially from the timed shape: an
  * aggregate on top lets Catalyst elide the final total-order sort, so
  * optimizing the sort of a query the bench never sorts would be
  * chasing a phantom. This dumper shows what the bench really pays.
  */
object BenchShapeDumpMain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q1_pricing_summary"))
    names.foreach { n =>
      val h = Bench.hashShape(SparkEntry.queries(n)(spark, sfDir))
      println(s"===== $n (bench shape) =====")
      println(h.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
