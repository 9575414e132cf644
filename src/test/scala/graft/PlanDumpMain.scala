package graft

/** Manual plan inspector (not a CI test — `Test/runMain graft.PlanDumpMain
  * <sfDir> <query>[,<query>...]`): prints the formatted physical plan of
  * named catalog queries without executing them, for shuffle/reuse audits
  * at amplified SFs where running the query first would take minutes.
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val base = Sessions.local()
    base.sparkContext.setLogLevel("ERROR")
    // --no-aqe reproduces the CatalogPlanLintSpec session: the static
    // plan is the scale contract, and AQE's wrapper hides the tree
    val noAqe = args.contains("--no-aqe")
    val spark = if (noAqe) {
      val s = base.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s
    } else base
    val rest = args.filterNot(_ == "--no-aqe")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = rest.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q1_pricing_summary"))
    names.foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    base.stop()
  }
}
