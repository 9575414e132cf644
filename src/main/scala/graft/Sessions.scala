package graft

import org.apache.spark.sql.SparkSession

/** Single place that knows how a graft session is configured, so every
  * entry point (Bench, Verify, jobs, tests) runs with identical
  * semantics:
  *
  *   - shuffle.partitions = cores (local runs; a cluster deploy would
  *     size this to 2-3× total cores or lean on AQE coalescing);
  *   - AQE on — runtime coalescing, skew-join splitting, and
  *     broadcast-join demotion/promotion are all 100 TB requirements;
  *   - UTC session timezone (oracle parity);
  *   - nanosAsLong: the events table is nanosecond-precision parquet,
  *     which the vectorized reader otherwise rejects. Set here at
  *     session build rather than mutated mid-read by a loader.
  *
  * A session built outside `Sessions` needs
  * `spark.sql.extensions=graft.expressions.GraftExtensions` for the
  * native SQL functions and planner rules.
  */
object Sessions {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expressions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // spill-awareness: explicit scan-split size so a cluster deploy
      // sizes input partitions deliberately (pairs with
      // shuffle.partitions above; AQE coalesces post-shuffle)
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // saveAsTable targets (bucketed tables) land under tmp, not CWD
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-spark-warehouse")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
