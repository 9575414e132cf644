package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The JVM side of the benchmark: runs one workload against the graft
  * library and writes what it observed (operation times, outputs, and in a
  * traced run every span, Spark job, stage, task and query execution) to
  * one JSON file. It judges nothing: checks, percentiles and per-layer sums
  * are computed by `perfbench/run.py` from that file.
  *
  * {{{
  * perfbench.Harness --workload <catalog|nyc_pipeline>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n>
  *   --data <inputs dir> --out <result json>
  * }}}
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts("cores").toInt
    val rec = new Recorder(trace = opts("trace") == "1")
    val mainMs = rec.nowMs
    val spark = graft.Sessions.builder(cores.toString)
      .config("spark.local.dir", s"${System.getProperty("java.io.tmpdir")}/spark-local")
      .getOrCreate()
    val sparkMs = rec.nowMs
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    if (rec.trace) Tracer.install(spark, rec)
    val sessionMs = rec.nowMs

    val result: Map[String, Any] = workload match {
      case "catalog" =>
        Catalog.run(spark, rec, opts("data"), opts("seed").toLong)
      case "nyc_pipeline" =>
        Nyc.run(spark, rec, opts("data"), cores, opts("seconds").toDouble)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val frames = graft.queries.SharedFrames.buildLog(spark).map {
      case (key, sec, query, bytes, phase) =>
        Map("key" -> key, "sec" -> sec, "query" -> query, "bytes" -> bytes, "phase" -> phase)
    }
    rec.drain(spark)
    val out = result ++ Map(
      "workload" -> workload,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_ms" -> mainMs, "spark_ms" -> sparkMs, "session_ms" -> sessionMs,
      "peak_rss_mb" -> peakRssMb(),
      "shared_frames" -> frames) ++ rec.dump()
    graft.queries.SharedFrames.clear(spark)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opts("out")), out)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** CPU time this process has used, in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def errorOf(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).foldLeft(t)((_, c) => c)
    (root.getClass.getSimpleName + ": " +
      Option(root.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300)
  }
}

/** The catalog workload: one closed-loop client runs a fixed sample of the
  * query catalog once, in an order the seed permutes.
  */
object Catalog {
  import graft.SparkEntry
  import graft.queries._

  /** Every tenth query of the catalog, in the library's own catalog order,
    * starting with the first: 24 of the 237, 12 from each family. A full
    * pass takes about three minutes on 4 cores even on this small corpus,
    * more than the benchmark's per-run budget allows.
    */
  val stride = 10
  val offset = 0

  /** Queries of UDF kernels, model training and driver loops over the
    * document and embedding corpus; the rest are scan/join/aggregate/window
    * plans.
    */
  val corpusFamily: Set[String] =
    (TextQ.all ++ SimilarityQ.all ++ PipelineQ.all ++ MultimodalQ.all ++ BpeQ.all)
      .map(_.name).toSet

  val sample: Seq[Q] =
    SparkEntry.catalog.zipWithIndex.collect { case (q, i) if i % stride == offset => q }

  /** Row count and the order-independent content hash of `graft.Bench`
    * (bit_xor of xxhash64 over every column), in one job.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
    val r = h.agg(expr("bit_xor(__h)"), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** JVM, JIT and codegen warm-up, paid once per process and so part of
    * set-up: scan, hash, join, aggregate, window, sort and explode over the
    * corpus tables, without touching any query's memoized frames. With only
    * a scan as warm-up, the first five queries of a pass took 1.7 times
    * their usual time and the next five 1.2 times, so which queries the seed
    * put first moved the pass's median.
    */
  def warmUp(spark: SparkSession, data: String): Unit = {
    import graft.sources.Tables
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, data)
    fingerprint(Tables.lineitem(spark, data))
    fingerprint(orders.join(Tables.customer(spark, data), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(sum("o_totalprice"), count(lit(1))).orderBy("c_mktsegment"))
    fingerprint(orders.withColumn("rn", row_number().over(
      Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc))).filter(col("rn") === 1))
    fingerprint(Tables.documents(spark, data)
      .select(explode(split(col("text"), " ")).as("w")).groupBy("w").count()
      .orderBy(col("count").desc).limit(10))
    fingerprint(Tables.events(spark, data)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d")).agg(avg("value")))
  }

  def run(spark: SparkSession, rec: Recorder, data: String, seed: Long): Map[String, Any] = {
    val order = new scala.util.Random(seed).shuffle(sample)
    warmUp(spark, data)
    System.gc()
    val readyMs = rec.nowMs
    val cpu0 = Harness.processCpuS()
    val records = order.map { q =>
      graft.queries.SharedFrames.setContext(q.name)
      rec.op(s"query:${q.name}", "queries") { op =>
        val built = rec.span(op, "build", "queries") { q.fn(spark, data) }
        val (hash, rows) = rec.span(op, "materialize", "queries") { fingerprint(built) }
        spark.catalog.clearCache()
        Map("hash" -> hash.toString, "rows" -> rows)
      } + ("name" -> q.name) + ("family" -> (if (corpusFamily(q.name)) "corpus" else "sql"))
    }
    val batchEnd = rec.nowMs
    Map("ready_ms" -> readyMs, "batch_start_ms" -> readyMs, "batch_end_ms" -> batchEnd,
      "batch_cpu_s" -> (Harness.processCpuS() - cpu0),
      "catalog_size" -> SparkEntry.catalog.size, "queries" -> records)
  }
}
