package perfbench

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The paper's product path on generated NYC raw inputs: fresh ingest of
  * all five datasets, refresh ingest of the datasets that have a next
  * vintage (the upsert merge path into the existing tables), batch export,
  * then the HTTP API: the first GET of each endpoint,
  * and a fixed number of warm GETs from `cores` closed-loop clients, spread
  * evenly over the endpoints, half of them asking for gzip.
  */
object Nyc {
  val endpoints: Seq[(String, String)] = Seq(
    "food-gaps" -> "food_gaps.json",
    "poverty-by-zip" -> "poverty_by_zip.json",
    "rent-by-zip" -> "rent_by_zip.json")

  /** Field order of one warm-request record. */
  val requestFields: Seq[String] =
    Seq("endpoint", "gzip", "start_ms", "latency_ms", "status", "ok", "bytes")

  /** Warm GETs per run: a fixed count, so the tail percentile the
    * benchmark reports (the highest with ten samples beyond it) is the same
    * percentile on every run however fast the server is; 10 per endpoint
    * and encoding. `--seconds` caps the loop's length.
    */
  val warmRequests = 60

  def run(spark: SparkSession, rec: Recorder, data: String, cores: Int,
          seconds: Double): Map[String, Any] = {
    val zips = Files.readAllLines(Paths.get(s"$data/nyc_zips.txt")).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    val warehouse = s"$data/warehouse"
    val exportDir = s"$data/export"
    val keys = graft.catalog.Registry.all.keys.toSeq.sorted
    System.gc()
    val readyMs = rec.nowMs
    val cpu0 = Harness.processCpuS()

    def ingestAll(phase: String): Seq[Map[String, Any]] =
      keys.filter(k => Files.exists(Paths.get(s"$data/$phase/$k.parquet"))).map { key =>
        rec.op(s"$phase:$key", "jobs") { _ =>
          val r = graft.jobs.Main.ingest(spark, key, s"$data/$phase/$key.parquet", warehouse,
            dryRun = false, zips)
          Map("rows" -> r.report.rowCount,
            "missing_required" -> r.report.missingRequired,
            "duplicate_key_rows" -> r.report.duplicateKeyRows,
            "range" -> r.report.rangeViolations.map(v =>
              Map("column" -> v.column, "below" -> v.belowMin, "above" -> v.aboveMax)))
        } + ("dataset" -> key) + ("phase" -> phase)
      }
    val ingests = ingestAll("fresh") ++ ingestAll("refresh")
    val export = rec.op("export", "jobs") { _ =>
      Map("counts" -> graft.jobs.ExportJob.run(spark, warehouse, exportDir))
    }
    val batchEnd = rec.nowMs
    val batchCpu = Harness.processCpuS() - cpu0

    val serve =
      if (export("ok") == true) serveAll(spark, rec, warehouse, exportDir, cores,
        seconds * 1000.0)
      else Map.empty[String, Any]
    Map("ready_ms" -> readyMs, "batch_start_ms" -> readyMs, "batch_end_ms" -> batchEnd,
      "batch_cpu_s" -> batchCpu, "ingests" -> ingests, "export" -> export,
      "export_dir" -> exportDir) ++ serve
  }

  private def serveAll(spark: SparkSession, rec: Recorder, warehouse: String,
                       exportDir: String, cores: Int, capMs: Double): Map[String, Any] = {
    val expected = endpoints.map { case (ep, file) =>
      ep -> Files.readAllBytes(Paths.get(s"$exportDir/$file"))
    }.toMap
    val server = new graft.serve.ApiServer(spark, warehouse)
    val port = server.start(0)
    try {
      val cold = endpoints.map { case (ep, _) =>
        rec.op(s"serve_cold:$ep", "serve") { _ =>
          val (status, body, encoding) = get(port, ep, gzip = false)
          require(status == 200, s"HTTP $status")
          require(encoding == "identity", s"unexpected encoding $encoding")
          require(java.util.Arrays.equals(body, expected(ep)), "body differs from the export file")
          Map("bytes" -> body.length)
        } + ("endpoint" -> ep)
      }
      // one verified body per (endpoint, encoding); every later response
      // must equal it byte for byte (gzip output is deterministic)
      val verified = new ConcurrentHashMap[(Int, Boolean), Array[Byte]]()
      def check(e: Int, gzip: Boolean, status: Int, body: Array[Byte], encoding: String): Boolean =
        status == 200 && encoding == (if (gzip) "gzip" else "identity") && {
          val ref = verified.get((e, gzip))
          if (ref != null) java.util.Arrays.equals(ref, body)
          else {
            val plain = if (gzip) gunzip(body) else body
            val ok = java.util.Arrays.equals(plain, expected(endpoints(e)._1))
            if (ok) verified.putIfAbsent((e, gzip), body)
            ok
          }
        }
      val warmStart = rec.nowMs
      val warmEnd = warmStart + capMs
      val perClient = (0 until cores).map { t =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
        val thread = new Thread(() => {
          var k = t
          while (k < warmRequests && rec.nowMs < warmEnd) {
            val e = k % endpoints.size
            val gzip = (k / endpoints.size) % 2 == 1
            val start = rec.nowMs
            val (status, body, encoding) =
              try get(port, endpoints(e)._1, gzip)
              catch { case _: java.io.IOException => (-1, Array.emptyByteArray, "") }
            val latency = rec.nowMs - start
            val ok = check(e, gzip, status, body, encoding)
            out += Seq(e.toDouble, if (gzip) 1.0 else 0.0, start, latency, status.toDouble,
              if (ok) 1.0 else 0.0, body.length.toDouble)
            k += cores
          }
        })
        thread.start()
        (thread, out)
      }
      perClient.foreach(_._1.join())
      val gzipBytes = endpoints.indices.map(e =>
        Option(verified.get((e, true))).map(_.length).getOrElse(0))
      Map("serve_cold" -> cold, "warm_start_ms" -> warmStart, "warm_end_ms" -> rec.nowMs,
        "warm_requests" -> warmRequests, "request_fields" -> requestFields,
        "requests" -> perClient.flatMap(_._2),
        "identity_bytes" -> endpoints.map(ep => expected(ep._1).length),
        "gzip_bytes" -> gzipBytes)
    } finally server.stop()
  }

  def get(port: Int, endpoint: String, gzip: Boolean): (Int, Array[Byte], String) = {
    val c = URI.create(s"http://127.0.0.1:$port/api/$endpoint").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(30000)
    c.setRequestProperty("Accept-Encoding", if (gzip) "gzip" else "identity")
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = try in.readAllBytes() finally in.close()
    (status, body, Option(c.getHeaderField("Content-Encoding")).getOrElse("identity"))
  }

  private def gunzip(b: Array[Byte]): Array[Byte] =
    try new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes()
    catch { case _: java.io.IOException => Array.emptyByteArray }
}
