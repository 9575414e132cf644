package graft.serve

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.JsonFeatureSink

/** The reference's HTTP serving surface (src/api/main.py:1-27,
  * src/api/routes.py:9-141) as an offline-testable engine component:
  * three GET endpoints running the §2.6 production queries over the
  * parquet warehouse and returning GeoJSON FeatureCollections, behind
  * the same middleware semantics — gzip for bodies ≥ 1000 bytes
  * (main.py:21, GZipMiddleware minimum_size), CORS allow-origin
  * headers (main.py:11-18), a JSON `{"detail": …}` 500 on query
  * failure (routes.py:53-55), and a root health message.
  *
  * Endpoint semantics, each preserved from routes.py exactly:
  *  - `/api/food-gaps` (routes.py:9-56): ntas ⋈ food gaps at max
  *    year (the left-join-turned-inner quirk lives in
  *    [[NycQueries.foodGaps]]); with NO rows, Postgres `json_agg`
  *    yields SQL NULL and the endpoint returns literal `null` —
  *    reproduced here.
  *  - `/api/poverty-by-zip` (routes.py:58-104): the ONLY endpoint
  *    with an explicit empty-collection fallback (routes.py:95-97) —
  *    zero rows return `{"type":"FeatureCollection","features":[]}`.
  *  - `/api/rent-by-zip` (routes.py:106-141): like food-gaps, no
  *    fallback — empty result serves `null`.
  *
  * Serving model: Spark is the query engine the way Postgres is the
  * reference's — an endpoint's FeatureCollection renders ONCE (the
  * three real collections are 197/177/155 features) and the body
  * string memoizes for the server's lifetime, so steady-state
  * requests run zero Spark actions (the reference re-executes SQL
  * per request; this is our in-process equivalent of its preferred
  * static-export tier). Endpoint wiring is [[graft.jobs.Main.endpoints]]
  * + [[graft.jobs.Main.namedQuery]] — one definition shared with the
  * CLI and batch export, byte-parity pinned by ApiServerSpec. The
  * server is the JDK's built-in [[HttpServer]] — zero dependencies,
  * loopback bindable on an ephemeral port, so specs drive the full
  * HTTP path (gzip negotiation included) over a local socket. This
  * is a DRIVER-side serving shim for bounded collections: the 100 TB
  * serving path stays [[JsonFeatureSink.writeFeatureLines]] + a
  * static file tier, per SURVEY §3.3.
  */
final class ApiServer(
    spark: SparkSession,
    warehouseDir: String,
    allowedOrigins: Seq[String] = ApiServer.originsFromEnv()) {

  private val gzipMinBytes = 1000

  // Endpoint wiring lives in ONE place — graft.jobs.Main.endpoints and
  // namedQuery — so the HTTP body and the CLI/export payloads can never drift
  // (ApiServerSpec pins byte parity). Rendered bodies memoize per
  // endpoint: the frames are deterministic bounded collections for
  // the server's lifetime, so steady-state requests run ZERO Spark
  // actions (the reference re-executes SQL per request; our
  // equivalent of its static-export preference). A throwing render
  // (e.g. missing table) is NOT memoized — each request retries.
  private val bodyMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** FeatureCollection body, or the endpoint's empty-result value.
    * Postgres `json_agg` over zero rows is SQL NULL, but routes.py
    * nests it INSIDE json_build_object, so every endpoint serves
    * `{"type":"FeatureCollection","features":null}` when empty —
    * including poverty-by-zip: its routes.py:95-97 `if not result`
    * fallback is dead code (the one-row json_build_object dict is
    * always truthy), so the `features:[]` branch never runs there
    * either. The emptiness test is the row count of the same aggregate
    * that renders the body, so a cold render is one Spark job.
    */
  private def collectionBody(features: DataFrame): String = {
    val (body, n) = JsonFeatureSink.collectFeatures(features)
    if (n == 0) """{"type":"FeatureCollection","features":null}""" else body
  }

  private def endpointBody(name: String): String =
    bodyMemo.getOrElseUpdate(name,
      collectionBody(graft.jobs.Main.namedQuery(spark, warehouseDir, name)))

  private var server: Option[HttpServer] = None

  /** Bound port after [[start]] (pass port 0 for ephemeral). */
  def port: Int = server.map(_.getAddress.getPort)
    .getOrElse(throw new IllegalStateException("server not started"))

  def start(requestedPort: Int = 0): Int = synchronized {
    require(server.isEmpty, "already started")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", requestedPort), 0)
    s.createContext("/", handler(() => """{"message":"graft serving API"}"""))
    graft.jobs.Main.endpoints.foreach { case (name, _) =>
      s.createContext(s"/api/$name", handler(() => endpointBody(name)))
    }
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
    bodyMemo.clear()
  }

  /** One middleware stack per route: render → 200 JSON, gzip when the
    * client accepts it AND the body clears the 1000-byte minimum
    * (GZipMiddleware semantics — small bodies ship identity-encoded
    * even to gzip-capable clients); any failure → 500 with the
    * HTTPException `{"detail": …}` shape.
    */
  private def handler(body: () => String): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      val (status, bytes) =
        try (200, body().getBytes(UTF_8))
        catch {
          case e: Exception =>
            (500, s"""{"detail":${JsonFeatureSink.jsonString(
              Option(e.getMessage).getOrElse(e.getClass.getName))}}"""
              .getBytes(UTF_8))
        }
      val headers = ex.getResponseHeaders
      headers.set("Content-Type", "application/json")
      corsOrigin(ex).foreach { o =>
        headers.set("Access-Control-Allow-Origin", o)
        headers.set("Access-Control-Allow-Credentials", "true")
      }
      val acceptsGzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
        .exists(_.toLowerCase.split(",").map(_.trim.takeWhile(_ != ';'))
          .contains("gzip"))
      val out =
        if (status == 200 && acceptsGzip && bytes.length >= gzipMinBytes) {
          headers.set("Content-Encoding", "gzip")
          val bos = new ByteArrayOutputStream()
          val gz = new GZIPOutputStream(bos)
          gz.write(bytes); gz.close()
          bos.toByteArray
        } else bytes
      ex.sendResponseHeaders(status, out.length.toLong)
      val os = ex.getResponseBody
      try os.write(out) finally os.close()
    }

  /** CORS: echo the request Origin back only when allow-listed
    * (main.py:9-18 — origins come from configuration, not `*`).
    */
  private def corsOrigin(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Origin"))
      .filter(allowedOrigins.contains)
}

object ApiServer {
  /** CORS allow-list from configuration, replicating main.py:8 —
    * `os.getenv("ALLOWED_ORIGINS", "http://localhost:5173").split(",")`
    * — including its quirks: a plain comma split (no trimming), and an
    * empty env value yielding the one-empty-string list (which allows
    * nothing, since a real Origin header is never empty).
    */
  def originsFromEnv(env: Map[String, String] = sys.env): Seq[String] =
    env.getOrElse("ALLOWED_ORIGINS", "http://localhost:5173")
      .split(",", -1).toSeq
}
