package graft.jobs

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.catalog.Registry
import graft.queries.{NycQueries, PipelineQ}
import graft.sink.{JsonFeatureSink, ShardSink}
import graft.sources.Tables
import graft.sources.connectors.{HttpClient, RetryingClient, SodaConnector}
import graft.sources.soda.SodaHttp
import graft.transform.Transformers

/** CLI entry points mirroring the reference's scripts AND its serving
  * layer (scripts/ingest_data.py --dataset <key> [--filter <json>]
  * [--dry-run]; scripts/export_static_data.py; src/api/routes.py):
  *
  * {{{
  * runMain graft.jobs.Main ingest <key> <rawParquet> <warehouseDir> [--dry-run] [--zips <file>] [--registry <dir>]
  * runMain graft.jobs.Main ingest-soda <key> <warehouseDir> [--filter <json>] [--dry-run] [--zips <file>]
  * runMain graft.jobs.Main ingest-all <rawDir> <warehouseDir> [--zips <file>]
  * runMain graft.jobs.Main export <warehouseDir> <outDir>
  * runMain graft.jobs.Main curate <sfDir> <shardOutDir>
  * runMain graft.jobs.Main sql <warehouseDir> "<statement>"
  * runMain graft.jobs.Main query <warehouseDir> <food-gaps|poverty-by-zip|rent-by-zip>
  * }}}
  *
  * The reference's reflection-loaded transformer classes
  * (parser.py:29-46) become this explicit key→chain map. ZIP membership
  * lists (src/constants.py NYC_ZIP_CODES) arrive via `--zips <file>`
  * (one ZIP per line) rather than a baked-in constant.
  *
  * `ingest-all` loops every enabled dataset with per-dataset failure
  * isolation (ingest_data.py:180-210): one dataset's error doesn't
  * stop the others.
  *
  * `sql` / `query` are the interactive counterpart to the FastAPI
  * serving layer (SURVEY §3.2 "Interactive mode = spark.sql on cached
  * temp views"): every warehouse table registers as a temp view and
  * ad-hoc SQL runs against them; `query` serves the three named
  * endpoint queries (routes.py:23-46, 63-87, 109-129) as a
  * FeatureCollection on stdout, exactly the payload the HTTP routes
  * return.
  */
object Main {

  /** key → transformer chain (needs the session-independent params). */
  def transformerFor(key: String, zips: Seq[String]): DataFrame => DataFrame =
    key match {
      case "food_supply_gap" =>
        // SODA arrival order drives keep-last: stamp ingest order at read
        df => Transformers.foodSupplyGap(Seq(col("__ingest_order")))(
          df.withColumn("__ingest_order", monotonically_increasing_id()))
            .drop("__ingest_order")
      case "census_acs" => Transformers.censusAcs()
      case "ntas_2020" => Transformers.ntas2020
      case "census_zctas_2020" =>
        require(zips.nonEmpty, s"$key needs --zips <file> (NYC ZIP membership list)")
        Transformers.censusZctas2020(zips)
      case "zillow_zori" =>
        require(zips.nonEmpty, s"$key needs --zips <file>")
        Transformers.zillowZori(zips)
      case other =>
        throw new IllegalArgumentException(
          s"unknown dataset '$other' (known: ${Registry.all.keys.mkString(", ")})")
    }

  /** Transformer resolution for YAML-registered datasets: the
    * reference loads `transformer_class` by reflection
    * (parser.py:29-46); here the class path resolves by NAME to the
    * compiled chain when one exists, and to the config-driven
    * [[Transformers.generic]] chain otherwise — which is what lets a
    * dataset defined ONLY in YAML ingest end-to-end with no recompile.
    */
  def transformerForClass(transformerClass: String,
                          spec: graft.catalog.DatasetSpec,
                          zips: Seq[String]): DataFrame => DataFrame = {
    val simple = transformerClass.split('.').lastOption.getOrElse("")
    simple match {
      case "FoodSupplyGapTransformer" => transformerFor("food_supply_gap", zips)
      case "CensusACSTransformer" => transformerFor("census_acs", zips)
      case "Ntas2020Transformer" => transformerFor("ntas_2020", zips)
      case "CensusZctas2020Transformer" => transformerFor("census_zctas_2020", zips)
      case "ZillowZoriTransformer" => transformerFor("zillow_zori", zips)
      case _ =>
        // config-only dataset: generic chain, ingest-order-stamped
        // dedup like the compiled chains (pandas keep='last' parity)
        df => Transformers.generic(spec, Seq(col("__ingest_order")))(
          df.withColumn("__ingest_order", monotonically_increasing_id()))
            .drop("__ingest_order")
    }
  }

  /** Resolve a dataset key against the optional YAML registry first
    * (runtime extension point), then the compiled [[Registry]].
    */
  def resolveDataset(key: String, registryDir: Option[String],
                     zips: Seq[String]): (graft.catalog.DatasetSpec, DataFrame => DataFrame) =
    registryDir.flatMap(dir => graft.catalog.YamlRegistry.load(dir).get(key)) match {
      case Some(entry) =>
        (entry.spec, transformerForClass(entry.transformerClass, entry.spec, zips))
      case None =>
        val spec = Registry.all.getOrElse(key,
          throw new IllegalArgumentException(s"unknown dataset '$key'"))
        (spec, transformerFor(key, zips))
    }

  def ingest(spark: SparkSession, key: String, rawPath: String,
             warehouse: String, dryRun: Boolean, zips: Seq[String],
             registryDir: Option[String] = None): IngestJob.Result = {
    val (spec, chain) = resolveDataset(key, registryDir, zips)
    val raw = spark.read.option("header", "true")
      .format(if (rawPath.endsWith(".csv")) "csv" else "parquet")
      .load(rawPath)
    IngestJob.run(spark, spec, raw, chain, warehouse, dryRun)
  }

  /** `--filter '{"col": value, …}'` — the reference's filter contract
    * (ingest_data.py:271-277: a flat JSON object, json.loads'd, handed
    * to the fetcher which compiles it to a SoQL WHERE). Scalars only;
    * nested values are rejected the way invalid JSON is.
    */
  def parseFilterJson(json: String): Map[String, Any] = {
    val root =
      try new ObjectMapper().readTree(json)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"invalid filter JSON: ${e.getMessage}")
      }
    require(root != null && root.isObject, s"filter must be a JSON object, got: $json")
    root.fields().asScala.map { e =>
      val v = e.getValue
      val value: Any =
        if (v.isTextual) v.asText()
        else if (v.isIntegralNumber) v.asLong()
        else if (v.isFloatingPointNumber) v.asDouble()
        else if (v.isBoolean) v.asBoolean()
        else throw new IllegalArgumentException(
          s"filter values must be scalars; '${e.getKey}' is ${v.getNodeType}")
      e.getKey -> value
    }.toMap
  }

  /** Live-API ingest (ingest_data.py's real path): fetch the dataset's
    * pages through the SODA connector — `filters` compiles to the SoQL
    * WHERE (S2 pushdown, SodaConnector.buildSoql) so filtering happens
    * server-side, not post-download — then the same transform →
    * validate → upsert pipeline as file ingest. The HTTP client is
    * injectable for tests (per-JVM binding, SodaHttp.client).
    */
  def ingestSoda(spark: SparkSession, key: String, warehouse: String,
                 dryRun: Boolean, zips: Seq[String], filters: Map[String, Any],
                 client: HttpClient = SodaHttp.client): IngestJob.Result = {
    val spec = Registry.all.getOrElse(key,
      throw new IllegalArgumentException(s"unknown dataset '$key'"))
    require(spec.sourceType == "socrata",
      s"--filter/ingest-soda applies to socrata datasets; '$key' is ${spec.sourceType}")
    val connector = new SodaConnector(new RetryingClient(client))
    val raw = connector.fetch(spark, spec.datasetId, filters)
    IngestJob.run(spark, spec, raw, transformerFor(key, zips), warehouse, dryRun)
  }

  /** Register every table under a directory as a temp view (the
    * serving layer's session setup); returns the view names. Handles
    * both on-disk layouts: warehouse table DIRECTORIES (ingest output)
    * and flat `<table>.parquet` FILES (the benchmark sf dirs), so the
    * whole catalog — events/documents/embeddings included — is
    * queryable interactively with `Main sql <sfDir> "..."`. An
    * `events` table with a `ts` column goes through
    * [[graft.sources.Tables.normalizeTs]], the same physical-shape
    * normalization every engine query gets.
    */
  def registerWarehouse(spark: SparkSession, warehouseDir: String): Seq[String] = {
    val dir = new java.io.File(warehouseDir)
    require(dir.isDirectory, s"warehouse dir not found: $warehouseDir")
    val entries = dir.listFiles()
    val tables = (entries.filter(_.isDirectory).map(f => f.getName -> f.getPath) ++
      entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName.stripSuffix(".parquet") -> f.getPath))
      .sortBy(_._1).toSeq
    tables.foreach { case (t, path) =>
      val raw = spark.read.parquet(path)
      val df = if (t == "events" && raw.columns.contains("ts"))
        graft.sources.Tables.normalizeTs(raw) else raw
      df.createOrReplaceTempView(t)
    }
    tables.map(_._1)
  }

  /** Ad-hoc SQL over the warehouse (the FastAPI layer's per-request
    * `conn.execute(text(sql))`, SURVEY §3.2): plain `spark.sql` against
    * the registered views — Catalyst plans it, so pushdown/pruning over
    * the parquet tables apply as usual.
    */
  def sqlOverWarehouse(spark: SparkSession, warehouseDir: String,
                       statement: String): DataFrame = {
    registerWarehouse(spark, warehouseDir)
    spark.sql(statement)
  }

  /** The three serving endpoints (routes.py) and the static file each
    * one exports to (export_static_data.py:118-151). [[ExportJob]] and
    * [[graft.serve.ApiServer]] both iterate this list through
    * [[namedQuery]], so the files and the HTTP bodies cannot drift.
    */
  val endpoints: Seq[(String, String)] = Seq(
    "food-gaps" -> "food_gaps.json",
    "poverty-by-zip" -> "poverty_by_zip.json",
    "rent-by-zip" -> "rent_by_zip.json")

  /** The three named serving queries (routes.py endpoints) over a
    * warehouse — returns the per-feature frame; the CLI wraps it into
    * the FeatureCollection payload the HTTP route returns.
    */
  def namedQuery(spark: SparkSession, warehouseDir: String, name: String): DataFrame = {
    def table(n: String): DataFrame = spark.read.parquet(s"$warehouseDir/$n")
    name match {
      case "food-gaps" =>
        NycQueries.foodGaps(table("ntas_2020"), table("food_supply_gaps"))
      case "poverty-by-zip" =>
        NycQueries.povertyByZip(table("census_zctas_2020"),
          table("census_acs_income_poverty"))
      case "rent-by-zip" =>
        NycQueries.rentByZip(table("census_zctas_2020"), table("zillow_zori"))
      case other => throw new IllegalArgumentException(
        s"unknown query '$other' (known: ${endpoints.map(_._1).mkString(", ")})")
    }
  }

  /** End-to-end curation deliverable: run the oracle-gated
    * normalize→quality→dedup→pack pipeline (q_doc_curate) over
    * `sfDir/documents.parquet`, re-attach the NORMALIZED text payload
    * (what a training loader should see, not the raw bytes), and
    * materialize one parquet file per token-budget shard. Returns
    * (documents written, shard count), both read back from the output
    * so the numbers certify the files on disk, not the plan.
    */
  def curate(spark: SparkSession, sfDir: String, outDir: String): (Long, Long) = {
    val packed = SparkEntry.queries("q_doc_curate")(spark, sfDir)
    val text = Tables.documents(spark, sfDir)
      .select(col("doc_id"), PipelineQ.normText(col("text")).as("text"))
    val curated = packed.join(text, "doc_id")
    ShardSink.writeShards(curated, outDir)
    // the loader-side bookkeeping, computed from the READ-BACK of the
    // written tree: the fingerprint certifies the files on disk, not a
    // recomputation of the (uncached) pipeline (ShardSinkSpec)
    val back = spark.read.parquet(outDir)
    ShardSink.writeManifest(back, outDir)
    // shard key is (split, shard_id): shard sequences restart per split
    val r = back.agg(count(lit(1)),
      countDistinct(col("split"), col("shard_id"))).head
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    var dryRun = false
    var zips: Seq[String] = Nil
    var filters: Map[String, Any] = Map.empty
    var registryDir: Option[String] = None
    val positional = List.newBuilder[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dry-run" => dryRun = true; i += 1
        case "--zips" =>
          zips = Files.readAllLines(Paths.get(args(i + 1))).asScala.toSeq
            .map(_.trim).filter(_.nonEmpty)
          i += 2
        case "--filter" =>
          filters = parseFilterJson(args(i + 1))
          i += 2
        case "--registry" =>
          registryDir = Some(args(i + 1)); i += 2
        case a => positional += a; i += 1
      }
    }

    val spark = Sessions.local()
    try positional.result() match {
      case "ingest" :: key :: rawPath :: warehouse :: Nil =>
        val r = ingest(spark, key, rawPath, warehouse, dryRun, zips, registryDir)
        println(s"[ingest] ${r.datasetKey}: ${r.recordCount} rows -> ${r.tableDir} " +
          s"(validation ok=${r.report.ok})")
      case "ingest-soda" :: key :: warehouse :: Nil =>
        val r = ingestSoda(spark, key, warehouse, dryRun, zips, filters)
        println(s"[ingest-soda] ${r.datasetKey}: ${r.recordCount} rows -> ${r.tableDir} " +
          s"(validation ok=${r.report.ok})")
      case "ingest-all" :: rawDir :: warehouse :: Nil =>
        Registry.all.keys.toSeq.sorted.foreach { key =>
          try {
            val r = ingest(spark, key, s"$rawDir/$key.parquet", warehouse, dryRun, zips)
            println(s"[ingest] $key: ${r.recordCount} rows")
          } catch {
            case e: Exception =>
              // per-dataset isolation (ingest_data.py:180-210)
              System.err.println(s"[ingest] $key FAILED: ${e.getMessage}")
          }
        }
      case "export" :: warehouse :: outDir :: Nil =>
        val counts = ExportJob.run(spark, warehouse, outDir)
        counts.toSeq.sortBy(_._1).foreach { case (f, n) =>
          println(s"[export] $f: $n features")
        }
      case "curate" :: sfDir :: outDir :: Nil =>
        val (docs, shards) = curate(spark, sfDir, outDir)
        println(s"[curate] $docs documents -> $shards shards in $outDir")
      case "sql" :: warehouse :: statement :: Nil =>
        // ad-hoc serving: rows stream out as JSON lines, capped like
        // any sane API page; the cap is visible so nothing truncates
        // silently
        val df = sqlOverWarehouse(spark, warehouse, statement)
        val maxRows = 1000
        val rows = df.toJSON.take(maxRows + 1)
        rows.take(maxRows).foreach(println)
        if (rows.length > maxRows)
          System.err.println(s"[sql] output truncated at $maxRows rows")
      case "query" :: warehouse :: name :: Nil =>
        // the HTTP endpoint payload, verbatim: one FeatureCollection
        println(JsonFeatureSink.featureCollection(namedQuery(spark, warehouse, name)))
      case "serve" :: warehouse :: rest
          if rest.length <= 1 && rest.forall(_.toIntOption.isDefined) =>
        // the reference's `uvicorn src.api.main:app` (README.md):
        // blocks serving the three endpoints until the process is
        // killed; port 0 = ephemeral (printed for the caller)
        val requested = rest.headOption.flatMap(_.toIntOption).getOrElse(8000)
        val server = new graft.serve.ApiServer(spark, warehouse)
        val port = server.start(requested)
        println(s"[serve] listening on http://127.0.0.1:$port " +
          s"(endpoints: ${endpoints.map("/api/" + _._1).mkString(" ")})")
        val lock = new Object
        // loop: Object.wait permits spurious wakeups, and falling out
        // of this arm would hit the finally's spark.stop() and tear
        // the server down while the operator believes it is serving
        lock.synchronized { while (true) lock.wait() }
      case other =>
        System.err.println(
          s"""usage: ingest <key> <rawPath> <warehouseDir> [--dry-run] [--zips <file>]
             |       ingest-soda <key> <warehouseDir> [--filter <json>] [--dry-run] [--zips <file>]
             |       ingest-all <rawDir> <warehouseDir> [--zips <file>]
             |       export <warehouseDir> <outDir>
             |       curate <sfDir> <shardOutDir>
             |       sql <warehouseDir> "<statement>"
             |       query <warehouseDir> <food-gaps|poverty-by-zip|rent-by-zip>
             |       serve <warehouseDir> [port]
             |got: ${other.mkString(" ")}""".stripMargin)
        sys.exit(2)
    } finally spark.stop()
  }
}
