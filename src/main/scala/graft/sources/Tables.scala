package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated benchmark tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst's vectorized reader, predicate
  * pushdown and column pruning all apply; at cluster scale the same
  * paths would simply point at partitioned directories and nothing
  * here changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Relation-resolution memo (r14, guide §1/§6): `spark.read.parquet`
    * pays ~80–130 ms of driver-side work per call (fresh
    * InMemoryFileIndex listing + a synchronous footer read for schema
    * inference), and every catalog query fn re-resolves each table on
    * every invocation — twice per query in the bench's min-of-two. The
    * r14 driver run sized the catalog-wide saving at ~4–6 s at sf0.1
    * (the original "~18 s" estimate double-counted resolves that AQE
    * reuse already shared; corrected per the r14 verdict). The memo
    * returns the SAME
    * unresolved relation (metadata only: listing + schema — exactly what
    * a metastore entry is; no rows are cached and every materialization
    * still scans the parquet), keyed by a CONTENT SIGNATURE of the path
    * — (size, mtime) for a file, the RECURSIVE leaf-file (relative path,
    * size, mtime) set for a directory (r15: depth-1 listing would serve a
    * stale file list after an in-place rewrite of a grandchild part file
    * in a partitioned layout) — so a corpus rewritten in place
    * (planted-spec dirs, regenerated /tmp corpora) re-resolves instead of
    * serving a stale file list. The analyzed-plan text is identical to a
    * fresh resolve, so plan fingerprints and the 10x-probe pins are
    * unaffected.
    *
    * Memory bounds (r15, the r14 ADVICE items): the memo keys on
    * (session, path) with the signature stored in the VALUE, so a
    * superseded signature is evicted by the insert that replaces it, and
    * entries whose SparkContext has been stopped (the 140-suite test
    * JVM) are swept on every load — driver memory is bounded by live
    * contexts x live tables instead of growing for the JVM lifetime.
    * A child session from `newSession()` shares its parent's
    * SparkContext, so its entries are freed only when that shared
    * SparkContext stops (only test harnesses create child sessions).
    * Weak keys would not free them sooner: every memoized DataFrame
    * holds its SparkSession strongly, so the value would pin its own
    * key.
    */
  private val relationMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, DataFrame)]()

  private def contentSignature(path: java.nio.file.Path): String = {
    import java.nio.file.Files
    def stamp(p: java.nio.file.Path): String =
      s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    try {
      if (Files.isDirectory(path)) {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(path)
        try s.iterator().asScala
          .filter(p => !Files.isDirectory(p))
          .map(p => s"${path.relativize(p)}=${stamp(p)}")
          .toSeq.sorted.mkString(";")
        finally s.close()
      } else stamp(path)
    } catch { case _: java.io.IOException => s"unreadable:${System.nanoTime()}" }
  }

  /** Resolve `sfDir/name.parquet` through the relation memo — always:
    * the self-join-shape queries' plan fingerprints
    * (sf10_exponent_pins.json) encode the shared-relation exprId
    * numbering the memo produces.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // sweep entries owned by stopped sessions (tiny map: sessions x
    // tables, so a full pass per load is cheaper than any bookkeeping)
    relationMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val path = s"$sfDir/$name.parquet"
    val sig = contentSignature(java.nio.file.Paths.get(path))
    val key = (spark, path)
    val cur = relationMemo.get(key)
    if (cur != null && cur._1 == sig) cur._2
    else {
      // benign race: two threads may resolve concurrently; last insert
      // wins and both frames are equally valid (metadata-only)
      val df = spark.read.parquet(path)
      relationMemo.put(key, (sig, df))
      df
    }
  }

  /** Register every table as a temp view named after itself (idempotent). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }

  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = load(spark, d, "lineitem")
  /** events.ts has shipped in two physical shapes across testdata
    * generations: nanosecond-precision parquet (surfaced as LongType via
    * the legacy nanosAsLong conf, which [[graft.Sessions]] still sets for
    * backward compat) and plain `timestamp[us]` (surfaced as
    * TimestampType or TimestampNTZType depending on the writer's
    * isAdjustedToUTC flag). Branch on the read schema: longs are nanos
    * and get an integral `div 1000` truncation to micros (a double
    * round-trip would lose exactness at 2^60 nanos); timestamp columns
    * pass through, NTZ normalized to session-tz TimestampType so every
    * downstream consumer sees one type. DuckDB's CAST(ts AS TIMESTAMP)
    * yields the same instants in both shapes, keeping oracles exact.
    */
  def events(spark: SparkSession, d: String): DataFrame =
    normalizeTs(load(spark, d, "events"))

  /** Normalize the `ts` column of an events frame to session-tz
    * TimestampType whatever physical shape it was read in (see
    * [[events]]). Shared by the batch loader and the pipeline CLI's
    * raw-file ingest ([[graft.jobs.Main]]).
    */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => sys.error(s"events.ts: unsupported physical type $other")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
