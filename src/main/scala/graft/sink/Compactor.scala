package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.SparkSession

import FsUtil.{deleteRecursively, listDir, walk}

/** Small-file compaction — the table-maintenance operator every
  * long-lived warehouse needs: streaming sinks, incremental appends,
  * and over-parallel writes fragment a table into thousands of tiny
  * parquet files, and each file costs a task + a footer read + an open
  * per scan (at 100 TB, a 10^6-file table spends more time scheduling
  * than scanning). Compaction rewrites the directory into
  * ~`targetBytes` files, sized from the MEASURED input bytes — never a
  * guessed partition count — then swaps via write-new-then-two-moves
  * (same discipline as UpsertSink).
  *
  * Hive-partitioned layouts (`col=value` subdirectories, e.g.
  * ShardSink's `shard_id=N/`) are compacted PER LEAF PARTITION: each
  * leaf directory holds plain parquet whose rows never mention the
  * partition column, so rewriting leaves in place preserves the
  * layout, the partition column, and its inferred type exactly —
  * flattening through a top-level `spark.read` would silently fold the
  * partition column into the data files and drop the directories.
  *
  * Consistency contract (plain parquet directories have no manifest, so
  * this is the strongest a filesystem swap can give): readers never
  * observe HALF-compacted data — they see the old files, the new files,
  * or a brief window between the two moves where the path is absent and
  * a listing fails loudly (retry the read). A crash inside that window
  * leaves the table intact under a `.old-*` sibling; the next
  * [[compact]] (or an explicit [[recover]]) restores it before doing
  * anything else. Tables needing a zero-window swap belong in a
  * manifest-based format, not a bare directory.
  *
  * Reference anchor: the reference's parquet export writes one pandas
  * frame per dataset (storage.py:336-382) and never fragments; the
  * operator exists for the engine's own incremental/streaming outputs.
  */
object Compactor {

  /** Rewrite the parquet table at `dir` into files of ~`targetBytes`.
    * Partitioned layouts compact leaf-by-leaf (layout preserved).
    * Returns (filesBefore, filesAfter). Row content is preserved
    * exactly; file layout is the only thing that changes.
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val target = Paths.get(dir)
    refuseBucketed(spark, target)
    recover(target)
    val partitions = partitionDirs(target)
    if (partitions.nonEmpty) {
      val results = partitions.map(p => compactLeaf(spark, p, targetBytes))
      (results.map(_._1).sum, results.map(_._2).sum)
    } else compactLeaf(spark, target, targetBytes)
  }

  /** REFUSE a directory that is the storage location of a BUCKETED
    * catalog table (r13 verdict #1). Spark encodes the bucket id in
    * file NAMES (`..._00003.c000...`) and trusts it at read time —
    * bucket pruning (`cid IN (...)` → SelectedBucketsCount) and
    * zero-Exchange bucketed joins never re-hash the rows. A naive
    * `read.parquet(...).repartition(n)` rewrite scrambles rows across
    * files while the table keeps CLAIMING its bucket spec: silently
    * wrong candidate sets from every index built this way (BandIndex,
    * VectorIndex inverted lists). Those tables compact via
    * [[VectorIndex.compact]]-style bucket-preserving rebuilds that
    * re-write through `bucketBy(...)` — never through this raw-file
    * path, so the check fails loudly instead of corrupting.
    */
  /** Both the lexical and the symlink-resolved spelling of a path:
    * the catalog may record the real path while a caller passes a
    * symlinked one (or vice versa — /tmp is itself a symlink on some
    * hosts), and an exact-string compare on one spelling lets the raw
    * rewrite through (the same hazard Bench's SF-matched baseline
    * lookup normalizes for). `toRealPath` needs the path to exist;
    * a vanished location falls back to the lexical form alone.
    */
  private def canonForms(p: Path): Seq[Path] = {
    val abs = p.toAbsolutePath.normalize
    val real =
      try Seq(abs.toRealPath()) catch { case _: Exception => Seq.empty }
    (abs +: real).distinct
  }

  private def refuseBucketed(spark: SparkSession, target: Path): Unit = {
    val tforms = canonForms(target)
    val cat = spark.sessionState.catalog
    val owner = cat.listDatabases().iterator.flatMap { db =>
      cat.listTables(db).iterator.flatMap { ident =>
        try {
          val meta = cat.getTableMetadata(ident)
          // containment, not equality, in BOTH directions: compacting
          // a partition-leaf INSIDE a bucketed location scrambles that
          // bucket subset; compacting a PARENT sweeps the table's
          // files into the raw rewrite along with everything else
          val overlaps = meta.bucketSpec.isDefined &&
            meta.storage.locationUri.exists { u =>
              canonForms(Paths.get(u)).exists(l =>
                tforms.exists(t => t.startsWith(l) || l.startsWith(t)))
            }
          if (overlaps) Some(ident.unquotedString) else None
        } catch { case _: Exception => None } // temp views, dropped races
      }
    }.nextOption()
    owner.foreach { t =>
      throw new IllegalArgumentException(
        s"refusing to compact '$target': it is the location of BUCKETED " +
          s"table '$t' — a raw parquet rewrite would scramble " +
          "bucket-id-in-filename pruning into silently wrong reads; " +
          "rebuild through the table's own bucket spec instead " +
          "(e.g. VectorIndex.compact)")
    }
  }

  /** Bucket-PRESERVING compaction for a bucketed catalog table — the
    * legal path [[refuseBucketed]] points at. Each append to a
    * bucketed table lays down its own file set per bucket (N appends ⇒
    * N×buckets files, unbounded: VectorIndex and BandIndex both grow
    * this way), and the raw-directory path above must never touch
    * them. This rebuild re-writes the rows THROUGH the table's own
    * catalog bucket spec (same columns, same numBuckets, same sort)
    * into a staging table, pre-shuffled so each task holds exactly one
    * bucket (Spark's bucket id and `repartition(n, cols)` both hash
    * Murmur3 pmod n) — one file per non-empty bucket — then swaps via
    * DROP + RENAME (write-new-then-swap, the UpsertSink discipline).
    *
    * `prune` lets an index drop tombstoned rows during the rewrite
    * (VectorIndex.compact passes its anti-join); identity otherwise.
    *
    * Crash contract: a death before the DROP leaves the live table
    * canonical and a complete-but-superseded staging table (cleared on
    * the next run); a death between DROP and RENAME leaves the staging
    * table holding the only copy — the next call (or any
    * [[recoverBucketed]]) renames it back before doing anything else.
    * Returns (filesBefore, filesAfter).
    */
  def compactBucketed(spark: SparkSession, table: String,
                      prune: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
                        = identity): (Int, Int) = {
    val staging = s"${table}_compacting"
    recoverBucketed(spark, table)
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"'$table' is not bucketed — use compact(dir) for plain tables"))
    val before = parquetCount(meta.location)
    val cols = spec.bucketColumnNames
    // Read the ROWS via the raw files, not spark.table: a bucketed
    // scan reports HashPartitioning(cols, n), so the aligning
    // repartition below would be elided as redundant — and the planner
    // may then DISABLE the bucketed scan (no downstream operator
    // exploits it inside a V1 write), leaving unaligned read
    // partitions that fan out one file per (task × bucket). A plain
    // file scan has unknown partitioning, the exchange survives, and
    // each write task holds exactly one bucket (shuffle partition id
    // and bucket id are the same Murmur3-pmod expression).
    val raw = spark.read.schema(meta.schema)
      .parquet(Paths.get(meta.location).toString)
    BandIndex.clearOrphanedLocation(spark, staging)
    val writer = prune(raw)
      .repartition(spec.numBuckets,
        cols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .bucketBy(spec.numBuckets, cols.head, cols.tail: _*)
    val sorted = spec.sortColumnNames match {
      case Nil => writer
      case s => writer.sortBy(s.head, s.tail: _*)
    }
    sorted.saveAsTable(staging)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    val after = parquetCount(
      cat.getTableMetadata(ident).location)
    (before, after)
  }

  /** Recovery for [[compactBucketed]]'s DROP+RENAME window: a live
    * staging table with the base table PRESENT is superseded residue
    * (dropped); with the base table ABSENT it holds the only copy
    * (renamed back).
    */
  def recoverBucketed(spark: SparkSession, table: String): Unit = {
    val staging = s"${table}_compacting"
    if (spark.catalog.tableExists(staging)) {
      if (spark.catalog.tableExists(table))
        spark.sql(s"DROP TABLE $staging")
      else
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    }
  }

  private def parquetCount(location: java.net.URI): Int = {
    val p = Paths.get(location)
    if (!Files.isDirectory(p)) 0
    else walk(p)(_.count(f =>
      f.toString.endsWith(".parquet") && Files.isRegularFile(f)))
  }

  /** Leaf directories of a (possibly nested) `col=value` partition
    * tree; empty when `dir` is itself an unpartitioned leaf.
    */
  private val residueRe = """^(.+)\.(old|tmp)-[^.]*$""".r

  private def partitionDirs(dir: Path): Seq[Path] = {
    val children = listDir(dir).filter { p =>
      val n = p.getFileName.toString
      // swap residue also contains '=' (e.g. shard_id=3.old-uuid) and
      // must never be read as a live partition
      Files.isDirectory(p) && n.contains("=") && residueRe.findFirstIn(n).isEmpty
    }
    children.flatMap { c =>
      val nested = partitionDirs(c)
      if (nested.nonEmpty) nested else Seq(c)
    }
  }

  private def compactLeaf(spark: SparkSession, target: Path,
                          targetBytes: Long): (Int, Int) = {
    val parquetFiles: Seq[Path] = walk(target)(
      _.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq)
    val before = parquetFiles.size
    val bytes = parquetFiles.map(Files.size).sum
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

    // The write to tmp reads the (untouched) source lazily; no cache is
    // needed — the source is only moved after the tmp write completes.
    val df = spark.read.parquet(target.toString).repartition(parts)
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp-${UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val old = target.resolveSibling(s"${target.getFileName}.old-${UUID.randomUUID()}")
    Files.move(target, old)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)

    val after = walk(target)(
      _.count(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)))
    (before, after)
  }

  /** Crash recovery for the two-move swap. A compaction that died
    * mid-swap leaves the table intact under `<name>.old-*` with the
    * live path absent — move it back. Leftover `.tmp-*` (died before
    * the swap) and `.old-*` beside a live table (died before cleanup)
    * are deleted: both are complete, superseded copies. Applied to the
    * table root and to every partition leaf.
    */
  def recover(target: Path): Unit = {
    recoverOne(target)
    if (Files.isDirectory(target)) {
      // a leaf stranded mid-swap is ABSENT — find it via its residue
      // dirs rather than via the (missing) live path
      val strandedBases = walk(target)(_.collect {
        case p if Files.isDirectory(p) =>
          residueRe.findFirstMatchIn(p.getFileName.toString)
            .map(m => p.resolveSibling(m.group(1)))
      }.flatten.toSeq).distinct
      strandedBases.foreach(recoverOne)
      partitionDirs(target).foreach(recoverOne)
    }
  }

  private def recoverOne(target: Path): Unit = {
    val parent = target.toAbsolutePath.getParent
    val name = target.getFileName.toString
    if (parent == null || !Files.isDirectory(parent)) return
    val siblings = listDir(parent)
    siblings.filter(_.getFileName.toString.startsWith(s"$name.tmp-"))
      .foreach(deleteRecursively)
    val olds = siblings.filter(_.getFileName.toString.startsWith(s"$name.old-"))
    if (Files.exists(target)) olds.foreach(deleteRecursively)
    else olds.headOption.foreach(o => Files.move(o, target))
  }
}
