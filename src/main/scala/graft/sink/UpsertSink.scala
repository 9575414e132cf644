package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Comparator, UUID}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.transform.Ops

/** K1/K2 — the reference's storage layer re-expressed for an engine
  * whose tables live as Parquet (offline: no Postgres at test time).
  *
  * The upsert (SURVEY §2.2 K2) is [[upsertParquet]]: a key-preferring
  * latest-wins overwrite for engine-managed tables. It reads existing ∪
  * incoming, keeps the incoming row per unique key, and rewrites
  * atomically (temp dir + directory swap — §7.5.4's
  * "write-new-then-swap"; no transactional store offline).
  *
  * Scale notes: the upsert rewrites the table — correct for the reference's
  * dimension-sized tables (hundreds to thousands of rows); at 100 TB
  * the same latest-wins plan applies per partition (the union +
  * window shuffles once on the unique keys) and you'd overwrite only
  * affected partitions (partitionBy on the key prefix) or use a
  * transactional table format. The dedup itself is the W1 argmax —
  * one shuffle, no skew on real unique keys.
  */
object UpsertSink {

  /** Latest-wins upsert into a Parquet directory.
    * Incoming rows beat existing rows on the same key; ties inside a
    * single batch resolve by `tieBreak` (defaults to arbitrary-but-
    * deterministic: all non-key columns desc).
    */
  def upsertParquet(
      spark: SparkSession,
      dir: String,
      incoming: DataFrame,
      keys: Seq[String],
      partitionBy: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "upsert needs unique key columns")
    val target = Paths.get(dir)
    val merged =
      if (Files.exists(target)) {
        val existing = spark.read.parquet(dir)
        val all = existing.withColumn("__pri", lit(0))
          .unionByName(incoming.withColumn("__pri", lit(1)), allowMissingColumns = true)
        val tieBreak = all.columns.filterNot(keys.contains).filterNot(_ == "__pri")
          .map(c => col(c).desc_nulls_last).toSeq
        all
          .transform(Ops.latestPerGroup(keys, col("__pri").desc +: tieBreak))
          .drop("__pri")
      } else {
        val tieBreak = incoming.columns.filterNot(keys.contains)
          .map(c => col(c).desc_nulls_last).toSeq
        incoming.transform(Ops.latestPerGroup(keys,
          if (tieBreak.isEmpty) Seq(lit(1).asc) else tieBreak))
      }
    writeAtomic(merged, target, partitionBy)
  }

  /** Write-new-then-swap (§7.5.4): write to a sibling temp dir, then
    * swap directories so readers never observe a half-written table.
    * (Two renames — not a transaction, but the window is a metadata op,
    * not a data write.) The target is only touched after the write has
    * returned, so `df` may itself read the target (the merge path does).
    */
  private[sink] def writeAtomic(df: DataFrame, target: Path,
                                partitionBy: Seq[String] = Nil): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp-${UUID.randomUUID()}")
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp.toString)
    val old = target.resolveSibling(s"${target.getFileName}.old-${UUID.randomUUID()}")
    val existed = Files.exists(target)
    if (existed) Files.move(target, old)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    if (existed) deleteRecursively(old)
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    // sorted() drains the walk before the first delete, so removing
    // entries during iteration cannot invalidate the stream
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
