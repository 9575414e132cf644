package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Relation-resolution memo invalidation (r15, the r14 ADVICE items):
  * the content signature must be RECURSIVE — an in-place rewrite of a
  * grandchild part file (nested partition layout) that leaves every
  * direct child's (name, size, mtime) untouched must still re-resolve —
  * and a superseded signature must be EVICTED by the insert that
  * replaces it (the memo is keyed (session, path) with the signature in
  * the value), so repeated corpus rewrites cannot grow driver memory.
  *
  * Stopped-session sweeping is covered by code (a removeIf on every
  * load); it cannot be exercised here because the test JVM shares one
  * SparkContext across all suites and stopping any session stops it.
  */
class RelationMemoSpec extends SparkSpecBase {

  /** Entries in the loader's private relation memo. */
  private def memoSize: Int = {
    val f = Tables.getClass.getDeclaredField("relationMemo")
    f.setAccessible(true)
    f.get(Tables).asInstanceOf[java.util.Map[_, _]].size
  }

  /** The single data part file under `dir` (recursive). */
  private def leafParts(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => !Files.isDirectory(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    finally s.close()
  }

  /** Rewrite `target`'s CONTENT in place (truncate + write) — no
    * unlink/rename, so no parent-directory mtime update anywhere above
    * it: exactly the rewrite a depth-1 signature cannot see. The local
    * ChecksumFileSystem's sibling `.crc` file would fail the read after
    * a content change, so it is removed (a real rewriter regenerates
    * it; its absence just skips verification).
    */
  private def rewriteInPlace(target: Path, content: Array[Byte]): Unit = {
    Files.write(target, content,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    Files.deleteIfExists(
      target.resolveSibling("." + target.getFileName.toString + ".crc"))
  }

  test("grandchild in-place rewrite re-resolves (recursive signature)") {
    val root = Files.createTempDirectory("graft_memospec")
    val tbl = root.resolve("t.parquet")
    spark.range(5).withColumn("p", lit(1))
      .coalesce(1).write.partitionBy("p").parquet(tbl.toString)

    assert(Tables.load(spark, root.toString, "t").count() == 5)

    // replacement leaf with the same schema but 9 rows, rewritten over
    // the existing grandchild byte-for-byte in place
    val donorDir = Files.createTempDirectory("graft_memospec_donor")
    val donor = donorDir.resolve("d.parquet")
    spark.range(9).coalesce(1).write.parquet(donor.toString)
    val donorLeaf = leafParts(donor).head
    val targetLeaf = leafParts(tbl).head
    // ensure the mtime actually moves even on a coarse-granularity clock
    Thread.sleep(20)
    rewriteInPlace(targetLeaf, Files.readAllBytes(donorLeaf))

    assert(Tables.load(spark, root.toString, "t").count() == 9,
      "stale memoized relation served after a grandchild rewrite")
  }

  test("superseded signatures are evicted, not accumulated") {
    val root = Files.createTempDirectory("graft_memospec2")
    val tbl = root.resolve("t.parquet")
    spark.range(3).coalesce(1).write.parquet(tbl.toString)
    Tables.load(spark, root.toString, "t").count()
    val s0 = memoSize

    val donorDir = Files.createTempDirectory("graft_memospec2_donor")
    (1 to 3).foreach { i =>
      val donor = donorDir.resolve(s"d$i.parquet")
      spark.range(3 + i).coalesce(1).write.parquet(donor.toString)
      Thread.sleep(20)
      rewriteInPlace(leafParts(tbl).head, Files.readAllBytes(leafParts(donor).head))
      assert(Tables.load(spark, root.toString, "t").count() == 3 + i)
      assert(memoSize == s0,
        s"memo grew to ${memoSize} after rewrite $i (was $s0)")
    }
  }
}
