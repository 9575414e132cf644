package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.fingerprints
import graft.queries.TextQ

/** Ground truth for the no-oracle q_doc_fingerprint_neardup, graded on
  * planted duplicates (the synthetic corpus has no true duplicate
  * pairs — verified: all 500 md5 content groups are singletons):
  * identical texts share every winnowed fingerprint, and documents
  * sharing a long substring share the fingerprints winnowed from it.
  */
class FingerprintNearDupSpec extends SparkSpecBase {
  import spark.implicits._

  private val core = "the quick brown fox jumps over the lazy dog near the river bank " +
    "while seventeen sailors watch from the old stone bridge above the water"

  private lazy val planted = Seq(
    (1L, s"alpha document start $core and some unique tail one"),
    (2L, s"beta prefix text here $core with a different unique ending"),
    (3L, s"alpha document start $core and some unique tail one"), // exact copy of 1
    (4L, "совершенно другой текст без общих подстрок вообще"),
    (5L, "numbers 1 2 3 4 5 6 7 8 9 ten eleven twelve thirteen fourteen")
  ).toDF("doc_id", "text")

  /** The winnowing pass the catalog entry memoizes, then its join. */
  private def nearDup(docs: org.apache.spark.sql.DataFrame, minShared: Int) =
    TextQ.fingerprintNearDupFromFp(
      docs.select(col("doc_id"), explode(fingerprints(col("text"))).as("fp")).distinct(),
      minShared)

  test("recovers exact copies and long-shared-substring pairs; skips unrelated docs") {
    val found = nearDup(planted, minShared = 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 3L)), "exact copies must pair")
    assert(found.contains((1L, 2L)) && found.contains((2L, 3L)),
      "long shared substring must pair")
    assert(!found.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!found.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("exact copies share their full fingerprint set (max overlap)") {
    val shared = nearDup(planted, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,3) identical → overlap must be at least as big as any partial overlap
    assert(shared((1L, 3L)) >= shared((1L, 2L)))
  }

  test("corpus run is deterministic, ordered, thresholded") {
    val a = SparkEntry.queries("q_doc_fingerprint_neardup")(spark, sfDir).collect()
    val b = SparkEntry.queries("q_doc_fingerprint_neardup")(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 3)
    }
  }
}
