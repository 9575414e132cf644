package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{MediaContainers, MultimodalFunctions}
import graft.functions.MultimodalFunctions.MediaMeta

/** Multimodal plumbing: binary columns stay binary through the batched
  * decode path, batch boundaries never break row alignment (verified
  * with the REAL container decoder on real PNG bytes), and the
  * resize/frame-sample helpers keep their schema contracts.
  */
class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  // real PNG payloads with id-derived dimensions: alignment bugs show
  // up as a width decoded from some other row's bytes
  private lazy val media = (0 until 100)
    .map(i => (i.toLong, MediaContainers.pngBytes(1 + i % 37, 1 + i % 23)))
    .toDF("id", "payload")

  test("payload column is genuine BinaryType and survives the batch decode") {
    assert(media.schema("payload").dataType == BinaryType)
    val out = MultimodalFunctions.mapBinaryBatches(media, "payload", batchSize = 7)(
      _.map(MultimodalFunctions.decodeMeta))
    assert(out.schema("payload").dataType == BinaryType)
    assert(out.count() == 100)
  }

  test("batched decode preserves row alignment across uneven batch boundaries") {
    // batchSize 7 over 100 rows -> 15 batches, last partial; every row's
    // meta must still be parsed from ITS OWN payload bytes
    val out = MultimodalFunctions.mapBinaryBatches(media, "payload", batchSize = 7)(
      _.map(MultimodalFunctions.decodeMeta))
      .select(col("id"), col("format"), col("width"), col("height"))
      .collect()
    out.foreach { r =>
      val i = r.getLong(0)
      assert(r.getAs[String]("format") == "png")
      assert(r.getAs[Int]("width") == 1 + i % 37, s"row $i misaligned width")
      assert(r.getAs[Int]("height") == 1 + i % 23, s"row $i misaligned height")
    }
  }

  test("decode batches are bounded by batchSize (the mapInPandas contract)") {
    // smuggle each batch's size out through the metadata (closures run
    // on executors — a driver-side buffer would see nothing)
    val out = MultimodalFunctions.mapBinaryBatches(
      media.repartition(2), "payload", batchSize = 16) { batch =>
      batch.map(_ => MediaMeta(format = s"batch", width = batch.size, height = 0, n_frames = 0))
    }.select("width").collect().map(_.getInt(0))
    assert(out.length == 100)
    assert(out.forall(s => s >= 1 && s <= 16), s"batch sizes seen: ${out.distinct.sorted.toSeq}")
    assert(out.max == 16, "full batches should reach the bound")
  }

  test("misbehaving decoder (wrong cardinality) fails loudly, not silently") {
    val bad = intercept[org.apache.spark.SparkException] {
      MultimodalFunctions.mapBinaryBatches(media, "payload")(
        batch => batch.drop(1).map(MultimodalFunctions.decodeMeta)).count()
    }
    assert(bad.getMessage != null)
  }

  test("frame sampling yields n chunks covering the payload") {
    val p = (0 until 90).map(_.toByte).toArray
    val frames = MultimodalFunctions.frameSampleStub(p, 9)
    assert(frames.size == 9)
    assert(frames.forall(_.length == 10))
    assert(frames.flatten.toSeq == p.toSeq)
    assert(MultimodalFunctions.frameSampleStub(Array.empty[Byte], 4).isEmpty)
  }

  test("audio features: windows tile each decoded signal exactly") {
    val rows = SparkEntry.queries("q_multimodal_audio_features")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (docId, g) =>
      val byW = g.sortBy(_.getLong(1))
      assert(byW.map(_.getLong(1)).toSeq == byW.indices.map(_.toLong),
        s"doc $docId window ids not dense")
      val nTotal = 600 + docId % 1000
      assert(byW.map(_.getLong(2)).sum == nTotal,
        s"doc $docId windows must tile all $nTotal samples")
      byW.dropRight(1).foreach(r => assert(r.getLong(2) == 256L))
      byW.foreach { r =>
        val (n, absSum, sqSum, peak, zc) = (r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
        assert(peak <= 1000L && absSum <= n * peak && sqSum <= n * peak * peak)
        assert(zc <= n - 1)
      }
    }
  }

  test("pixel stats: every row is internally consistent with the 72-pixel frame") {
    val rows = SparkEntry.queries("q_multimodal_pixel_stats")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, sum, dark, bright, contrast) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(mn >= 0L && mx <= 250L && mn <= mx)
      assert(contrast == mx - mn)
      assert(sum >= 72L * mn && sum <= 72L * mx)
      assert(dark + bright <= 72L)
    }
  }

  test("decodeMeta is total: null/empty/garbage payloads downgrade to bin") {
    val bin = MediaMeta("bin", 0, 0, 0, 0L, 0)
    assert(MultimodalFunctions.decodeMeta(null) == bin)
    assert(MultimodalFunctions.decodeMeta(Array.empty) == bin)
    assert(MultimodalFunctions.decodeMeta(Array[Byte](1, 2, 3, 4, 5)) == bin)
  }
}
