package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video travel as opaque
  * `BinaryType` payloads plus a typed metadata struct; decode /
  * feature-extraction / resize / frame-sampling run batched inside
  * partitions.
  *
  * Metadata decode is REAL byte-level container parsing
  * ([[graft.functions.MediaContainers]]: PNG IHDR/acTL, JPEG SOFn, GIF
  * logical screen descriptor + frame walk, RIFF/WAV fmt+data), pure
  * Scala against the published layouts — no codec library needed for
  * header-level metadata. Pixel/sample DECODE is out of scope beyond
  * the grayscale box resize ([[boxResizeGray]]): decompressing IDAT
  * pixel data or JPEG entropy streams is codec work; the schema
  * contract and batching seam are what downstream code depends on.
  *
  * Scale design: everything is per-row/per-partition — no shuffle.
  * [[mapBinaryBatches]] is the Scala analog of Python's
  * `mapInPandas(batch_iter)`: payloads process in bounded batches so a
  * real decoder can amortize native-context setup per batch (exactly
  * why mapInPandas exists) without materializing a whole partition of
  * media in memory.
  */
object MultimodalFunctions {

  /** Typed metadata for one media payload. For audio (wav):
    * width = sample rate, height = channels, n_frames = PCM sample
    * frames, duration_ms = frames·1000/rate. For video (mp4):
    * width/height = first non-zero tkhd dims (16.16 integer part),
    * duration_ms = mvhd duration·1000/timescale, n_tracks = trak count,
    * n_frames = 0 (ISO-BMFF carries no container-level frame count).
    * Defaults keep image constructors unchanged (duration 0, 1 track).
    */
  final case class MediaMeta(format: String, width: Int, height: Int,
                             n_frames: Int, duration_ms: Long = 0L,
                             n_tracks: Int = 1)

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_tracks", IntegerType)))

  /** Real container-header decode — see [[MediaContainers.decodeMeta]]. */
  def decodeMeta(payload: Array[Byte]): MediaMeta =
    MediaContainers.decodeMeta(payload)

  /** REAL grayscale box-filter downsample: the (w, h) pixel array
    * shrinks by integer factors (fx, fy), each output pixel the FLOOR
    * average of its fx×fy source block — exact integer arithmetic end
    * to end, so an oracle replays it verbatim. This is the real
    * resize kernel for the one format the engine fully decodes
    * (grayscale PNG, [[MediaContainers.pngGrayPixels]]); the stub
    * below remains for payload formats with header-only decode.
    */
  def boxResizeGray(w: Int, h: Int, pix: Array[Byte],
                    fx: Int, fy: Int): (Int, Int, Array[Byte]) = {
    require(fx > 0 && fy > 0 && w % fx == 0 && h % fy == 0,
      s"box resize needs exact factors: ${w}x$h by $fx x $fy")
    val ow = w / fx
    val oh = h / fy
    val area = fx * fy
    val out = new Array[Byte](ow * oh)
    var r = 0
    while (r < oh) {
      var c = 0
      while (c < ow) {
        var s = 0
        var dy = 0
        while (dy < fy) {
          var dx = 0
          while (dx < fx) {
            s += pix((r * fy + dy) * w + (c * fx + dx)) & 0xff
            dx += 1
          }
          dy += 1
        }
        out(r * ow + c) = (s / area).toByte
        c += 1
      }
      r += 1
    }
    (ow, oh, out)
  }

  /** Frame sampling: split a payload into `n` evenly-sized chunks
    * (array<binary> — the real shape of sampled video frames).
    */
  def frameSampleStub(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (payload == null || payload.isEmpty || n <= 0) Seq.empty
    else {
      val size = math.max(1, payload.length / n)
      (0 until n).map { i =>
        val from = math.min(i * size, payload.length - 1)
        val to = math.min(from + size, payload.length)
        java.util.Arrays.copyOfRange(payload, from, to)
      }
    }
  }

  /** The mapInPandas analog: process a binary column in fixed-size
    * batches within each partition, appending columns computed by
    * `decodeBatch` (one call per ≤`batchSize` payloads — the seam where
    * a real decoder would run vectorized).
    */
  def mapBinaryBatches(
      df: DataFrame,
      binaryCol: String,
      batchSize: Int = 64)(
      decodeBatch: Seq[Array[Byte]] => Seq[MediaMeta]): DataFrame = {
    val inputSchema = df.schema
    val outSchema = StructType(inputSchema.fields ++ mediaMetaSchema.fields)
    val binIdx = inputSchema.fieldIndex(binaryCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    val out: Dataset[Row] = df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val metas = decodeBatch(batch.map(_.getAs[Array[Byte]](binIdx)))
        require(metas.size == batch.size,
          s"decodeBatch returned ${metas.size} results for ${batch.size} inputs")
        batch.lazyZip(metas).map { (r, m) =>
          Row.fromSeq(r.toSeq ++
            Seq(m.format, m.width, m.height, m.n_frames, m.duration_ms, m.n_tracks))
        }
      }
    }
    out
  }
}
