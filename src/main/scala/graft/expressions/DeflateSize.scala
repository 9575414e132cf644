package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `deflate_size(string) -> int` — DEFLATE-compressed byte size of the
  * UTF-8 text, the primitive behind the compression-ratio quality
  * signal (ratio = deflate_size/byte_len): highly repetitive documents
  * (boilerplate, keyword stuffing, template spam) compress far below
  * natural prose, and near-random noise barely compresses at all —
  * the cheap entropy proxy web-scale curation pipelines cut on (e.g.
  * the Gopher/MassiveText quality rules family).
  *
  * Native expression (no Spark built-in exposes a compressor): per-row
  * scalar, no shuffle, fused into the scan. Uses java.util.zip.Deflater
  * at BEST_SPEED with the zlib wrapper — deterministic for a given JVM,
  * which is all a rows-only + spec-bounded signal needs (exact byte
  * counts are NOT an oracle-portable contract across zlib builds, so
  * queries using this stay rows-only by design).
  */
case class DeflateSize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_size expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "deflate_size"

  override protected def withNewChildInternal(newChild: Expression): DeflateSize =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    DeflateSize.sizeOf(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.DeflateSize.sizeOf($c);")
}

object DeflateSize {

  // One Deflater per task thread: deflateInit/End are native
  // allocations that would otherwise dominate short documents. Native
  // retention is BOUNDED by the executor's task-thread pool (a few
  // hundred KB of zlib state per thread, released when the thread
  // dies); the input-buffer reference is dropped after every call so
  // no row's bytes outlive its evaluation.
  private val deflater: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() =>
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED))

  /** Compressed size of the UTF-8 bytes — shared by interpreted eval
    * and generated code. BEST_SPEED because the signal needs relative
    * ratios, not maximal compression; reset() restarts the stream so
    * rows are independent and deterministic.
    */
  def sizeOf(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    val d = deflater.get()
    d.setInput(s.getBytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    d.reset()
    d.setInput(Array.emptyByteArray) // drop the row's buffer reference
    total
  }

  val fn: NativeFn = NativeFn("deflate_size", classOf[DeflateSize], 1,
    c => DeflateSize(c.head))
}
