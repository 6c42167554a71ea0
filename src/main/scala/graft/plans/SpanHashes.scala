package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}

/** Static kernel behind `span_hashes`. */
object SpanHashKernel {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SP = Array[Byte](' ')

  private val HEX = "0123456789abcdef".toCharArray

  /** MD5 digests (raw 16 bytes = `unhex(md5(...))`) of the space-joined
    * token windows `toks[i·stride, i·stride + k)`:
    *
    *   - clamped (span/chunk form): ceil(n / stride) windows, the last
    *     clamped at the array end — exactly
    *     `sequence(0, floor((n−1)/stride))` + `slice(toks, i·stride+1, k)`
    *     (the two counts are equal for every n ≥ 1);
    *   - unclamped (sliding form): floor((n−k)/stride) + 1 full-k windows,
    *     never clamped — at stride 1 exactly `sequence(0, n−k)` +
    *     `slice(toks, i+1, k)`; the caller must have filtered n ≥ k (as
    *     substringWindows always did — the old tree produced garbage
    *     windows otherwise), so n < k yields an empty array here.
    *
    * The digest is fed exactly the bytes `concat_ws(" ", window)` would
    * produce: null tokens contribute neither bytes nor a separator; one
    * single-space separator between surviving tokens. A null token array
    * returns null (`transform(null)` semantics — posexplode then emits
    * nothing).
    *
    * format: 0 = raw 16-byte digest (`unhex(md5(...))`), 1 = lowercase hex
    * digest (`md5(...)` — commons-codec md5Hex byte-for-byte), 2 = the
    * joined window string itself (`concat_ws(" ", slice(...))`, no hash). */
  def windows(toks: ArrayData, k: Int, stride: Int, format: Int,
              clamped: Boolean): ArrayData = {
    if (toks == null) return null
    val n = toks.numElements()
    val m =
      if (clamped) (n + stride - 1) / stride
      else { if (n < k) 0 else (n - k) / stride + 1 }
    val out = new Array[Any](m)
    val dg = if (format == 2) null else md5.get()
    val parts = if (format == 2) new Array[org.apache.spark.unsafe.types.UTF8String](k) else null
    val sep = if (format == 2) org.apache.spark.unsafe.types.UTF8String.fromString(" ") else null
    var i = 0
    while (i < m) {
      val start = i * stride
      val end = math.min(start + k, n)
      if (format == 2) {
        var j = start
        while (j < end) { parts(j - start) = toks.getUTF8String(j); j += 1 }
        var p = end - start
        while (p < k) { parts(p) = null; p += 1 } // clamped tail: absent = null = skipped
        out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      } else {
        dg.reset()
        var first = true
        var j = start
        while (j < end) {
          if (!toks.isNullAt(j)) {
            if (!first) dg.update(SP, 0, 1)
            val t = toks.getUTF8String(j)
            dg.update(t.getBytes)
            first = false
          }
          j += 1
        }
        val d = dg.digest()
        out(i) =
          if (format == 0) d
          else {
            val c = new Array[Char](32)
            var b = 0
            while (b < 16) {
              c(2 * b) = HEX((d(b) >> 4) & 0xf)
              c(2 * b + 1) = HEX(d(b) & 0xf)
              b += 1
            }
            org.apache.spark.unsafe.types.UTF8String.fromString(new String(c))
          }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: `span_hashes(toks, k, stride, format,
  * clamped)` — the raw-MD5 token-window hashes of ext/Dedup's span and
  * substring-window builders, replacing
  *
  *   transform(sequence(0, <count-1>),
  *     i -> unhex(md5(concat_ws(" ", slice(toks, <i·stride>+1, k)))))
  *
  * WHY custom (SURVEY preference order (b); the word_ngrams precedent):
  * the transform lambda is interpreted per window with a slice allocation,
  * a concat_ws string build, an md5 hex string and an unhex per element.
  * The window table is the engine's single largest shuffle and cache
  * surface (one row per corpus token at stride 1), so its build cost is a
  * real 100 TB number even though the bench reads it from the session
  * cache. This kernel feeds the digest incrementally — no slice copy, no
  * joined string, no hex round-trip — and emits the same 16-byte values
  * (MD5 over identical bytes). Elementwise equality with the old tree is
  * pinned in WordNgramsSpec's sibling tests (SpanHashesSpec).
  */
case class SpanHashes(child: Expression, k: Int, stride: Int, format: Int,
                      clamped: Boolean)
  extends UnaryExpression {

  override def prettyName: String = "span_hashes"
  override def dataType: DataType = ArrayType(
    if (format == SpanHashes.FmtBin) BinaryType else StringType,
    containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _)
      if k >= 1 && stride >= 1 && stride <= k && format >= 0 && format <= 2 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, 1 <= stride <= k and format in 0..2; got " +
        s"${child.dataType.catalogString} / k=$k / stride=$stride / format=$format")
  }

  override protected def nullSafeEval(input: Any): Any =
    SpanHashKernel.windows(input.asInstanceOf[ArrayData], k, stride, format, clamped)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.SpanHashKernel.windows($c, $k, $stride, $format, $clamped)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SpanHashes {
  /** raw 16-byte digests — `unhex(md5(window))` */
  val FmtBin = 0
  /** lowercase hex digests — `md5(window)` */
  val FmtHex = 1
  /** the joined window strings themselves — `concat_ws(" ", window)` */
  val FmtStr = 2

  /** The two window-count semantics, as SQL-arg values (5th argument):
    * CLAMPED = ceil(n/stride) windows, the tail shortened at the array end
    * (span/chunk form); SLIDING = floor((n−k)/stride)+1 full-k windows
    * (substring/bigram form, caller guards n ≥ k). Every caller names its
    * mode: the stride alone does not decide it (chunk_windows at stride 1
    * is CLAMPED — n windows, the last k−1 shortened; AnalyticsOpsSpec pins
    * it). */
  val Clamped = 1
  val Sliding = 0
}
