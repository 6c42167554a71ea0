package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Element-wise aggregation buffer of `DecimalVectorSum`: `dim` exact
  * decimal accumulators at scale 10. The hot representation is an unscaled
  * Long per element (every per-row term is a decimal(27,10) that came from
  * a float-widened double, so its unscaled value fits a Long until the
  * RUNNING SUM exceeds ~9.2e8 in magnitude); an element escalates to an
  * exact BigDecimal lane on its first overflow and stays there. Escalation
  * is per element, never per buffer, so one hot dimension cannot degrade
  * the other 63.
  */
final class DecVecSumBuffer(val n: Int) {
  /** unscaled (scale-10) running sums — authoritative while bigs(i) == null */
  val longs = new Array[Long](n)
  /** exact wide lane, allocated lazily on first escalation anywhere */
  var bigs: Array[JBigDecimal] = _
  /** sum semantics: an element with no non-null term yet yields NULL */
  val seen = new Array[Boolean](n)

  @inline private def escalated(i: Int): Boolean = bigs != null && bigs(i) != null

  private def escalate(i: Int): Unit = {
    if (bigs == null) bigs = new Array[JBigDecimal](n)
    bigs(i) = new JBigDecimal(BigInteger.valueOf(longs(i)), 10)
  }

  /** Add one already-rounded scale-10 term given as its unscaled Long —
    * the allocation-free lane fed by DecimalFast.scaledLong (r17). Exactly
    * add(i, new JBigDecimal(BigInteger.valueOf(l), 10)) without the
    * objects. */
  def addLong(i: Int, l: Long): Unit = {
    seen(i) = true
    if (!escalated(i)) {
      val s = longs(i) + l
      if (((longs(i) ^ s) & (l ^ s)) >= 0L) { longs(i) = s; return }
      escalate(i)
    }
    bigs(i) = bigs(i).add(new JBigDecimal(BigInteger.valueOf(l), 10))
  }

  /** Add one already-rounded scale-10 term to element `i`. */
  def add(i: Int, term: JBigDecimal): Unit = {
    seen(i) = true
    if (!escalated(i)) {
      val unscaled = term.unscaledValue()
      if (unscaled.bitLength() < 64) {
        val l = unscaled.longValue()
        val s = longs(i) + l
        // overflow check (Math.addExact semantics without the throw)
        if (((longs(i) ^ s) & (l ^ s)) >= 0) { longs(i) = s; return }
      }
      escalate(i)
    }
    bigs(i) = bigs(i).add(term)
  }

  def mergeIn(o: DecVecSumBuffer): Unit = {
    var i = 0
    while (i < n) {
      if (o.seen(i)) {
        if (o.escalated(i)) {
          seen(i) = true
          if (!escalated(i)) escalate(i)
          bigs(i) = bigs(i).add(o.bigs(i))
        } else {
          add(i, new JBigDecimal(BigInteger.valueOf(o.longs(i)), 10))
        }
      }
      i += 1
    }
  }

  /** Element value as an exact scale-10 BigDecimal, or null if unseen. */
  def valueAt(i: Int): JBigDecimal =
    if (!seen(i)) null
    else if (escalated(i)) bigs(i)
    else new JBigDecimal(BigInteger.valueOf(longs(i)), 10)
}

/** Native aggregate: element-wise Σ over float/double vectors with every
  * term cast to DECIMAL(27,10) exactly the way Spark's double→decimal cast
  * does, summed exactly (decimal addition is associative and commutative,
  * so partial/merge order cannot change the result), returned as
  * array<decimal(37,10)> — the same element type `sum(decimal(27,10))`
  * produces.
  *
  * WHY custom (replaces the 64-column `sum(x[i] cast decimal(27,10))`
  * centroid aggregate of ext/Similarity.embeddingOutliers): 64 separate
  * decimal sums exceed the whole-stage-codegen field budget, so every
  * corpus row paid 64 interpreted expression evaluations plus 64 UnsafeRow
  * decimal(37,10) buffer rewrites (16-byte serialized BigDecimal each —
  * measured 300–380 ms of the query's single aggregation stage at sf0.1;
  * raising codegen.maxFields measured no change, the cost is the buffer
  * writes, not interpretation). This object-buffer aggregate walks the
  * packed ArrayData ONCE per row and keeps each accumulator an unscaled
  * Long until it genuinely needs arbitrary precision.
  *
  * Numerics contract, bit-identical to the column form and the DuckDB
  * oracle's SUM(CAST(x AS DECIMAL(27,10))):
  *   - each term is BigDecimal.valueOf(double) — the shortest-decimal-
  *     string value, exactly Spark's Cast(double→decimal) seed — then
  *     setScale(10, HALF_UP); a term that cannot be represented as
  *     DECIMAL(27,10) (precision overflow or non-finite input) raises the
  *     same ANSI arithmetic error the Cast would;
  *   - terms are summed exactly (Long or BigDecimal lane — both exact);
  *     the final per-element value overflow-checks against DECIMAL(37,10)
  *     exactly like Sum's resultType check;
  *   - null semantics match per-column sum: a null array contributes no
  *     terms, a null/absent element (ragged array) contributes no term to
  *     THAT element, and an element with no terms at all yields NULL.
  *     (One deliberate divergence, unreachable under the fixed-width
  *     embeddings contract: ANSI getItem ERRORS on an absent element of a
  *     ragged array; this aggregate — like the tolerant `get()` — skips it.)
  */
case class DecimalVectorSum(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DecVecSumBuffer] with UnaryLike[Expression] {

  override def prettyName: String = "decimal_vector_sum"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DecimalType(37, 10), containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) if dim > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> input and dim > 0, got " +
        s"${child.dataType.catalogString} / dim=$dim")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def createAggregationBuffer(): DecVecSumBuffer = new DecVecSumBuffer(dim)

  override def update(buffer: DecVecSumBuffer, input: InternalRow): DecVecSumBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = math.min(dim, arr.numElements())
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val d = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          if (!java.lang.Double.isFinite(d))
            throw new ArithmeticException(
              s"$prettyName: $d cannot be represented as DECIMAL(27,10)")
          if (d > -DecimalFast.Fast10 && d < DecimalFast.Fast10) {
            // allocation-free HALF_UP decimal parse (DecimalFast) — the
            // guard also guarantees precision ≤ 19 < 27, so the slow
            // path's precision check is subsumed
            buffer.addLong(i, DecimalFast.scaledLong(d, 10))
          } else {
            val term = JBigDecimal.valueOf(d).setScale(10, RoundingMode.HALF_UP)
            if (term.precision() > 27)
              throw new ArithmeticException(
                s"$prettyName: $d overflows DECIMAL(27,10)")
            buffer.add(i, term)
          }
        }
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: DecVecSumBuffer, other: DecVecSumBuffer): DecVecSumBuffer = {
    buffer.mergeIn(other)
    buffer
  }

  override def eval(buffer: DecVecSumBuffer): Any = {
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) {
      val bd = buffer.valueAt(i)
      if (bd != null) {
        val dec = org.apache.spark.sql.types.Decimal(bd)
        if (!dec.changePrecision(37, 10))
          throw new ArithmeticException(
            s"$prettyName: sum overflows DECIMAL(37,10)")
        out(i) = dec
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: DecVecSumBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.n)
    var i = 0
    while (i < buffer.n) {
      if (!buffer.seen(i)) out.writeByte(0)
      else if (buffer.bigs == null || buffer.bigs(i) == null) {
        out.writeByte(1); out.writeLong(buffer.longs(i))
      } else {
        val b = buffer.bigs(i).unscaledValue().toByteArray
        out.writeByte(2); out.writeShort(b.length); out.write(b)
      }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): DecVecSumBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new DecVecSumBuffer(n)
    var i = 0
    while (i < n) {
      in.readByte() match {
        case 0 =>
        case 1 => buf.seen(i) = true; buf.longs(i) = in.readLong()
        case 2 =>
          val b = new Array[Byte](in.readShort())
          in.readFully(b)
          buf.seen(i) = true
          if (buf.bigs == null) buf.bigs = new Array[JBigDecimal](n)
          buf.bigs(i) = new JBigDecimal(new BigInteger(b), 10)
        case t => throw new IllegalStateException(s"$prettyName: bad tag $t")
      }
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DecimalVectorSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecimalVectorSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): DecimalVectorSum =
    copy(child = newChild)
}
