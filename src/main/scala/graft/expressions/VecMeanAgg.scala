package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DoubleType}

/** Native Catalyst aggregate: the exact elementwise mean of equal-length
  * double arrays. Per dimension it returns what
  * `CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*)` returns —
  * the centroid update of the k-means fit and of the IVF/PQ codebooks,
  * which the DuckDB oracles replay with that decimal expression — from
  * one `long[dim + 1]` buffer instead of `dim` decimal aggregates.
  *
  * Each element is rounded to 9 decimals the way Spark's cast rounds it
  * (shortest decimal string, HALF_UP) and the buffer adds the unscaled
  * values as longs, plus the row count. Long sums commute, so the result
  * is partition-invariant and bit-identical to the decimal form.
  *
  * A null array is skipped (it counts as no row). A null, NaN or
  * infinite element, arrays of two lengths in one group, and a sum
  * beyond a long's range raise an error: the decimal form turned the
  * first three into a NULL sum (a null centroid coordinate) instead.
  *
  * SQL: `graft_vec_mean(e)` → array<double>, NULL over no rows.
  */
case class VecMeanAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override lazy val resolved: Boolean = childrenResolved && (child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  })

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_mean"

  /** Empty until the first row fixes the dimension; then `dim` unscaled
    * sums followed by the row count.
    */
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def sized(buf: Array[Long], dim: Int): Array[Long] =
    if (buf.length == dim + 1) buf
    else if (buf.isEmpty) new Array[Long](dim + 1)
    else throw new IllegalArgumentException(
      s"graft_vec_mean: arrays of length ${buf.length - 1} and $dim in one group")

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val a = v.asInstanceOf[ArrayData]
      val dim = a.numElements()
      val out = sized(buf, dim)
      var i = 0
      while (i < dim) {
        if (a.isNullAt(i)) throw new IllegalArgumentException("graft_vec_mean: null element")
        out(i) = VecMeanAgg.add(out(i), VecMeanAgg.unscaled9(a.getDouble(i)))
        i += 1
      }
      out(dim) += 1
      out
    }
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    if (other.isEmpty) buf
    else {
      val out = sized(buf, other.length - 1)
      var i = 0
      while (i < other.length) { out(i) = VecMeanAgg.add(out(i), other(i)); i += 1 }
      out
    }

  override def eval(buf: Array[Long]): Any =
    if (buf.isEmpty) null
    else {
      val dim = buf.length - 1
      val n = buf(dim).toDouble
      // the decimal sum's cast to double (correctly rounded), then / count
      new GenericArrayData(Array.tabulate(dim)(d =>
        java.math.BigDecimal.valueOf(buf(d), 9).doubleValue() / n)): ArrayData
    }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(8 * buf.length)
    bytes.asLongBuffer().put(buf)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMeanAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMeanAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecMeanAgg =
    copy(child = newChild)
}

object VecMeanAgg {

  private def add(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch {
      case _: ArithmeticException =>
        throw new ArithmeticException("graft_vec_mean: a 9-decimal sum overflows a long")
    }

  /** `x` rounded to 9 decimals as Spark's `CAST(x AS DECIMAL(28,9))`
    * rounds it, as an unscaled long.
    *
    * Fast path: y = x·1e9 lies within 2.5 ulp(y) of the cast's decimal
    * input (Double.toString(x)·1e9), which is below 6e-7 while
    * |y| < 2³¹. Away from a half-way point both round to the same
    * integer, so only values whose fraction of y is within 1e-5 of ½,
    * and large values, take Spark's own conversion.
    */
  def unscaled9(x: Double): Long = {
    val y = x * 1e9
    val a = math.abs(y)
    if (a < 2147483648.0) {
      val f = math.floor(a)
      val frac = a - f
      if (math.abs(frac - 0.5) > 1e-5) {
        val r = (if (frac > 0.5) f + 1 else f).toLong
        return if (y < 0) -r else r
      }
    }
    exact(x)
  }

  /** Spark's own double → DECIMAL(28,9) conversion, as an unscaled long. */
  private[expressions] def exact(x: Double): Long = {
    if (x.isNaN || x.isInfinite)
      throw new ArithmeticException(s"graft_vec_mean: non-finite element $x")
    val d = Decimal(x)
    if (!d.changePrecision(28, 9))
      throw new ArithmeticException(s"graft_vec_mean: $x overflows DECIMAL(28,9)")
    try d.toJavaBigDecimal.unscaledValue.longValueExact()
    catch {
      case _: ArithmeticException =>
        throw new ArithmeticException(s"graft_vec_mean: $x overflows a 9-decimal long")
    }
  }
}
