package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** Native Catalyst Bloom filter pair for decontamination at corpus scale:
  * [[BloomAgg]] (`graft_bloom`) folds a set of items into an m-bit
  * bitset, [[BloomContains]] (`graft_bloom_contains`) probes it.
  *
  * Why native: the relational alternative broadcasts the full
  * benchmark-gram SET (gigabytes of strings at eval-suite × n-gram
  * granularity) or shuffles the corpus against it; the bitset is m/8
  * bytes FIXED (8 KB here) regardless of item count, merges by bitwise
  * OR (commutative/associative — a normal partial/final aggregate pair),
  * and the probe side stays a broadcast of one binary value. The price
  * is false positives, which p14's oracle row measures against the exact
  * answer rather than assuming away.
  *
  * Hashing stays OUTSIDE the expressions: callers pass two
  * [[graft.functions.TextFns.h60]]-derived 60-bit hashes and the k bit
  * positions are double-hashed as (h1 + i·h2) mod m, i &lt; k — the same
  * arithmetic a DuckDB oracle replays exactly (h1, h2 &lt; 2^60 and
  * i ≤ k keep every intermediate inside a signed 64-bit long for k ≤ 7).
  */
case class BloomAgg(
    h1Expr: Expression,
    h2Expr: Expression,
    mExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  // m (bits) and k must be foldable literals: they size the buffer
  private lazy val m: Long = BloomBits.longLit(mExpr, "m")
  private lazy val k: Int = BloomBits.longLit(kExpr, "k").toInt

  override lazy val resolved: Boolean = childrenResolved &&
    h1Expr.dataType == LongType && h2Expr.dataType == LongType &&
    mExpr.foldable && kExpr.foldable

  override def children: Seq[Expression] = Seq(h1Expr, h2Expr, mExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](((m + 63) / 64).toInt)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = h1Expr.eval(input)
    val b = h2Expr.eval(input)
    if (a != null && b != null) {
      val h1 = a.asInstanceOf[Long]
      val h2 = b.asInstanceOf[Long]
      var i = 0
      while (i < k) {
        val pos = BloomBits.pos(h1, h2, i, m)
        buf(pos >>> 6) |= (1L << (pos & 63))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    var i = 0
    while (i < buf.length) {
      val w = buf(i)
      var j = 0
      while (j < 8) { bytes(i * 8 + j) = ((w >>> (j * 8)) & 0xffL).toByte; j += 1 }
      i += 1
    }
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) {
      var w = 0L
      var j = 0
      while (j < 8) { w |= (bytes(i * 8 + j) & 0xffL) << (j * 8); j += 1 }
      buf(i) = w
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(h1Expr = newChildren(0), h2Expr = newChildren(1),
      mExpr = newChildren(2), kExpr = newChildren(3))
}

/** `graft_bloom_contains(bits, h1, h2, m, k)` → true iff all k
  * double-hashed positions of (h1, h2) are set in `bits`. Runs per
  * probe row in the hot path, so it participates in whole-stage codegen
  * (a generated call folding the k-position probe over the broadcast
  * byte array). m and k arrive as literals at registration time and
  * live as constants here, keeping the runtime children a plain ternary.
  */
case class BloomContains(
    bitsExpr: Expression,
    h1Expr: Expression,
    h2Expr: Expression,
    m: Long,
    k: Int)
  extends TernaryExpression {

  override def first: Expression = bitsExpr
  override def second: Expression = h1Expr
  override def third: Expression = h2Expr

  override lazy val resolved: Boolean = childrenResolved &&
    bitsExpr.dataType == BinaryType &&
    h1Expr.dataType == LongType && h2Expr.dataType == LongType

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def nullSafeEval(bits: Any, a: Any, b: Any): Any =
    BloomBits.contains(bits.asInstanceOf[Array[Byte]],
      a.asInstanceOf[Long], b.asInstanceOf[Long], m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bits, h1, h2) =>
      // static forwarder on the BloomBits object — callable from Java
      s"${ev.value} = graft.expressions.BloomBits.contains($bits, $h1, $h2, ${m}L, $k);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(bitsExpr = newFirst, h1Expr = newSecond, h2Expr = newThird)
}

/** Shared position/probe arithmetic (called from generated code too, so
  * it must stay a plain object with JVM-friendly signatures).
  */
object BloomBits {
  /** i-th double-hashed bit position; callers guarantee h1, h2 ≥ 0. */
  def pos(h1: Long, h2: Long, i: Int, m: Long): Int =
    ((h1 + i * h2) % m).toInt

  def contains(bytes: Array[Byte], h1: Long, h2: Long, m: Long, k: Int): Boolean = {
    var i = 0
    while (i < k) {
      val p = pos(h1, h2, i, m)
      if ((bytes(p >>> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }

  private[graft] def longLit(e: Expression, name: String): Long = e.eval() match {
    case i: Int  => i.toLong
    case l: Long => l
    case other   => throw new IllegalArgumentException(s"$name must be an integer literal, got $other")
  }
}
