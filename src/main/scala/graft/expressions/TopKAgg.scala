package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native Catalyst aggregate: exact top-k (value desc, id asc) as a
  * TypedImperativeAggregate — the Expression-level form of
  * graft.functions.TopK. Same partial-aggregation scale shape (each
  * map task keeps a bounded k-element buffer, only k * numMapTasks rows
  * per group cross the shuffle), but running inside ObjectHashAggregate
  * with an O(log k) binary-heap update instead of the udaf's
  * sort-per-insert Seq buffer and Encoder round-trips.
  *
  * SQL: `graft_topk(value, id, k)` → array<struct<value:double,
  * id:bigint>> sorted best-first (installed by graft.GraftExtensions).
  */
case class TopKAgg(
    valueExpr: Expression,
    idExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  // k must be a foldable literal (it shapes the buffer)
  private lazy val k: Int = kExpr.eval() match {
    case i: Int  => i
    case l: Long => l.toInt
    case other   => throw new IllegalArgumentException(s"k must be an integer literal, got $other")
  }

  override lazy val resolved: Boolean = childrenResolved &&
    valueExpr.dataType == DoubleType && idExpr.dataType == LongType &&
    kExpr.foldable

  override def children: Seq[Expression] = Seq(valueExpr, idExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))))
  override def prettyName: String = "graft_topk"

  /** Head of the queue = the WORST kept entry (the eviction candidate):
    * the ordering ranks lower value — and on ties higher id — as
    * greater.
    */
  private val worstFirst: Ordering[(Double, Long)] = Ordering.fromLessThan {
    (a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
  }

  private def better(cand: (Double, Long), worst: (Double, Long)): Boolean =
    cand._1 > worst._1 || (cand._1 == worst._1 && cand._2 < worst._2)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    new mutable.PriorityQueue[(Double, Long)]()(worstFirst)

  private def offer(buf: mutable.PriorityQueue[(Double, Long)],
      cand: (Double, Long)): Unit =
    if (buf.size < k) buf.enqueue(cand)
    else if (better(cand, buf.head)) { buf.dequeue(); buf.enqueue(cand) }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null)
      offer(buf, (v.asInstanceOf[Double], id.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any =
    new GenericArrayData(buf.toSeq.sortBy(t => (-t._1, t._2))
      .map(t => InternalRow(t._1, t._2)).toArray[Any])

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (v, id) => out.writeDouble(v); out.writeLong(id) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.enqueue((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1), kExpr = newChildren(2))
}
