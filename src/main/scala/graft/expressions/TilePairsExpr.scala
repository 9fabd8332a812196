package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: the exact-cosine kernel of one tile pair.
  * Each side is a tile of vectors packed as its ids (array<bigint>) and
  * one flat double array of their `dim`-long rows in id order; the
  * result lists every pair (vec_a, vec_b, c) with vec_a < vec_b whose
  * dot product c passes `min_c`.
  *
  * Each dot product is the same left-to-right fold as
  * [[DotProductD]], over plain `double[]` copies of the two tiles, so
  * c is bit-identical to `graft_dot` while a pair costs no row, join or
  * array-accessor overhead. `c >= min_c` is Spark's comparison: NaN
  * passes, as it passes the `filter(c >= min_c)` of a per-pair join.
  *
  * SQL: `graft_tile_pairs(ids_a, vecs_a, ids_b, vecs_b, min_c)` →
  * array<struct<vec_a: bigint, vec_b: bigint, c: double>>; `min_c` must
  * be a literal.
  */
case class TilePairsExpr(children: Seq[Expression]) extends Expression with CodegenFallback {

  private lazy val minC: Double = children(4).eval() match {
    case d: Double => d
    case other => throw new IllegalArgumentException(
      s"graft_tile_pairs: min_c must be a double literal, got $other")
  }

  private def arrayOf(i: Int, el: DataType): Boolean = children(i).dataType match {
    case ArrayType(t, _) => t == el
    case _ => false
  }
  override lazy val resolved: Boolean = childrenResolved && children.length == 5 &&
    arrayOf(0, LongType) && arrayOf(1, DoubleType) && arrayOf(2, LongType) &&
    arrayOf(3, DoubleType) && children(4).foldable && children(4).dataType == DoubleType

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("vec_a", LongType, nullable = false),
    StructField("vec_b", LongType, nullable = false),
    StructField("c", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_tile_pairs"

  override def eval(input: InternalRow): Any = {
    def arg(i: Int) = children(i).eval(input).asInstanceOf[ArrayData]
    val idA = arg(0).toLongArray()
    val xa = arg(1).toDoubleArray()
    val idB = arg(2).toLongArray()
    val xb = arg(3).toDoubleArray()
    val out = ArrayBuffer.empty[InternalRow]
    if (idA.nonEmpty && idB.nonEmpty) {
      val dim = xa.length / idA.length
      require(xa.length == idA.length * dim && xb.length == idB.length * dim,
        s"graft_tile_pairs: tiles of ${xa.length}/${idA.length} and ${xb.length}/${idB.length} values per id")
      var i = 0
      while (i < idA.length) {
        val oa = i * dim
        var j = 0
        while (j < idB.length) {
          if (idA(i) < idB(j)) {
            val ob = j * dim
            var acc = 0.0
            var k = 0
            while (k < dim) { acc += xa(oa + k) * xb(ob + k); k += 1 }
            if (acc >= minC || acc.isNaN) out += InternalRow(idA(i), idB(j), acc)
          }
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
