package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions.Kernels

/** First-moment sufficient statistics of a vector column in ONE mergeable
  * pass: buffer = [count, Σx (d)] — d+1 doubles, combined map-side like
  * any partial aggregate. The centroid-update reduction of distributed
  * Lloyd iterations ([[graft.operators.Clustering.kmeansLloyd]]): 100 TB
  * of assigned vectors reduce to k·(d+1) doubles per partition before the
  * shuffle, so the exchange carries partials, never elements. The
  * second-moment twin is [[GramianAgg]] (same buffer layout prefix).
  *
  * Rows whose vector is null, shorter than `dim`, or carrying a null SLOT
  * are skipped — a null slot reads as 0.0 through getDouble and would
  * fold fabricated zeros into the mean (same policy as [[GramianAgg]]).
  */
case class VecSumAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  require(dim > 0, "dim must be positive")

  private val bufLen = 1 + dim

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_sum_agg"

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(
        s"vec_sum_agg needs array<float|double>, got array<$t>")
    }

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](bufLen)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() >= dim) {
        val x = new Array[Double](dim)
        var i = 0
        var ok = true
        while (ok && i < dim) {
          if (arr.isNullAt(i)) ok = false
          else {
            x(i) = if (elemIsFloat) arr.getFloat(i).toDouble
              else arr.getDouble(i)
            i += 1
          }
        }
        if (!ok) return buf
        buf(0) += 1.0
        i = 0
        while (i < dim) { buf(1 + i) += x(i); i += 1 }
      }
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object VecSumAgg {
  private[graft] val kernels: Seq[(String, Kernels.Builder)] = Seq(
    "vec_sum_agg" ->
      (e => VecSumAgg(e(0), Kernels.intArg(e(1))).toAggregateExpression()))

  /** vec_sum_agg(vec, dim) → array<double> [n, Σx]. */
  def vec_sum_agg(vec: Column, dim: Int): Column =
    Kernels.call("vec_sum_agg", vec, org.apache.spark.sql.functions.lit(dim))
}
