package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions.Kernels

/** Second-moment sufficient statistics of a vector column in ONE
  * mergeable pass: buffer = [count, Σx (d), upper-triangle ΣxxT
  * (d(d+1)/2)] — 1 + d + d(d+1)/2 doubles (d=64 → ~17 KB), combined
  * map-side like any partial aggregate. Everything covariance-shaped
  * (PCA, whitening, Mahalanobis) derives from this buffer, so 100 TB of
  * vectors reduce to one d²-bounded row; no per-pair or per-component
  * shuffle ever happens.
  *
  * Rows whose vector is null or shorter than `dim` are skipped (same
  * policy as the zero-norm drops in Similarity: malformed vectors must
  * not poison a global statistic).
  */
case class GramianAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  require(dim > 0, "dim must be positive")

  private val bufLen = 1 + dim + dim * (dim + 1) / 2

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "gramian_agg"

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(
        s"gramian_agg needs array<float|double>, got array<$t>")
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
          // a null SLOT reads as 0.0 through getDouble — that would fold
          // fabricated zeros into the mean/covariance; skip the row like
          // any other malformed vector
          if (arr.isNullAt(i)) ok = false
          else {
            x(i) = if (elemIsFloat) arr.getFloat(i).toDouble
              else arr.getDouble(i)
            i += 1
          }
        }
        if (!ok) return buf
        buf(0) += 1.0
        var p = 1 + dim
        i = 0
        while (i < dim) {
          buf(1 + i) += x(i)
          var j = i
          while (j < dim) {
            buf(p) += x(i) * x(j)
            p += 1
            j += 1
          }
          i += 1
        }
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

  override def withNewMutableAggBufferOffset(newOffset: Int): GramianAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramianAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object GramianAgg {
  private[graft] val kernels: Seq[(String, Kernels.Builder)] = Seq(
    "gramian_agg" ->
      (e => GramianAgg(e(0), Kernels.intArg(e(1))).toAggregateExpression()))

  /** gramian_agg(vec, dim) → array<double> [n, Σx, upper-tri ΣxxT]. */
  def gramian_agg(vec: Column, dim: Int): Column =
    Kernels.call("gramian_agg", vec, org.apache.spark.sql.functions.lit(dim))
}
