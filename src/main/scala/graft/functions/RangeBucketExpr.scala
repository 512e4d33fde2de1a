package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `range_bucket(nKeys, ascMask, k1..kn, b1k1..b1kn, b2k1.., ...)` — the
  * ordered-bucket assignment under a multi-column sort order that
  * [[graft.operators.Sampling.runningTotal]]'s distributed prefix sum is
  * built on: returns the NUMBER OF BOUNDARY TUPLES ≤ the row's key tuple
  * (boundaries must arrive sorted under the same order), i.e. a bucket id
  * that is monotone in the sort order.
  *
  * Why an expression and not a `when`-chain: B boundaries × k keys of
  * unrolled lexicographic comparisons is O(B·k) expression nodes — at
  * B=64 that is ~700 nodes whose Janino compilation costs seconds and
  * recurs in every plan branch. Here the boundaries ride as literal
  * children, the search is an O(log B) binary search, and the generated
  * code is one call into [[RangeBucket.search]] — constant-size codegen
  * at any B, so the bucket count can scale with the cluster instead of
  * with what the compiler tolerates.
  *
  * Ordering semantics match Spark's sort exactly: per-type interpreted
  * orderings (strings = binary UTF-8, NaN greatest), ascending = nulls
  * first / descending = nulls last, and ±0.0 normalized to +0.0 the way
  * `NormalizeFloatingNumbers` does for sort keys — a `-0.0` row must not
  * land a bucket earlier than its sort-equal `0.0` twin.
  */
case class RangeBucket(children: Seq[Expression]) extends Expression {

  private lazy val numKeys: Int =
    children(0).eval().asInstanceOf[Number].intValue()
  private lazy val asc: Array[Boolean] =
    children(1).eval().toString.map(_ == '1').toArray
  @transient private lazy val keyExprs: Array[Expression] =
    children.slice(2, 2 + numKeys).toArray
  @transient private lazy val orderings: Array[Ordering[Any]] =
    keyExprs.map(e => TypeUtils.getInterpretedOrdering(e.dataType))
  // boundary tuples: literal children, evaluated once; sorted by contract
  @transient private lazy val bounds: Array[Array[Any]] =
    children.drop(2 + numKeys).map(e => RangeBucket.normalize(e.eval()))
      .grouped(numKeys).map(_.toArray).toArray

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "range_bucket"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.size < 2)
      return org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("range_bucket needs (nKeys, ascMask, keys...)")
    if (!children(0).foldable || !children(1).foldable)
      return org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("nKeys and ascMask must be literals")
    val n = children(0).eval().asInstanceOf[Number].intValue()
    if (n < 1 || children.size < 2 + n ||
        (children.size - 2 - n) % n != 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"range_bucket child count ${children.size} inconsistent with " +
            s"$n keys")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckSuccess
  }

  /** Count of boundaries ≤ `key` — binary search for the first boundary
    * strictly greater than the key.
    */
  def search(key: Array[Any]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (compareTuple(bounds(mid), key) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def compareTuple(b: Array[Any], k: Array[Any]): Int = {
    var i = 0
    while (i < numKeys) {
      val x = b(i)
      val y = k(i)
      val c =
        if (x == null && y == null) 0
        else if (x == null) { if (asc(i)) -1 else 1 }
        else if (y == null) { if (asc(i)) 1 else -1 }
        else {
          val r = orderings(i).compare(x, y)
          if (asc(i)) r else -r
        }
      if (c != 0) return c
      i += 1
    }
    0
  }

  override def eval(input: InternalRow): Any = {
    val key = new Array[Any](numKeys)
    var i = 0
    while (i < numKeys) {
      key(i) = RangeBucket.normalize(keyExprs(i).eval(input))
      i += 1
    }
    search(key)
  }

  /** Codegen: evaluate the key children inside whole-stage codegen, then
    * one virtual call into [[search]] — constant generated-code size
    * regardless of boundary count.
    */
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("rangeBucket", this,
      classOf[RangeBucket].getName)
    val keyArr = ctx.freshName("rbKey")
    val evals = keyExprs.map(_.genCode(ctx))
    val fill = evals.zipWithIndex.map { case (e, i) =>
      code"""
        ${e.code}
        $keyArr[$i] = ${e.isNull} ? null :
          graft.functions.RangeBucket.normalize((Object)(${e.value}));
      """
    }.reduce(_ + _)
    ev.copy(
      code =
        code"""
          Object[] $keyArr = new Object[$numKeys];
          $fill
          int ${ev.value} = $self.search($keyArr);
        """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object RangeBucket {
  /** Normalize sort-key values the way Spark normalizes float sort keys:
    * -0.0 → +0.0 (NaNs already compare greatest under the interpreted
    * orderings). Called from generated code — keep it static-shaped.
    */
  def normalize(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case other => other
  }
}

object RangeBucketExpr {

  private[graft] val kernels: Seq[(String, Kernels.Builder)] =
    Seq("range_bucket" -> (e => RangeBucket(e)))

  /** Bucket id (count of boundary tuples ≤ the row's key tuple) for
    * `keys` under per-key `ascending` directions. `bounds` are EXTERNAL
    * (driver-side) values, one inner Seq per boundary, sorted under the
    * same order; they ride into the plan as literals.
    */
  def rangeBucket(keys: Seq[Column], ascending: Seq[Boolean],
      bounds: Seq[Seq[Any]]): Column = {
    require(keys.nonEmpty && keys.size == ascending.size)
    require(bounds.forall(_.size == keys.size))
    val mask = ascending.map(a => if (a) '1' else '0').mkString
    val args = (lit(keys.size) +: lit(mask) +: keys) ++
      bounds.flatten.map(v => lit(v))
    Kernels.call("range_bucket", args: _*)
  }
}
