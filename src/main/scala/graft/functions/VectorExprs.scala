package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expressions for embedding math.
  *
  * The built-in composition `aggregate(zip_with(a, b, *), ...)` allocates an
  * intermediate 64-element array per PAIR and interprets two lambdas per
  * element — measured 40 s for the 12.5M-pair scan at sf0.1. These
  * expressions generate a tight primitive loop inside whole-stage codegen
  * (no allocation, no virtual calls): the same scan runs in a few seconds.
  * Pattern follows Spark's own BinaryMathExpression/doGenCode contract
  * (public API, spark.apache.org docs).
  *
  * Both accept float or double arrays (floats are widened per element in
  * the loop — no array copy).
  */
object VectorExprs {

  private def elem(arr: String, dt: DataType, i: String): String = dt match {
    case FloatType => s"(double)$arr.getFloat($i)"
    case _         => s"$arr.getDouble($i)"
  }

  private def elemEval(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  abstract class VectorBinary extends BinaryExpression {
    override def dataType: DataType = DoubleType
    protected def leftElemType: DataType =
      left.dataType.asInstanceOf[ArrayType].elementType
    protected def rightElemType: DataType =
      right.dataType.asInstanceOf[ArrayType].elementType
  }

  /** dot(a, b) — Σ a_i·b_i over the common prefix length. */
  case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0d
      var i = 0
      while (i < n) { s += elemEval(x, leftElemType, i) * elemEval(y, rightElemType, i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $s += ${elem(a, leftElemType, i)} * ${elem(b, rightElemType, i)};
          }
          ${ev.value} = $s;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** ||a||₂ — sqrt(Σ a_i²). */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def prettyName: String = "vec_l2norm"
    override def dataType: DataType = DoubleType
    private def elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = x.numElements()
      var s = 0.0d
      var i = 0
      while (i < n) { val v = elemEval(x, elemType, i); s += v * v; i += 1 }
      math.sqrt(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val v = ctx.freshName("v")
        s"""
          int $n = $a.numElements();
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $v = ${elem(a, elemType, i)};
            $s += $v * $v;
          }
          ${ev.value} = java.lang.Math.sqrt($s);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** |A ∩ B| of two SORTED-ascending distinct array<long> sets, counted by
    * a single merge scan — no hashing, no intermediate array (built-in
    * `size(array_intersect(a, b))` builds a hash set + result array per
    * pair). The verify kernel for LSH-gated exact Jaccard: inputs are
    * [[SketchExprs.ShingleHashes]] outputs, which are sorted distinct.
    */
  case class SortedInterCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "sorted_inter_count"
    override def dataType: DataType = org.apache.spark.sql.types.LongType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val na = x.numElements()
      val nb = y.numElements()
      var i = 0; var j = 0; var s = 0L
      while (i < na && j < nb) {
        val u = x.getLong(i); val v = y.getLong(j)
        if (u < v) i += 1
        else if (u > v) j += 1
        else { s += 1; i += 1; j += 1 }
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val s = ctx.freshName("s")
        val u = ctx.freshName("u"); val v = ctx.freshName("v")
        s"""
          int $na = $a.numElements(); int $nb = $b.numElements();
          int $i = 0; int $j = 0; long $s = 0L;
          while ($i < $na && $j < $nb) {
            long $u = $a.getLong($i); long $v = $b.getLong($j);
            if ($u < $v) { $i++; }
            else if ($u > $v) { $j++; }
            else { $s++; $i++; $j++; }
          }
          ${ev.value} = $s;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** vec_q8(vec, scale) → binary: symmetric int8 quantization,
    * q_i = clamp(⌊x_i/scale + 0.5⌋, -127, 127) (half-up, engine-exact —
    * the DuckDB oracle spells the identical floor arithmetic). One byte
    * per dimension: 4× smaller than float32, 8× smaller than float64 —
    * at 100 TB the quantized corpus is what fits in executor memory /
    * shuffle, with exact rescoring reserved for survivors. Runs once per
    * ROW (not per pair), so interpreted eval is fine.
    */
  case class VecQuantize(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def prettyName: String = "vec_q8"
    override def dataType: DataType = org.apache.spark.sql.types.BinaryType
    private def elemType: DataType =
      left.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, s: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val scale = s.asInstanceOf[Double]
      val n = x.numElements()
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        var q = math.floor(elemEval(x, elemType, i) / scale + 0.5).toLong
        if (q > 127L) q = 127L
        if (q < -127L) q = -127L
        out(i) = q.toByte
        i += 1
      }
      out
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** vec_dot_q8(a, b) → long: integer dot product of two int8-quantized
    * vectors over the common prefix. The hot pair kernel: byte loads,
    * integer multiply-accumulate, no allocation — codegen'd so the whole
    * candidate scan stays in one WholeStageCodegen span.
    */
  case class DotQ8(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "vec_dot_q8"
    override def dataType: DataType = org.apache.spark.sql.types.LongType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[Array[Byte]]
      val y = b.asInstanceOf[Array[Byte]]
      val n = math.min(x.length, y.length)
      var s = 0L
      var i = 0
      while (i < n) { s += x(i).toLong * y(i).toLong; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
          int $n = java.lang.Math.min($a.length, $b.length);
          long $s = 0L;
          for (int $i = 0; $i < $n; $i++) {
            $s += ((long) $a[$i]) * ((long) $b[$i]);
          }
          ${ev.value} = $s;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** lsh_bands(vec, planesPerBand, bands, dim, seed) → array<long>: ALL
    * random-hyperplane band keys in ONE pass. Band j's key packs the sign
    * bits of hyperplanes j·r … j·r+r−1 (bit t = plane j·r+t), hyperplanes
    * drawn dim-coeffs-at-a-time from SplittableRandom(seed) — the same
    * sequence as the per-plane Column formulation, so keys are
    * bit-identical to it. One expression instead of r·b: the Column form
    * paid a boxed `GenericArrayData.getDouble` per coefficient access
    * (~500M unboxings for 55k rows × 144 planes — measured 10-12 s);
    * this primitive-array loop does the same work in well under a
    * second. Runs once per ROW, so interpreted eval is fine
    * (CodegenFallback).
    */
  case class LshBands(child: Expression, planesPerBand: Int, bands: Int,
      dim: Int, seed: Long)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(planesPerBand > 0 && planesPerBand <= 63,
      "planesPerBand must fit a long")
    require(bands > 0 && dim > 0, "bands and dim must be positive")
    override def prettyName: String = "lsh_bands"
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    private def elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType

    @transient private lazy val coeffs: Array[Double] = {
      val rnd = new java.util.SplittableRandom(seed)
      Array.fill(planesPerBand * bands * dim)(rnd.nextDouble() * 2.0 - 1.0)
    }

    override def nullSafeEval(input: Any): Any = {
      val x = input.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), dim)
      val v = new Array[Double](n)
      var i = 0
      while (i < n) { v(i) = elemEval(x, elemType, i); i += 1 }
      val out = new Array[Long](bands)
      val cs = coeffs
      var p = 0
      var b = 0
      while (b < bands) {
        var word = 0L
        var t = 0
        while (t < planesPerBand) {
          val off = p * dim
          var s = 0.0
          var j = 0
          while (j < n) { s += v(j) * cs(off + j); j += 1 }
          if (s > 0) word |= (1L << t)
          t += 1
          p += 1
        }
        out(b) = word
        b += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** affine_map(vec, flatMatrix, bias) → array<double>: y = M·x + b for a
    * FOLDABLE k×d matrix (row-major flat literal) and k-vector bias — the
    * broadcast-linear-map kernel (PCA projection, whitening, any learned
    * rotation). One expression instead of k `vec_dot` Columns: the
    * many-same-kind-Columns form pays a boxed element access per
    * coefficient (the LshBands lesson — ~500M unboxings at 55k rows ×
    * 144 projections); this extracts both literals to primitive arrays
    * once and loops. Rows shorter than d evaluate to null (malformed
    * vectors must surface, not silently zero-pad). Runs once per row —
    * interpreted eval is fine (CodegenFallback like [[LshBands]]).
    */
  case class AffineMap(child: Expression, matExpr: Expression,
      biasExpr: Expression)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(matExpr.foldable && biasExpr.foldable,
      "affine_map matrix and bias must be literals")
    override def prettyName: String = "affine_map"
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    private def elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType

    @transient private lazy val bias: Array[Double] =
      biasExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
    @transient private lazy val mat: Array[Double] =
      matExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
    @transient private lazy val rows: Int = bias.length
    @transient private lazy val cols: Int = {
      require(rows > 0 && mat.length % rows == 0,
        s"affine_map: matrix length ${mat.length} not divisible by rows $rows")
      mat.length / rows
    }

    override def nullSafeEval(input: Any): Any = {
      val x = input.asInstanceOf[ArrayData]
      if (x.numElements() < cols) return null
      val v = new Array[Double](cols)
      var j = 0
      while (j < cols) {
        // a null SLOT would read as 0.0 through getDouble — fabricate
        // nothing; a partially-null vector is malformed like a short one
        if (x.isNullAt(j)) return null
        v(j) = elemEval(x, elemType, j); j += 1
      }
      val out = new Array[Double](rows)
      val m = mat
      var i = 0
      while (i < rows) {
        val off = i * cols
        var s = bias(i)
        var k = 0
        while (k < cols) { s += m(off + k) * v(k); k += 1 }
        out(i) = s
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def nullable: Boolean = true

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** pq_adc(vec, codes, flatCodebooks, dsub) → double: the product-
    * quantization ASYMMETRIC-DISTANCE kernel — the approximate inner
    * product `Σ_s q[s·dsub..]·cb[s][codes[s]]` of a FULL query vector
    * against a PQ-ENCODED corpus vector, straight off the m-byte code
    * array (Jégou et al., TPAMI'11). This is what makes the PQ pair
    * loop honest at 100 TB: the scan carries codes (m ints), never a
    * reconstructed d-float vector, and the kernel reads centroid rows
    * out of one foldable primitive array — no per-pair reconstruction
    * allocation, no boxed element access (the LshBands lesson).
    *
    * `flatCodebooks` is row-major `[m][ksub][dsub]` flattened; `ksub` is
    * derived as `len/(m·dsub)`. Malformed inputs — query shorter than
    * m·dsub, a null code slot, a code outside [0, ksub), a codebook
    * length not divisible by m·dsub — evaluate to null (surface, don't
    * fabricate; the AffineMap convention).
    */
  case class PqAdc(left: Expression, right: Expression,
      mat: Array[Double], dsub: Int) extends VectorBinary {
    require(dsub > 0, "pq_adc: dsub must be positive")
    override def prettyName: String = "pq_adc"
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, c: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val codes = c.asInstanceOf[ArrayData]
      val m = codes.numElements()
      if (m == 0 || mat.length % (m * dsub) != 0) return null
      val ksub = mat.length / (m * dsub)
      if (x.numElements() < m * dsub) return null
      var s = 0.0d
      var si = 0
      while (si < m) {
        if (codes.isNullAt(si)) return null
        val code = codes.getInt(si)
        if (code < 0 || code >= ksub) return null
        val base = (si * ksub + code) * dsub
        val xoff = si * dsub
        var j = 0
        while (j < dsub) {
          s += elemEval(x, leftElemType, xoff + j) * mat(base + j)
          j += 1
        }
        si += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val matRef = ctx.addReferenceObj("pqMat", mat, "double[]")
      nullSafeCodeGen(ctx, ev, (a, c) => {
        val m = ctx.freshName("m")
        val ksub = ctx.freshName("ksub")
        val s = ctx.freshName("s")
        val si = ctx.freshName("si")
        val j = ctx.freshName("j")
        val code = ctx.freshName("code")
        val base = ctx.freshName("base")
        val xoff = ctx.freshName("xoff")
        val bad = ctx.freshName("bad")
        s"""
          int $m = $c.numElements();
          boolean $bad = ($m == 0) || ($matRef.length % ($m * $dsub) != 0);
          int $ksub = $bad ? 1 : $matRef.length / ($m * $dsub);
          if ($bad || $a.numElements() < $m * $dsub) {
            ${ev.isNull} = true;
          } else {
            double $s = 0.0;
            for (int $si = 0; $si < $m && !${ev.isNull}; $si++) {
              if ($c.isNullAt($si)) { ${ev.isNull} = true; break; }
              int $code = $c.getInt($si);
              if ($code < 0 || $code >= $ksub) { ${ev.isNull} = true; break; }
              int $base = ($si * $ksub + $code) * $dsub;
              int $xoff = $si * $dsub;
              for (int $j = 0; $j < $dsub; $j++) {
                $s += ${elem(a, leftElemType, s"$xoff + $j")} *
                  $matRef[$base + $j];
              }
            }
            ${ev.value} = $s;
          }
        """
      })
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** ivf2_lists(vec, supFlat, childFlat, nsup, kSup, kChild) →
    * array<int>: TWO-LEVEL IVF probe-list selection in one kernel —
    * the coarse-quantizer shape past the flat-nlist compute ceiling
    * (r15 verdict #4; FAISS's IVF-with-HNSW-coarse idea in its
    * simplest exact form). Ranks the `nsup` superclusters by the same
    * d² surrogate as [[AffineMap]]-based flat assignment
    * (`|c|² − 2·v·c`, ties → lower id), takes the best `kSup`; within
    * each, ranks that supercluster's children and takes `kChild`.
    * Emits global list ids `s·childrenPerSup + c` in (sup rank, child
    * rank) order — `kSup = kChild = 1` is the ASSIGNMENT, larger
    * values the query-side multiprobe. Cost is O((nsup +
    * kSup·childrenPerSup)·dim) per row — at nsup = childrenPerSup =
    * √nlist an assignment costs 2·√nlist dots instead of nlist
    * (4096 → 128, the 32× that makes a 20M-row corpus build
    * tractable). Matrices ride as primitive flat arrays (the PqAdc
    * convention); malformed vectors (short / null slot) yield null.
    */
  case class Ivf2Lists(child: Expression, supFlat: Array[Double],
      childFlat: Array[Double], nsup: Int, kSup: Int, kChild: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(nsup > 0 && supFlat.length % nsup == 0,
      s"ivf2_lists: supFlat length ${supFlat.length} not divisible by $nsup")
    override def prettyName: String = "ivf2_lists"
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    private def elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType

    @transient private lazy val dim = supFlat.length / nsup
    @transient private lazy val cps = {
      require(childFlat.length % (nsup * dim) == 0,
        s"ivf2_lists: childFlat length ${childFlat.length} not divisible " +
          s"by nsup*dim = ${nsup * dim}")
      childFlat.length / (nsup * dim)
    }
    @transient private lazy val supHalf: Array[Double] =
      Array.tabulate(nsup) { s =>
        var h = 0.0; var j = 0
        while (j < dim) { val x = supFlat(s * dim + j); h += x * x; j += 1 }
        h
      }
    @transient private lazy val childHalf: Array[Double] =
      Array.tabulate(nsup * cps) { i =>
        var h = 0.0; var j = 0
        while (j < dim) { val x = childFlat(i * dim + j); h += x * x; j += 1 }
        h
      }

    // ascending-(score, id) top-k indices over scores — matches the
    // flat assignK array_sort(struct(d, i)) tie order
    private def topK(scores: Array[Double], k: Int): Array[Int] = {
      val n = scores.length
      val kk = math.min(k, n)
      val taken = new Array[Boolean](n)
      val out = new Array[Int](kk)
      var r = 0
      while (r < kk) {
        var best = -1; var bestD = Double.MaxValue
        var i = 0
        while (i < n) {
          if (!taken(i) && scores(i) < bestD) { best = i; bestD = scores(i) }
          i += 1
        }
        // unreachable with the finite-input guard in nullSafeEval (all
        // scores finite ⇒ some candidate beats MaxValue); kept so an
        // all-NaN round can never index taken(-1)
        if (best < 0) return java.util.Arrays.copyOf(out, r)
        taken(best) = true; out(r) = best; r += 1
      }
      out
    }

    override def nullSafeEval(input: Any): Any = {
      val x = input.asInstanceOf[ArrayData]
      if (x.numElements() < dim) return null
      val v = new Array[Double](dim)
      var j = 0
      while (j < dim) {
        if (x.isNullAt(j)) return null
        v(j) = elemEval(x, elemType, j)
        // a NaN/Infinity element makes every list score NaN, so no
        // candidate ever wins topK's `<` and taken(-1) would throw in
        // the executor — malformed input yields null like short/null
        if (!java.lang.Double.isFinite(v(j))) return null
        j += 1
      }
      val supScores = new Array[Double](nsup)
      var s = 0
      while (s < nsup) {
        var d = 0.0; var k = 0; val off = s * dim
        while (k < dim) { d += supFlat(off + k) * v(k); k += 1 }
        supScores(s) = supHalf(s) - 2.0 * d
        s += 1
      }
      val sups = topK(supScores, kSup)
      val out = new Array[Int](sups.length * math.min(kChild, cps))
      var o = 0
      var si = 0
      while (si < sups.length) {
        val sup = sups(si)
        val childScores = new Array[Double](cps)
        var c = 0
        while (c < cps) {
          val li = sup * cps + c
          var d = 0.0; var k = 0; val off = li * dim
          while (k < dim) { d += childFlat(off + k) * v(k); k += 1 }
          childScores(c) = childHalf(li) - 2.0 * d
          c += 1
        }
        val kids = topK(childScores, kChild)
        var ci = 0
        while (ci < kids.length) {
          out(o) = sup * cps + kids(ci); o += 1; ci += 1
        }
        si += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private[graft] val kernels: Seq[(String, Kernels.Builder)] = {
    import Kernels.intArg
    Seq(
      "vec_dot" -> (e => DotProduct(e(0), e(1))),
      "vec_l2norm" -> (e => L2Norm(e.head)),
      "sorted_inter_count" -> (e => SortedInterCount(e(0), e(1))),
      "vec_q8" -> (e => VecQuantize(e(0), e(1))),
      "vec_dot_q8" -> (e => DotQ8(e(0), e(1))),
      "affine_map" -> (e => AffineMap(e(0), e(1), e(2))),
      "lsh_bands" -> (e => LshBands(e(0), intArg(e(1)), intArg(e(2)),
        intArg(e(3)), e(4).eval().asInstanceOf[Number].longValue())),
      "pq_adc" -> (e => PqAdc(e(0), e(1),
        e(2).eval().asInstanceOf[ArrayData].toDoubleArray(), intArg(e(3)))),
      "ivf2_lists" -> (e => Ivf2Lists(e(0),
        e(1).eval().asInstanceOf[ArrayData].toDoubleArray(),
        e(2).eval().asInstanceOf[ArrayData].toDoubleArray(),
        intArg(e(3)), intArg(e(4)), intArg(e(5)))))
  }

  def ivf2_lists(vec: Column, supFlat: Array[Double],
      childFlat: Array[Double], nsup: Int, kSup: Int,
      kChild: Int): Column =
    Kernels.call("ivf2_lists", vec, lit(supFlat), lit(childFlat),
      lit(nsup), lit(kSup), lit(kChild))

  def vec_dot(a: Column, b: Column): Column = Kernels.call("vec_dot", a, b)

  def vec_l2norm(a: Column): Column = Kernels.call("vec_l2norm", a)

  def sorted_inter_count(a: Column, b: Column): Column =
    Kernels.call("sorted_inter_count", a, b)

  def vec_q8(vec: Column, scale: Double): Column =
    Kernels.call("vec_q8", vec, lit(scale))

  def vec_dot_q8(a: Column, b: Column): Column =
    Kernels.call("vec_dot_q8", a, b)

  /** y = M·x + b with a row-major flat k×d matrix literal. */
  def affine_map(vec: Column, mat: Array[Double],
      bias: Array[Double]): Column =
    Kernels.call("affine_map", vec, lit(mat), lit(bias))

  /** PQ asymmetric-distance inner product of a full query vector
    * against an m-code array, with a flat `[m][ksub][dsub]` codebook
    * literal (see [[PqAdc]]).
    */
  def pq_adc(vec: Column, codes: Column, flatCodebooks: Array[Double],
      dsub: Int): Column =
    Kernels.call("pq_adc", vec, codes, lit(flatCodebooks), lit(dsub))

  def lsh_bands(vec: Column, planesPerBand: Int, bands: Int, dim: Int,
      seed: Long = 42L): Column =
    Kernels.call("lsh_bands", vec, lit(planesPerBand), lit(bands), lit(dim),
      lit(seed))
}
