package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.VectorExprs
import graft.plans.GramianAgg

/** PCA / whitening over an embedding column — the dimensionality
  * reduction + decorrelation pass of a retrieval or dedup pipeline
  * (project 100 TB of d-dim vectors to k components with identity
  * covariance before indexing).
  *
  * Scale design: the fit is ONE mergeable aggregate
  * ([[graft.plans.GramianAgg]] — map-side-combined sufficient
  * statistics, d²-bounded buffer), so the only driver materialization is
  * a single ~d²/2-double row (d=64 → 17 KB; bounded like the CC endgame
  * and boundary samples, documented in PLANS.md). The d×d eigensolve
  * runs on the driver — it is corpus-size-independent — and the
  * projection broadcasts back as one [[VectorExprs.AffineMap]] kernel
  * per row. Nothing per-pair, nothing per-component ever shuffles.
  */
object Decomp {

  /** Fitted PCA basis. `components(i)` is the i-th eigenvector (length
    * d), eigenvalues descending, sign-fixed so each component's
    * largest-magnitude coordinate is positive (eigenvectors are only
    * defined up to sign; the convention makes results deterministic).
    */
  final case class PcaModel(
      n: Long,
      mean: Array[Double],
      eigenvalues: Array[Double],
      components: Array[Array[Double]]) {
    def totalVariance: Double = eigenvalues.sum
  }

  /** Fit a full-rank PCA on `vecCol` (array<float|double>, first `dim`
    * elements). Population covariance (divide by n, matching
    * `stddev_pop`-style whole-corpus semantics).
    */
  def fitPca(df: DataFrame, vecCol: Column, dim: Int): PcaModel = {
    val buf = df.agg(GramianAgg.gramian_agg(vecCol, dim).as("g"))
      .head().getSeq[Double](0).toArray
    val n = buf(0)
    require(n >= 2, s"fitPca needs >= 2 rows with a full vector, got $n")
    val mean = Array.tabulate(dim)(i => buf(1 + i) / n)
    // cov(i,j) = E[x_i x_j] − mean_i mean_j from the upper triangle
    val cov = Array.ofDim[Double](dim, dim)
    var p = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = buf(p) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        p += 1
        j += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.indices.sortBy(k => -vals(k))
    val eigenvalues = order.map(k => math.max(vals(k), 0.0)).toArray
    val components = order.map { k =>
      val v = Array.tabulate(dim)(r => vecs(r)(k))
      // sign convention: largest-|coordinate| entry positive
      val am = v.indices.maxBy(r => math.abs(v(r)))
      if (v(am) < 0) v.map(-_) else v
    }.toArray
    PcaModel(n.toLong, mean, eigenvalues, components)
  }

  /** Project `vecCol` onto the top `k` components: out = Vₖ(x − mean),
    * optionally whitened (divide component i by √λᵢ so the projected
    * corpus has identity covariance). One AffineMap kernel per row —
    * the fold of the mean into the bias term makes it a single fused
    * multiply-add pass. Rows with a null/short vector project to null.
    */
  def project(df: DataFrame, vecCol: Column, model: PcaModel, k: Int,
      whiten: Boolean, outCol: String = "projection",
      eps: Double = 1e-12): DataFrame = {
    require(k >= 1 && k <= model.components.length,
      s"k=$k out of range 1..${model.components.length}")
    val d = model.mean.length
    val mat = new Array[Double](k * d)
    val bias = new Array[Double](k)
    var i = 0
    while (i < k) {
      val scale = if (whiten) 1.0 / math.sqrt(model.eigenvalues(i) + eps) else 1.0
      val v = model.components(i)
      var j = 0
      var b = 0.0
      while (j < d) {
        mat(i * d + j) = v(j) * scale
        b -= v(j) * scale * model.mean(j)
        j += 1
      }
      bias(i) = b
      i += 1
    }
    df.withColumn(outCol, VectorExprs.affine_map(vecCol, mat, bias))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (public
    * classic — Golub & Van Loan §8.5). Deterministic: fixed sweep order,
    * converges when the off-diagonal Frobenius mass drops below 1e-14 of
    * the matrix norm. Returns (eigenvalues, column-eigenvector matrix).
    * O(d³) per sweep on the DRIVER — d is the embedding width (64 here),
    * never the corpus.
    */
  private[graft] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val norm = math.sqrt(a0.map(r => r.map(x => x * x).sum).sum)
    val tol = 1e-14 * math.max(norm, 1e-300)
    var sweep = 0
    var off = Double.MaxValue
    while (off > tol && sweep < 100) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += 2 * apq * apq
          if (math.abs(apq) > tol / d) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1))
            }
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              r += 1
            }
            r = 0
            while (r < d) {
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = math.sqrt(off)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
