package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs
import graft.plans.VecSumAgg

/** Distributed Lloyd-iteration k-means over an embedding column.
  *
  * Spark-native iterative ML shape: the model (k×d centroids) lives on
  * the driver as a literal; each iteration is
  *   1. ASSIGN — one zero-shuffle projection per row: all k scores
  *      come out of a single [[VectorExprs.AffineMap]] kernel call
  *      (`C·x` with a zero bias — one fused primitive loop, not k
  *      `vec_dot` Columns; the LshBands lesson), the `−½‖c‖²` terms are
  *      subtracted from the score array, and the cluster is
  *      `argmax` = first index of the array max (ties → lowest cluster
  *      id, matching `ORDER BY score DESC, cluster`). `argmax
  *      (x·c − ½‖c‖²)` is exactly `argmin ‖x−c‖²`.
  *   2. UPDATE — a mergeable reduction to k·(d+1) doubles
  *      ([[VecSumAgg]]: map-side-combined partial sums, the exchange
  *      carries partials, never vectors), collected to the driver
  *      (k×d is model-sized, not data-sized — the standard
  *      broadcast-model/aggregate-partials loop).
  *
  * `deterministic = true` swaps the UPDATE reduction for an ordered
  * fold: per (cluster, dimension), members are summed IN `idCol` ORDER
  * with a 0.0-seeded left fold. Double addition is not associative, so
  * only an order-pinned sum is reproducible bit-for-bit across engines
  * and partitionings — this is the cross-engine-parity mode the DuckDB
  * oracle gate runs (mirrored by `list_reduce(list_prepend(0.0,
  * list(v ORDER BY id)), ...)`), at the price of shuffling elements
  * instead of partials. Production runs `deterministic = false`.
  *
  * Empty clusters are dropped (classical Lloyd variant: k shrinks),
  * surviving cluster ids keep their seed rank. Seeds are the first k
  * rows by `md5(id)` — content-derived determinism like every sampler
  * in [[Sampling]]: same corpus → same fit, regardless of partitioning.
  */
object Clustering {

  /** Fitted model: `clusterIds(i)` is the id of `centroids(i)`; both
    * sorted by cluster id ascending.
    */
  final case class KMeansModel(clusterIds: Array[Long],
      centroids: Array[Array[Double]]) {
    require(clusterIds.length == centroids.length && centroids.nonEmpty,
      "model needs at least one centroid")
    def dim: Int = centroids(0).length
  }

  /** Left-to-right 0.0-seeded dot — the association [[VectorExprs]]
    * kernels and DuckDB's `list_inner_product` both use.
    */
  private def dotLR(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The ASSIGN projection: cluster id of the nearest centroid (ties →
    * lowest cluster id). Pure per-row expression — zero shuffle; the
    * model rides into the plan as literals.
    */
  def assignColumn(vec: Column, model: KMeansModel): Column = {
    val halfNorms = model.centroids.map(c => 0.5 * dotLR(c, c))
    val dots = VectorExprs.affine_map(vec, model.centroids.flatten,
      new Array[Double](model.centroids.length))
    val scores = transform(dots,
      (d, i) => d - element_at(lit(halfNorms), i + lit(1)))
    element_at(lit(model.clusterIds),
      array_position(scores, array_max(scores)).cast("int"))
  }

  /** k seed centroids by md5(id) rank (TakeOrdered — per-partition
    * heaps, no global sort). Cluster ids are the seed ranks 0..k-1.
    */
  def seedModel(df: DataFrame, idCol: Column, vecCol: Column,
      k: Int): KMeansModel = {
    require(k > 0, "k must be positive")
    val rows = df.select(idCol.as("__id"), vecCol.as("__v"))
      .orderBy(md5(col("__id").cast("string")), col("__id"))
      .limit(k)
      .collect()
    require(rows.length == k, s"need at least $k rows to seed, got ${rows.length}")
    val cents = rows.map { r =>
      r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => throw new IllegalArgumentException(
          s"k-means needs float/double vectors, got $x")
      }.toArray
    }
    KMeansModel(Array.tabulate(k)(_.toLong), cents)
  }

  /** One UPDATE: recompute centroids from an assignment. Returns the
    * surviving (non-empty) clusters sorted by id.
    */
  private def updateCentroids(assigned: DataFrame, idCol: Column,
      vecCol: Column, clusterCol: Column, dim: Int,
      deterministic: Boolean): KMeansModel = {
    val collected: Array[(Long, Array[Double])] =
      if (deterministic) {
        val per = assigned
          .select(clusterCol.as("__c"), idCol.as("__i"),
            posexplode(vecCol).as(Seq("__pos", "__val")))
          .groupBy(col("__c"), col("__pos"))
          .agg(count(lit(1)).as("__n"),
            aggregate(
              transform(
                array_sort(collect_list(struct(col("__i").as("i"),
                  col("__val").cast("double").as("v")))),
                s => s.getField("v")),
              lit(0.0), (a, x) => a + x).as("__s"))
          .select(col("__c"), col("__pos"), col("__n"),
            (col("__s") / col("__n")).as("__m"))
          .collect()
        per.groupBy(_.getLong(0)).toArray.map { case (cid, rows) =>
          val c = new Array[Double](dim)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(3))
          (cid, c)
        }
      } else {
        assigned
          .groupBy(clusterCol.as("__c"))
          .agg(VecSumAgg.vec_sum_agg(vecCol, dim).as("__b"))
          .collect()
          .map { r =>
            val b = r.getSeq[Double](1)
            val n = b(0)
            (r.getLong(0), Array.tabulate(dim)(i => b(1 + i) / n))
          }
          .filter { case (_, c) => c.forall(!_.isNaN) } // n=0 never collected, but be explicit
      }
    val sorted = collected.sortBy(_._1)
    KMeansModel(sorted.map(_._1), sorted.map(_._2))
  }

  /** Fit `iters` Lloyd updates from the md5 seeding, then return the
    * final assignment (input columns + `outCol`) and the fitted model.
    */
  def kmeansLloyd(df: DataFrame, idCol: Column, vecCol: Column, k: Int,
      iters: Int, outCol: String = "cluster",
      deterministic: Boolean = false): (DataFrame, KMeansModel) = {
    require(iters >= 0, "iters must be non-negative")
    var model = seedModel(df, idCol, vecCol, k)
    val dim = model.dim
    var it = 0
    while (it < iters) {
      val assigned = df.withColumn(outCol, assignColumn(vecCol, model))
      model = updateCentroids(assigned, idCol, vecCol, col(outCol), dim,
        deterministic)
      it += 1
    }
    (df.withColumn(outCol, assignColumn(vecCol, model)), model)
  }
}
