package graft.tools

import org.apache.spark.sql.functions._

/** NON-SATURATING embeddings scale synthesizer for the IVF recall
  * frontier. [[ScaleUpEmbeddings]]' replica model (base vector +
  * small hash noise) stopped discriminating once the distributed
  * trainer landed: every replica cloud is compact relative to the
  * inter-class distance (background cos ≤ 0.51 on this corpus), so
  * any reasonable coarse quantizer keeps a query's truth inside its
  * probed cells and recall@5 pins at 1.000 (r13 runs at 500k and 1M).
  * A fixture that cannot fail cannot measure the nlist-cap boundary.
  *
  * This tool makes the neighbor structure genuinely hard: each
  * synthetic vector INTERPOLATES between two hash-chosen base
  * classes, `v = α·e_i + (1−α)·e_j + jitter`, with α drawn from
  * {0.1 … 0.9}. The corpus becomes a continuum — true neighbors of a
  * query sit near Voronoi boundaries of ANY coarse quantizer, so
  * recall now responds to (nlist, nprobe) geometry instead of
  * saturating. Replica 0 keeps the base verbatim so probe panels
  * (vec_id < 2500 base ids) still exist.
  *
  * Unlike ScaleUp's per-replica union (factor ≤ ~500 before the plan
  * explodes), the factor rides a `spark.range` crossJoin — one plan,
  * any factor, safe at the 8400× (16.8M-vector) and 16800× (33.6M)
  * builds the 4096-cap measurement needs.
  *
  * Usage: runMain graft.tools.ScaleUpEmbeddingsHard <src> <dst> <factor>
  */
object ScaleUpEmbeddingsHard {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleUpEmbeddingsHard <srcSfDir> <dstDir> <factor>")
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()
    val base = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    // Partner selection hashes into [0, baseN) and joins on raw vec_id,
    // which requires a CONTIGUOUS 0..N-1 id space — any gap would
    // silently drop interpolated rows and the scaled corpus would
    // undershoot factor*n without warning (r14 advice).
    val (baseN, maxId) = {
      val r = base.agg(count(lit(1)), max(col("vec_id"))).head
      (r.getLong(0), r.getLong(1))
    }
    require(maxId == baseN - 1,
      s"vec_id space must be contiguous 0..N-1: max=$maxId, n=$baseN")
    // replica 0: base verbatim. k >= 1: mixed-class interpolations.
    val reps = base.crossJoin(
        spark.range(1, factor.toLong).toDF("k").hint("broadcast"))
      .withColumn("__p",
        pmod(xxhash64(col("vec_id"), col("k"), lit(7001)), lit(baseN)))
      .withColumn("__a",
        (pmod(xxhash64(col("vec_id"), col("k"), lit(7002)), lit(9)) +
          lit(1)).cast("double") / lit(10.0))
    val partner = base.select(col("vec_id").as("__p"),
      col("embedding").as("__pe"))
    val mixed = reps.join(partner, Seq("__p"))
      .withColumn("__mix", zip_with(col("embedding"), col("__pe"),
        (x, y) => col("__a") * x.cast("double") +
          (lit(1.0) - col("__a")) * y.cast("double")))
      .select(
        (col("vec_id") + col("k") * lit(ScaleUp.Off)).as("vec_id"),
        transform(col("__mix"), (x, i) =>
          (x + lit(0.018) * (pmod(xxhash64(col("vec_id"), i, col("k"),
            lit(7003)), lit(17)) - lit(8))).cast("float"))
          .as("embedding"),
        col("label"))
    base.unionByName(mixed)
      .repartition(cpus.toInt * 4)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val outN = spark.read.parquet(s"$dst/embeddings.parquet").count()
    val expected = baseN * factor
    println(s"""{"scaled":"$dst","factor":$factor,"src":"$src","table":"embeddings","model":"mixed-class","rows":$outN,"expected":$expected}""")
    require(outN == expected,
      s"scaled corpus undershoots: $outN rows, expected $expected")
    spark.stop()
  }
}
