package graft.tools

/** Embeddings-only scale synthesizer: replicate `embeddings.parquet`
  * `factor`× with [[ScaleUp.embReplica]]'s exact replication model
  * (id offsets + hash-decorrelated noise), WITHOUT paying for the
  * other nine tables — the ≥1M-vector rehearsal corpora the
  * distributed IVF coarse trainer is measured on need only this table.
  *
  * Usage: runMain graft.tools.ScaleUpEmbeddings <src> <dst> <factor>
  */
object ScaleUpEmbeddings {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleUpEmbeddings <srcSfDir> <dstDir> <factor>")
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until factor).map(k => ScaleUp.embReplica(base, k))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"""{"scaled":"$dst","factor":$factor,"src":"$src","table":"embeddings"}""")
    spark.stop()
  }
}
