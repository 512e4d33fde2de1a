package graft.tools
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val name = args(1); val n = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (i <- 0 until n) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      println(f"RUN$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
