package graft.tools
/** Dev tool: dump formatted plans for plan-audit (not part of the API). */
object Explain extends App {
  val spark = graft.GraftSession.builder("local[4]", 4).getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
  val names = if (args.length > 1) args(1).split(",").toSeq
    else Seq("q01_agg_basic", "q03_filter", "q07_join_inner", "q23_asof_join")
  names.foreach { n =>
    println(s"========== $n ==========")
    println(graft.SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
  }
  spark.stop()
}
