package graft.tools

/** Calibration probe for the q31 MinHash gate: runs the SAME check as
  * the Verify assertion ([[graft.MinhashCheck]] — one shared
  * implementation, so probe and gate cannot drift) and prints its
  * stats and phase timings.
  * Usage: runMain graft.tools.ProbeMinhash <sfDir> [everyKthFamily]
  * — pass everyKthFamily > 1 past the exact-pairs ceiling (~50k docs):
  * whole replica FAMILIES are sampled so same-text pairs stay inside
  * the sample while the banded query still runs the full corpus.
  */
object ProbeMinhash {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val everyK = if (args.length > 1) args(1).toLong else 1L
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = graft.MinhashCheck.runSampled(spark, dir, everyK)
    println(f"PROBE minhash dir=$dir everyK=$everyK " +
      f"sampled=${r.nSampled} exact_s=${r.exactSecs}%.2f " +
      f"banded_s=${r.bandedSecs}%.2f")
    println(s"PROBE minhash ${r.detail} pass=${r.pass}")
    spark.stop()
  }
}
