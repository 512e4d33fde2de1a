package graft.tools

/** Calibration probe for the q32 planted-SimHash gate: runs the SAME
  * check as the Verify assertion ([[graft.SimhashCheck]] — one shared
  * implementation, so probe and gate cannot drift) and prints its
  * stats plus the banded hamming histogram and phase timings — run at
  * each SF before trusting a gate change.
  * Usage: runMain graft.tools.ProbeSimhash <sfDir> [everyKthFamily]
  * — pass an everyKthFamily > 1 past the brute ceiling (~65k sigs):
  * whole planted FAMILIES are sampled so recovery pairs stay inside
  * the sample while the banded query still runs the full corpus.
  */
object ProbeSimhash {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val everyK = if (args.length > 1) args(1).toLong else 1L
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = graft.SimhashCheck.runSampled(spark, dir, everyK)
    val hist = r.banded.toSeq.groupBy(_._3).view.mapValues(_.size).toMap
    println(f"PROBE simhash dir=$dir everyK=$everyK n_docs=${r.nDocs} " +
      f"sig_s=${r.sigSecs}%.2f brute_s=${r.bruteSecs}%.2f " +
      f"banded_s=${r.bandedSecs}%.2f")
    println(s"PROBE simhash ${r.detail} pass=${r.pass} " +
      s"hist=${(0 to 3).map(h => s"$h:${hist.getOrElse(h, 0)}").mkString(",")}")
    spark.stop()
  }
}
