package graft.tools

/** Rehearsal-scale VALUE probe for the compressed-scan ANN paths:
  * runs the q176 (PQ) and q177 (IVF-PQ) planted-recovery +
  * exact-rescore checks — the SAME [[graft.VerifyAssertions
  * .plantedAnnCheck]] the oracle gate runs, so the probe can't drift
  * from the gate — against an arbitrary corpus dir (e.g. /tmp/sf10,
  * where the full Verify assertion pass is too heavy to run whole),
  * with wall-clock per check.
  *
  *   sbt "runMain graft.tools.ProbePq /tmp/sf10"
  */
object ProbePq {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: ProbePq <sfDir> [q176|q177...]")
    val dir = args(0)
    val which: Seq[(String, String)] = {
      val all = Seq(
        "q176_pq_topk" -> "pq_planted_recovery_and_exact_rescore",
        "q177_ivfpq_topk" -> "ivfpq_planted_recovery_and_exact_rescore")
      if (args.length > 1) all.filter(p => args.drop(1).exists(p._1.startsWith))
      else all
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for ((q, name) <- which) {
      val t0 = System.nanoTime()
      val c = graft.VerifyAssertions.plantedAnnCheck(spark, dir, q, name)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[probe-pq] ${c.query} ${c.name}: " +
        f"${if (c.pass) "PASS" else "FAIL"} (${c.detail}) in $secs%.1f s")
    }
    spark.stop()
  }
}
