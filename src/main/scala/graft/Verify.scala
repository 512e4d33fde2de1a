package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [q1,q2,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A query that throws must leave a LOUD artifact, not silence:
        // round 9's NTZ regression made 4 queries vanish from the driver's
        // correctness JSON entirely (115/119 keys, read as green). Writing
        // a one-row __error__ parquet guarantees the query dir exists, so
        // any downstream compare records a schema-mismatch FAIL instead of
        // omitting the query.
        try {
          import spark.implicits._
          Seq(Option(e.toString).getOrElse("error").take(2000))
            .toDF("__error__")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-record failed: $e2")
        }
      }
      // free orphaned localCheckpoint blocks between queries — across a
      // 180-query catalog they otherwise accumulate until the block
      // manager thrashes (see Bench.dropOrphanBlocks)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // hard checks for the rows-only queries (no DuckDB oracle) —
    // recall/subset/exact-rescore, recorded beside the parquet dumps so
    // the correctness artifact is not silent on them
    if (only.isEmpty) {
      // never leave a STALE artifact: if this run dies before writing,
      // a previous run's green file must not be read as current
      Files.deleteIfExists(Paths.get(s"$outDir/rows_only_assertions.json"))
      try {
        val checks = VerifyAssertions.run(spark, sfDir)
        val cj = checks.map { c =>
          s"""${q(c.query)}: {"check": ${q(c.name)}, "pass": ${c.pass}, """ +
            s""""detail": ${q(c.detail)}}"""
        }.mkString("{", ",", "}")
        Files.writeString(
          Paths.get(s"$outDir/rows_only_assertions.json"), cj)
        checks.foreach(c => System.err.println(
          s"[verify-assert] ${c.query} ${c.name}: " +
            s"${if (c.pass) "PASS" else "FAIL"} (${c.detail})"))
      } catch { case e: Throwable =>
        System.err.println(s"[verify-assert] failed to run: ${e.getMessage}")
        // a missing artifact reads as "nothing to check" downstream —
        // record the failure itself so the gate shows red, not silence
        Files.writeString(
          Paths.get(s"$outDir/rows_only_assertions.json"),
          s"""{"__assertions__": {"check": "assertions_ran", """ +
            s""""pass": false, "detail": ${q(e.toString.take(500))}}}""")
      }
    }
    spark.stop()
  }
}
