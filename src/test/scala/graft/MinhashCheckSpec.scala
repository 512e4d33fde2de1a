package graft

/** The q31 gate's per-miss re-verification ([[MinhashCheck]]). */
class MinhashCheckSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sfDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_minhashcheck")
    SparkSpec.cleanupAtExit(d.toFile)
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    d.toString
  }

  test("fullSetJaccard scores present ids") {
    val j = MinhashCheck.fullSetJaccard(spark, sfDir,
      Set((1L, 1L), (1L, 2L)))
    assert(j((1L, 1L)) == 1.0)
    // 7 word 3-shingles each, 6 shared
    assert(j((1L, 2L)) == 6.0 / 8.0)
  }

  test("a missed pair with an unknown doc id fails instead of being " +
    "excused as universe-divergent") {
    val e = intercept[IllegalStateException] {
      MinhashCheck.fullSetJaccard(spark, sfDir, Set((1L, 987654321L)))
    }
    assert(e.getMessage.contains("987654321"))
  }
}
