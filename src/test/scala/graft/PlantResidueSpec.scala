package graft

/** [[QueryFixtures.requirePlantResidue]]: the one guard that keeps the
  * planted-duplicate families of q202, q204 and q210 off real doc ids.
  */
class PlantResidueSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftresidue").toFile
    SparkSpec.cleanupAtExit(d)
    d.getCanonicalPath
  }

  /** An sf dir whose documents table carries `ids` (non-empty texts). */
  private def docsDir(ids: Long*): String = {
    val dir = freshDir()
    ids.map(i => (i, s"doc $i text")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a residue >= 1e7 throws with the label's message") {
    val bad = Seq(5L, 200000000L + 10000000L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      QueryFixtures.requirePlantResidue("q999", "+7e7", bad, freshDir())
    }
    assert(e.getMessage.contains("q999 planted-duplicate offsets (+7e7)"))
    assert(e.getMessage.contains("max(doc_id % 1e8)=10000000"))
  }

  test("a clean frame passes, and is checked once per (label, dir)") {
    val dir = freshDir()
    val clean = Seq(5L, 300000000L + 9999999L).toDF("id")
    QueryFixtures.requirePlantResidue("q998", "+1e7", clean, dir)
    val bad = Seq(10000000L).toDF("id")
    // same (label, dir): already checked, not scanned again
    QueryFixtures.requirePlantResidue("q998", "+1e7", bad, dir)
    // another label on the same dir is its own check
    intercept[IllegalArgumentException] {
      QueryFixtures.requirePlantResidue("q997", "+1e7", bad, dir)
    }
  }

  test("the q202, q204 and q210 corpora go through the guard") {
    val paths: Seq[(String, String => Unit)] = Seq(
      "q202 planted-duplicate offsets (+1e7/+2e7)" ->
        (d => StoreQueries.ingestParts(spark, d): Unit),
      "q204 planted-duplicate offsets (+3e7/+4e7/+5e7)" ->
        (d => StoreQueries.ingest2Parts(spark, d): Unit),
      "q210 planted-duplicate offsets (+6e7)" ->
        (d => DedupQueries.spanCorpus(spark, d): Unit))
    for ((msg, path) <- paths) {
      path(docsDir(1L, 2L, 3L))
      val e = intercept[IllegalArgumentException](
        path(docsDir(1L, 2L, 12345678L)))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }
}
