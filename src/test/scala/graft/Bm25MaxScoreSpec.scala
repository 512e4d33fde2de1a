package graft

import graft.operators.Retrieval

/** The max-score pruned BM25 serving path must be EXACTLY equal to the
  * unpruned reference path — bit-for-bit scores, identical ranks —
  * because the pruning bound is a provable FP interval, not a
  * heuristic ([[Retrieval.bm25TopKFromPostingsMaxScore]] scaladoc).
  * Every case below asserts full-row equality including the raw double
  * score bits, across the edges where an unsound bound would slip:
  * exact-duplicate documents (FP-indistinguishable ties at the k
  * boundary), k beyond the candidate count (no θ row), k1 = 0
  * (contribution == its upper bound exactly), b ∈ {0, 1}, maxDfFrac
  * stopwording, excludeSelf, and an all-identical corpus where the
  * pruning keeps every candidate (the degenerate worst case).
  */
class Bm25MaxScoreSpec extends SparkSpec {

  import spark.implicits._

  private final class Lcg(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def nextInt(bound: Int): Int = {
      val x = (nextLong() >>> 33).toInt
      ((x % bound) + bound) % bound
    }
  }

  private def fuzzDocs(rng: Lcg, nDocs: Int, vocab: Seq[String]
      ): Seq[(Long, Seq[String])] =
    (0L until nDocs.toLong).map { id =>
      val len = rng.nextInt(14) // includes length-0 docs (filtered)
      (id, Seq.fill(len)(vocab(rng.nextInt(vocab.size))))
    }

  /** The dense kernel scores inside a typed `mapPartitions`; the
    * postings paths are joins and windows only.
    */
  private def denseScored(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("MapPartitions")

  private def run(docs: Seq[(Long, Seq[String])],
      queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false, maxDfFrac: Double = 1.0,
      path: String): Seq[(Long, Long, Double, Int)] = {
    val d = docs.toDF("id", "toks")
    val q = queries.toDF("qid", "qterms")
    // the router's routes, picked through its own input: a zero vocab
    // cap leaves only the max-score postings path, the default cap
    // fits these small vocabularies and takes the dense kernel
    val out = path match {
      case "maxscore" => Retrieval.bm25TopKAuto(d, "id", "toks",
        q, "qid", "qterms", k, k1, b, excludeSelf, maxDfFrac, vocabCap = 0)
      case "dense" => Retrieval.bm25TopKAuto(d, "id", "toks",
        q, "qid", "qterms", k, k1, b, excludeSelf, maxDfFrac)
      case _ => Retrieval.bm25TopK(d, "id", "toks",
        q, "qid", "qterms", k, k1, b, excludeSelf, maxDfFrac)
    }
    if (path != "reference")
      assert(denseScored(out) == (path == "dense"), s"[$path] route")
    out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(r => (r._1, r._4))
  }

  private def assertEqualPaths(docs: Seq[(Long, Seq[String])],
      queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false, maxDfFrac: Double = 1.0,
      tag: String): Unit = {
    val want = run(docs, queries, k, k1, b, excludeSelf, maxDfFrac,
      path = "reference")
    for (path <- Seq("maxscore", "dense")) {
      val got = run(docs, queries, k, k1, b, excludeSelf, maxDfFrac, path)
      // exact double comparison on purpose: raw bits, no tolerance
      assert(got.size === want.size, s"[$tag/$path] row count")
      got.zip(want).foreach { case (g, w) =>
        assert(g._1 == w._1 && g._2 == w._2 && g._4 == w._4,
          s"[$tag/$path] membership/rank: got $g want $w")
        assert(java.lang.Double.doubleToRawLongBits(g._3) ==
          java.lang.Double.doubleToRawLongBits(w._3),
          s"[$tag/$path] score bits: got ${g._3} want ${w._3} for $g")
      }
    }
  }

  test("maxscore == unpruned on fuzz corpora (bit-equal, both " +
    "excludeSelf modes, several k)") {
    val vocab = Seq("ash", "birch", "cedar", "dune", "elm", "fern", "gale")
    for ((seed, excl, k) <- Seq((5L, true, 8), (11L, false, 3),
        (23L, true, 1), (41L, false, 12))) {
      val rng = new Lcg(seed)
      val docs = fuzzDocs(rng, 45, vocab) ++
        Seq((100L, Seq("ash", "ash", "birch")),
          (101L, Seq("ash", "ash", "birch")), // exact dup pair → tie
          (102L, Seq("ash", "ash", "birch")))
      val queries = Seq(
        (0L, docs.find(_._1 == 0L).get._2.distinct),
        (100L, Seq("ash", "birch")),
        (3L, docs.find(_._1 == 3L).get._2.distinct),
        (7L, Seq("zzz-absent")))
      assertEqualPaths(docs, queries, k, excludeSelf = excl,
        tag = s"fuzz seed=$seed excl=$excl k=$k")
    }
  }

  test("maxscore == unpruned with k beyond the candidate count " +
    "(no θ row → nothing pruned)") {
    val docs = Seq((1L, Seq("ash", "birch")), (2L, Seq("ash")),
      (3L, Seq("cedar")))
    val queries = Seq((9L, Seq("ash")))
    assertEqualPaths(docs, queries, k = 10, tag = "k>cands")
  }

  test("maxscore == unpruned at the parameter edges k1=0, b=0, b=1") {
    val rng = new Lcg(77L)
    val docs = fuzzDocs(rng, 35, Seq("ash", "birch", "cedar", "dune"))
    val queries = Seq((0L, Seq("ash", "birch")),
      (1L, Seq("cedar", "dune", "ash")))
    // k1 = 0: every contribution EQUALS its upper bound idf6·(k1+1)
    assertEqualPaths(docs, queries, k = 5, k1 = 0.0, tag = "k1=0")
    assertEqualPaths(docs, queries, k = 5, b = 0.0, tag = "b=0")
    assertEqualPaths(docs, queries, k = 5, b = 1.0, tag = "b=1")
  }

  test("maxscore == unpruned under maxDfFrac stopwording") {
    val rng = new Lcg(31L)
    val docs = fuzzDocs(rng, 30, Seq("ash", "birch", "cedar"))
      .map { case (id, ts) => (id, "the" +: ts) } // df("the") = n
    val queries = Seq((0L, Seq("the", "ash")), (1L, Seq("the")))
    assertEqualPaths(docs, queries, k = 6, maxDfFrac = 0.9,
      tag = "maxDfFrac")
  }

  test("maxscore == unpruned on an all-identical corpus (every " +
    "candidate ties — pruning must keep them all)") {
    val docs = (0L until 25L).map(id => (id, Seq("ash", "ash", "birch")))
    val queries = Seq((0L, Seq("ash", "birch")))
    assertEqualPaths(docs, queries, k = 7, excludeSelf = true,
      tag = "all-ties")
    assertEqualPaths(docs, queries, k = 7, excludeSelf = false,
      tag = "all-ties-self")
  }

  test("a vocabulary over the dense cap routes to max-score") {
    val docs = (0L until 5L).map(id => (id, Seq(s"t$id", "common")))
    val queries = Seq((0L, Seq("common"))).toDF("qid", "qterms")
    val postings =
      Retrieval.bm25Postings(docs.toDF("id", "toks"), "id", "toks")
    // six surviving terms over a cap of three: the dense kernel must not
    // run on a truncated vocabulary
    val got = Retrieval.bm25TopKFromPostingsAuto(postings, "id", queries,
      "qid", "qterms", k = 2, vocabCap = 3)
    assert(!denseScored(got))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .toSeq.sortBy(r => (r._1, r._4))
    assert(rows(got) === rows(Retrieval.bm25TopKFromPostings(postings, "id",
      queries, "qid", "qterms", k = 2)))
  }

  test("maxscore FromPostings == unpruned FromPostings on a prebuilt " +
    "posting relation (the q201 store-serving shape)") {
    val rng = new Lcg(13L)
    val docs = fuzzDocs(rng, 40,
      Seq("ash", "birch", "cedar", "dune", "elm"))
    val postings = Retrieval.bm25Postings(
      docs.toDF("id", "toks"), "id", "toks")
    val queries = Seq((0L, docs.find(_._1 == 0L).get._2.distinct),
      (2L, Seq("elm", "dune"))).toDF("qid", "qterms")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .toSeq.sortBy(r => (r._1, r._4))
    val want = rows(Retrieval.bm25TopKFromPostings(postings, "id",
      queries, "qid", "qterms", k = 6, excludeSelf = true))
    val got = rows(Retrieval.bm25TopKFromPostingsMaxScore(postings, "id",
      queries, "qid", "qterms", k = 6, excludeSelf = true))
    assert(got === want)
    val denseDf = Retrieval.bm25TopKFromPostingsAuto(postings,
      "id", queries, "qid", "qterms", k = 6, excludeSelf = true)
    assert(denseScored(denseDf))
    assert(rows(denseDf) === want)
    // the store-serving shape: postings declared file-backed
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25stable").toString
    postings.write.mode("overwrite").parquet(dir)
    val gotStable = rows(Retrieval.bm25TopKFromPostingsAuto(
      spark.read.parquet(dir), "id", queries, "qid", "qterms",
      k = 6, excludeSelf = true, assumeStable = true))
    assert(gotStable === want)
  }
}
