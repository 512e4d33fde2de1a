package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Every candidate generator of the vector top-k family ends in the same
  * exact refine-and-rank step, so at exhaustive geometry (every list
  * probed, every candidate rescored) each route must return exactly the
  * brute-force ranking — ties, zero vectors and self matches included.
  */
class SimilarityRoutesSpec extends SparkSpec {
  import spark.implicits._

  test("every top-k route at exhaustive geometry returns brute force's rows") {
    val rnd = new java.util.SplittableRandom(7L)
    val dim = 8
    val base = (0 until 40).map(i =>
      i.toLong -> Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    // ids 40 and 41 copy id 0 (query 0's two best tie exactly), ids
    // 42..44 copy ids 1..3; id 45 is a zero vector on the corpus side,
    // id 100 one on the query side
    val dups = Seq(40L -> 0, 41L -> 0, 42L -> 1, 43L -> 2, 44L -> 3)
      .map { case (id, of) => id -> base(of)._2.clone() }
    val corpus = (base ++ dups :+ (45L -> new Array[Float](dim)))
      .toDF("id", "e")
    // queries are corpus rows, so every one meets itself as a candidate
    val queries = corpus.filter(col("id") % 4 === 0)
      .union(Seq(100L -> new Array[Float](dim)).toDF("id", "e"))
    val k = 3
    val n = corpus.count().toInt
    val rescore = (n + k - 1) / k // rescoreFactor·k covers the corpus

    def key(df: DataFrame): Seq[(Long, Long, Int)] =
      df.select("query_id", "match_id", "rank").as[(Long, Long, Int)]
        .collect().toSeq.sorted
    val bruteDf = Similarity.bruteForceTopK(queries, corpus, "id", "e", k)
    val brute = key(bruteDf)
    // the fixture exercises what it plants: a tie inside some top-k, no
    // self match, no zero vector, and no row for the zero query
    val cos = bruteDf.select("query_id", "cos").as[(Long, Double)].collect()
    assert(cos.groupBy(identity).exists(_._2.length > 1), "no planted tie")
    assert(brute.nonEmpty && brute.forall { case (q, m, _) =>
      q != m && m != 45L && q != 100L })

    val ivf = Similarity.IvfIndex.train(corpus, "e", nlist = 4)
    val ivf2 = Similarity.IvfIndex2.train(corpus, "id", "e", nsup = 2,
      childrenPerSup = 3)
    val pq = Similarity.PqIndex.train(corpus, "e", m = 4, ksub = 8)
    val pqRes = Similarity.trainPqResidualsCached("routes-spec:res", corpus,
      "e", ivf, m = 4, ksub = 8)
    val routes: Seq[(String, () => DataFrame)] = Seq(
      "ivfTopK inline" -> (() => Similarity.ivfTopK(queries, corpus, "id",
        "e", k, nprobe = ivf.nlist, index = Some(ivf))),
      "ivfTopK assigned" -> (() => Similarity.ivfTopK(queries, corpus, "id",
        "e", k, nprobe = ivf.nlist, index = Some(ivf),
        assigned = Some(Similarity.ivfAssign(corpus, "id", "e", ivf)))),
      "ivf2TopK" -> (() => Similarity.ivf2TopK(queries, corpus, "id", "e",
        k, ivf2, Similarity.ivf2Assign(corpus, "id", "e", ivf2),
        kSup = ivf2.nsup, kChild = ivf2.childrenPerSup)),
      "pqTopK" -> (() => Similarity.pqTopK(queries, corpus, "id", "e", k,
        pq, rescoreFactor = rescore)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(queries, corpus, "id", "e",
        k, ivf, pqRes, nprobe = ivf.nlist, rescoreFactor = rescore)))
    for ((name, route) <- routes)
      assert(key(route()) == brute, name)
  }
}
