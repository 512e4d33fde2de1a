package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorExprs}
import graft.operators.Similarity

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  /** Two-stage quantized top-k over the int8 kernels: keep
    * `rescoreFactor`·k candidates per query by `vec_dot_q8` over
    * `vec_q8` codes, then re-rank only the survivors by exact cosine —
    * the candidate-scan shape q64's kernels serve, as a test-side
    * composition that measures how well the quantized dot ranks.
    */
  private def quantizedTopK(
      queries: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, k: Int,
      scale: Double = 0.05, rescoreFactor: Int = 4
      ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import VectorExprs.{vec_dot, vec_dot_q8, vec_l2norm, vec_q8}
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      vec_q8(col(vecCol), scale).as("__qq"), col(vecCol).as("__qv"),
      vec_l2norm(col(vecCol)).as("__qn"))
      .filter(col("__qn") > 0))
    val cand = corpus
      .select(col(idCol).as("match_id"), vec_q8(col(vecCol), scale).as("__cq"))
      .crossJoin(q.select(col("query_id"), col("__qq")))
      .filter(col("match_id") =!= col("query_id"))
      .select(col("query_id"), col("match_id"),
        vec_dot_q8(col("__qq"), col("__cq")).as("__qdot"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__qdot").desc, col("match_id").asc)
    val survivors = cand.withColumn("__qr", row_number().over(wq))
      .filter(col("__qr") <= k.toLong * rescoreFactor)
      .select("query_id", "match_id")
    val cExact = corpus.select(col(idCol).as("match_id"),
      col(vecCol).as("__cv"), vec_l2norm(col(vecCol)).as("__cn"))
      .filter(col("__cn") > 0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("match_id").asc)
    survivors.join(cExact, "match_id")
      .join(q.select(col("query_id"), col("__qv"), col("__qn")), "query_id")
      .select(col("query_id"), col("match_id"),
        (vec_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  test("vec_q8: half-up rounding, clamping, negatives, float widening") {
    val df = Seq((1L, Seq(0.0f, 0.05f, 0.074f, 0.075f, -0.075f, 10.0f, -10.0f)))
      .toDF("id", "v")
    val bytes = df.select(VectorExprs.vec_q8(col("v"), 0.05).as("q"))
      .collect()(0).getAs[Array[Byte]](0)
    // 0.075f widens to 0.07500000298… → /0.05 = 1.50000005… → floor(+0.5) = 2
    // -0.075f → floor(-1.50000005… + 0.5) = floor(-1.00000005…) = -2
    assert(bytes.toSeq == Seq[Byte](0, 1, 1, 2, -2, 127, -127))
  }

  test("vec_dot_q8 equals manual integer dot over the common prefix") {
    val df = Seq((Seq(0.1f, -0.2f, 0.3f), Seq(0.1f, 0.2f, -0.3f, 9f)))
      .toDF("a", "b")
    val got = df.select(VectorExprs.vec_dot_q8(
        VectorExprs.vec_q8(col("a"), 0.1),
        VectorExprs.vec_q8(col("b"), 0.1)).as("d"))
      .collect()(0).getLong(0)
    // quantized: a=[1,-2,3], b=[1,2,-3,90] → 1*1 + (-2)*2 + 3*(-3) = -12
    assert(got == -12L)
  }

  test("quantizedTopK with full-corpus rescore equals brute force") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "match_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = key(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3))
    val n = emb.count().toInt
    val full = key(quantizedTopK(queries, emb, "vec_id", "embedding", 3,
      rescoreFactor = n))
    assert(full == brute)
  }

  test("quantizedTopK at rescoreFactor=4 keeps high recall vs brute force") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = key(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    val quant = key(quantizedTopK(queries, emb, "vec_id", "embedding", 5))
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("tfidf: hand-computed scores, per-doc rank, lexicographic ties") {
    import graft.operators.Vocab
    // N=3; "x" in 1 doc, "y" in 2, "z" in all 3
    val docs = Seq((1L, "x x y z"), (2L, "y z z"), (3L, "z")).toDF("id", "t")
    val got = Vocab.tfidfTopTerms(docs, "id", col("t"), 2)
      .select("id", "term", "tfidf", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toList
    val ln3 = math.log(3.0); val lnHalf3 = math.log(1.5)
    def approxEq(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(got.map(x => (x._1, x._2, x._4)) == List(
      (1L, "x", 1), (1L, "y", 2),   // x: 2·ln3 = 2.197 > y: 1·ln1.5
      (2L, "y", 1), (2L, "z", 2),   // y: ln1.5 = 0.405 > z: 2·ln1 = 0
      (3L, "z", 1)))
    assert(approxEq(got(0)._3, 2 * ln3) && approxEq(got(1)._3, lnHalf3))
  }

  test("topNgrams counts duplicates and breaks frequency ties by ngram") {
    import graft.operators.Vocab
    val docs = Seq("b a b a", "a b").toDF("t")
    val got = Vocab.topNgrams(docs, col("t"), 2, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    // doc1 grams: "b a","a b","b a"; doc2: "a b" → both count 2; tie → "a b" first
    assert(got == List(("a b", 2L), ("b a", 2L)))
  }

  test("repeatedSpans: corpus-wide repeats counted, short docs zero") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e"),   // k=3 grams: "a b c","b c d","c d e"
      (2L, "x a b c y"),   // shares "a b c" with doc 1
      (3L, "p q"),         // shorter than k → 0 spans
      (4L, "a b c a b c a b c")) // internal repeat: "a b c" ×3 + others
      .toDF("id", "t")
    val got = Dedup.repeatedSpans(docs, "id", "t", k = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(3L) == ((0L, 0L)))
    assert(got(1L) == ((3L, 1L))) // only "a b c" repeats corpus-wide
    assert(got(2L) == ((3L, 1L)))
    // doc 4 grams: abc,bca,cab,abc,bca,cab,abc → abc×3 bca×2 cab×2 → all 7 dup
    assert(got(4L) == ((7L, 7L)))
  }

  test("histogram: fixed bins, negatives, nulls dropped, empty bins absent") {
    import graft.operators.Stats
    val df = Seq(Some(-1.0), Some(0.0), Some(4.9), Some(5.0), Some(99.0), None)
      .toDF("v")
    val got = Stats.histogram(df, col("v"), 5.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(3))).toList
    assert(got == List((-1L, -5.0, 1L), (0L, 0.0, 2L), (1L, 5.0, 1L),
      (19L, 95.0, 1L)))
  }

  test("property: quantize+dot matches a scala-side model on random vectors") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[T](g: Gen[T], n: Int): Seq[T] =
      (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(7L + i)))
    def q8(x: Float, scale: Double): Long = {
      val q = math.floor(x.toDouble / scale + 0.5).toLong
      math.max(-127L, math.min(127L, q))
    }
    val vecGen = Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-8.0f, 8.0f)))
    samples(Gen.zip(vecGen, vecGen, Gen.oneOf(0.05, 0.1, 1.0)), 15)
      .foreach { case (a, b, scale) =>
        val want = a.zip(b).map { case (x, y) => q8(x, scale) * q8(y, scale) }.sum
        val got = Seq((a, b)).toDF("a", "b")
          .select(VectorExprs.vec_dot_q8(
            VectorExprs.vec_q8(col("a"), scale),
            VectorExprs.vec_q8(col("b"), scale)).as("d"))
          .collect()(0).getLong(0)
        assert(got == want, s"scale=$scale a=$a b=$b")
      }
  }

  test("ngrams keeps duplicates in document order; short docs empty") {
    val df = Seq("a b a b", "a", "", "  x  y  ").toDF("t")
    val got = df.select(TextFunctions.ngrams(col("t"), 2).as("g"))
      .collect().map(r => r.getSeq[String](0).toList).toList
    assert(got == List(List("a b", "b a", "a b"), Nil, Nil, List("x y")))
  }
}
