package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorExprs
import graft.operators.{Dedup, Graph, Similarity, Stats}

/** Round-16 batch: the q170–q174 operator families against driver
  * brute force — FastSS edit-distance pairs (lossless-blocking proof by
  * exhaustive comparison, k = 1 and 2, short/duplicate/unicode edges),
  * degree-oriented triangle counts (vs a triple loop, dirty edge
  * lists), the one-scan constraint panel (every rule type incl. null
  * scoping), and decimal-sufficient-sum regression (bit-equal to the
  * same closed form on driver BigDecimal sums).
  */
class Round16OpsSpec extends SparkSpec {

  import spark.implicits._

  private final class Lcg(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def nextInt(bound: Int): Int = {
      val x = (nextLong() >>> 33).toInt
      ((x % bound) + bound) % bound
    }
  }

  /** Classic DP Levenshtein — the independent verifier for the fuzz. */
  private def lev(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  private def fuzzCorpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val rng = new Lcg(seed)
    val alpha = "abcß"
    (0L until n).map { id =>
      val len = rng.nextInt(7) // 0..6 — empties exercise the drop
      (id, (0 until len).map(_ => alpha(rng.nextInt(alpha.length))).mkString)
    }
  }

  private def bruteEd(corpus: Seq[(Long, String)], k: Int) =
    (for {
      (ia, sa) <- corpus if sa.nonEmpty
      (ib, sb) <- corpus if ib > ia && sb.nonEmpty
      d = lev(sa, sb) if d <= k
    } yield (ia, ib, d)).toSet

  test("editDistancePairs == brute force at k=1 and k=2 on fuzz corpora") {
    for (seed <- Seq(1L, 2L, 3L); k <- Seq(1, 2)) {
      val corpus = fuzzCorpus(seed, 60)
      val df = corpus.toDF("id", "s")
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = k)
        .select(col("id_a"), col("id_b"), col("dist"))
        .as[(Long, Long, Int)].collect().toSet
      assert(got === bruteEd(corpus, k), s"seed=$seed k=$k")
    }
  }

  test("editDistancePairs finds dist-0 exact duplicates and keeps texts") {
    val df = Seq((1L, "order"), (2L, "order"), (3L, "ordre"),
      (4L, ""), (5L, "x")).toDF("id", "s")
    val got = Dedup.editDistancePairs(df, "id", "s", maxDist = 2)
      .as[(Long, Long, String, String, Int)].collect().toSet
    // empty text is dropped entirely; "x" is >2 edits from the others
    assert(got === Set((1L, 2L, "order", "order", 0),
      (1L, 3L, "order", "ordre", 2), (2L, 3L, "order", "ordre", 2)))
  }

  test("editDistancePairs handles length-1/2 strings (sequence-descent " +
    "guard) and rejects k > 2") {
    // every pair of single chars is one substitution apart
    val df = Seq((1L, "a"), (2L, "b"), (3L, "ab"), (4L, "ba")).toDF("id", "s")
    val got = Dedup.editDistancePairs(df, "id", "s", maxDist = 2)
      .select(col("id_a"), col("id_b"), col("dist"))
      .as[(Long, Long, Int)].collect().toSet
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "ab"), (4L, "ba"))
    assert(got === bruteEd(corpus, 2))
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "id", "s", maxDist = 3)
    }
  }

  private def bruteTriangles(raw: Seq[(Int, Int)])
      : Map[Int, (Long, Long)] = {
    val edges = raw.collect { case (u, v) if u != v =>
      (math.min(u, v), math.max(u, v)) }.toSet
    val nodes = edges.flatMap { case (u, v) => Seq(u, v) }
    val deg = nodes.map(n => n ->
      edges.count { case (u, v) => u == n || v == n }.toLong).toMap
    val tri = scala.collection.mutable.Map[Int, Long]()
      .withDefaultValue(0L)
    val ns = nodes.toSeq.sorted
    for {
      a <- ns; b <- ns if b > a && edges((a, b))
      c <- ns if c > b && edges((b, c)) && edges((a, c))
    } { tri(a) += 1; tri(b) += 1; tri(c) += 1 }
    nodes.map(n => n -> (deg(n), tri(n))).toMap
  }

  test("triangleCounts == brute force on dirty random graphs") {
    for (seed <- Seq(7L, 8L, 9L)) {
      val rng = new Lcg(seed)
      // duplicates, reversals and self-loops on purpose
      val raw = (0 until 80).map(_ => (rng.nextInt(14), rng.nextInt(14)))
      val df = raw.toDF("src", "dst")
      val got = Graph.triangleCounts(df, col("src"), col("dst"))
        .as[(Int, Long, Long)].collect()
        .map { case (n, d, t) => n -> (d, t) }.toMap
      assert(got === bruteTriangles(raw), s"seed=$seed")
      // force the past-the-cap branch (bloom-pruned shuffled semi):
      // must be value-identical to the broadcast branch
      val gotBloom = Graph.triangleCounts(df, col("src"), col("dst"),
          broadcastEdgeLimit = 0L)
        .as[(Int, Long, Long)].collect()
        .map { case (n, d, t) => n -> (d, t) }.toMap
      assert(gotBloom === got, s"seed=$seed bloom branch")
      // assumeDistinct on the CANONICALIZED pair set must equal the
      // safe path (q172 feeds the pre-aggregated CoPurchase relation
      // through this branch to skip the redundant dedup shuffle)
      val canonical = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      val gotFast = Graph.triangleCounts(canonical.toDF("src", "dst"),
          col("src"), col("dst"), assumeDistinct = true)
        .as[(Int, Long, Long)].collect()
        .map { case (n, d, t) => n -> (d, t) }.toMap
      assert(gotFast === got, s"seed=$seed assumeDistinct branch")
    }
  }

  test("triangleCounts on K4: every node has degree 3 and 3 triangles") {
    val k4 = for { a <- 0 to 3; b <- 0 to 3 if a < b } yield (a, b)
    val got = Graph.triangleCounts(k4.toDF("src", "dst"),
        col("src"), col("dst"))
      .as[(Int, Long, Long)].collect().toSet
    assert(got === (0 to 3).map(n => (n, 3L, 3L)).toSet)
  }

  test("checkConstraints: every rule type, null scoping, one row per " +
    "rule in name order") {
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 5.0, "A"), (1L, 25.0, "B"), (2L, null, "A"),
      (null, -1.0, "zz"), (3L, 99.0, null)
    ).toDF("k", "x", "f")
    val got = Stats.checkConstraints(df, Seq(
      Stats.Rule.NotNull("k"),
      Stats.Rule.InRange("x", 0, 50),
      Stats.Rule.InSet("f", Seq("A", "B")),
      Stats.Rule.MatchesRe("f", "^[A-Z]$"),
      Stats.Rule.Holds("x_over_10", col("x") > 10),
      Stats.Rule.Unique(Seq("k"))))
      .as[(String, Long, Long, Double)].collect().toList
    assert(got === List(
      // null x/f are out of scope for range/set/regex; null pred fails Holds
      ("in_range(x)", 5L, 2L, 0.4),            // -1.0 and 99.0
      ("in_set(f)", 5L, 1L, 0.2),              // "zz"
      ("matches(f)", 5L, 1L, 0.2),             // "zz"
      ("not_null(k)", 5L, 1L, 0.2),            // the null k
      ("unique(k)", 5L, 2L, 0.4),              // k=1 twice + the null-k row
                                               //   (nulls can't assert
                                               //   uniqueness — contract)
      ("x_over_10", 5L, 3L, 0.6)))             // 5.0, null, -1.0
  }

  test("checkConstraints rejects empty and duplicate rule panels") {
    val df = Seq((1, "a")).toDF("k", "f")
    intercept[IllegalArgumentException] {
      Stats.checkConstraints(df, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Stats.checkConstraints(df,
        Seq(Stats.Rule.NotNull("k"), Stats.Rule.NotNull("k")))
    }
  }

  test("regressionByGroup == the same closed form over driver " +
    "BigDecimal sums; constant-x group yields nulls") {
    val rng = new Lcg(11L)
    val rows = (0 until 500).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      val x = BigDecimal(rng.nextInt(5000), 2) // exact 2-decimals
      val y = BigDecimal(rng.nextInt(900000) - 450000, 2)
      (g, x, y)
    } ++ (0 until 10).map(i => ("const", BigDecimal(7), BigDecimal(i)))
    val df = rows.toDF("g", "x", "y")
      .select(col("g"), col("x").cast("decimal(18,2)").as("x"),
        col("y").cast("decimal(18,2)").as("y"))
    val got = Stats.regressionByGroup(df, Seq("g"), col("x"), col("y"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    for (g <- Seq("a", "b")) {
      val grp = rows.filter(_._1 == g)
      val cn = grp.size.toDouble
      val sx = grp.map(_._2).sum.toDouble
      val sy = grp.map(_._3).sum.toDouble
      val sxy = grp.map(r => r._2 * r._3).sum.toDouble
      val sxx = grp.map(r => r._2 * r._2).sum.toDouble
      val syy = grp.map(r => r._3 * r._3).sum.toDouble
      val covN = cn * sxy - sx * sy
      val varX = cn * sxx - sx * sx
      val varY = cn * syy - sy * sy
      val slope = covN / varX
      val (_, n, s, ic, r2) = got(g)
      assert(n === grp.size)
      assert(s === Some(slope))
      assert(ic === Some((sy - slope * sx) / cn))
      assert(r2 === Some(covN * covN / (varX * varY)))
    }
    val (_, nc, sc, icc, r2c) = got("const")
    assert(nc === 10L && sc.isEmpty && icc.isEmpty && r2c.isEmpty)
  }

  // ------------------------------------------------ product quantization

  private def pqCorpus(seed: Long, n: Int, dim: Int): Seq[(Long, Seq[Double])] = {
    val rng = new Lcg(seed)
    (0L until n).map(id =>
      (id, Seq.fill(dim)((rng.nextInt(2001) - 1000) / 250.0)))
  }

  test("PqIndex encode/decode and the pq_adc kernel match a driver " +
    "brute force bit-for-bit") {
    val vecs = pqCorpus(21L, 40, 8)
    val df = vecs.toDF("vec_id", "e")
    val idx = Similarity.PqIndex.train(df, "e", m = 4, ksub = 4,
      sampleLimit = 40)
    assert(idx.dsub === 2 && idx.dim === 8)
    // driver encode: same bias form, same accumulation order, FIRST max
    def encodeDriver(v: Seq[Double]): Seq[Int] = (0 until idx.m).map { s =>
      val scores = idx.codebooks(s).map { c =>
        var t = -0.5 * c.map(x => x * x).sum
        var j = 0
        while (j < idx.dsub) { t += c(j) * v(s * idx.dsub + j); j += 1 }
        t
      }
      scores.indexOf(scores.max)
    }
    def reconDriver(codes: Seq[Int]): Seq[Double] =
      (0 until idx.m).flatMap(s => idx.codebooks(s)(codes(s)))
    val enc = idx.encode(col("e"))
    val got = df.select(col("vec_id"), enc.as("codes"),
        idx.decode(enc).as("recon"),
        VectorExprs.pq_adc(col("e"), enc, idx.flat, idx.dsub).as("adc"),
        VectorExprs.pq_adc(typedLit(Seq.fill(idx.dim)(1.0)), enc,
          idx.flatSq, idx.dsub).as("rn2"))
      .as[(Long, Seq[Int], Seq[Double], Double, Double)].collect()
    for ((id, codes, recon, adc, rn2) <- got) {
      val v = vecs(id.toInt)._2
      val expCodes = encodeDriver(v)
      assert(codes === expCodes, s"codes id=$id")
      val expRecon = reconDriver(expCodes)
      assert(recon === expRecon, s"recon id=$id")
      // kernel accumulates subspace-major, j ascending — the same
      // left-to-right order as a flat dot over the reconstruction
      var expAdc = 0.0
      for (j <- 0 until idx.dim) expAdc += v(j) * expRecon(j)
      assert(adc === expAdc, s"adc id=$id")
      var expRn2 = 0.0
      for (j <- 0 until idx.dim) expRn2 += expRecon(j) * expRecon(j)
      assert(rn2 === expRn2, s"rn2 id=$id")
    }
  }

  test("pq_adc surfaces malformed input as null; train rejects a dim " +
    "not divisible by m") {
    val vecs = pqCorpus(22L, 20, 8)
    val df = vecs.toDF("vec_id", "e")
    val idx = Similarity.PqIndex.train(df, "e", m = 4, ksub = 4,
      sampleLimit = 20)
    val shortVec = typedLit(Seq(1.0, 2.0)) // < m·dsub
    val badCodes = typedLit(Seq(0, 1, 99, 0)) // 99 ∉ [0, ksub)
    val okCodes = typedLit(Seq(0, 1, 2, 3))
    val r = df.limit(1).select(
        VectorExprs.pq_adc(shortVec, okCodes, idx.flat, idx.dsub).as("a"),
        VectorExprs.pq_adc(col("e"), badCodes, idx.flat, idx.dsub).as("b"),
        VectorExprs.pq_adc(col("e"), okCodes, idx.flat, idx.dsub).as("c"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1) && !r.isNullAt(2))
    intercept[IllegalArgumentException] {
      Similarity.PqIndex.train(df, "e", m = 3, ksub = 4, sampleLimit = 20)
    }
  }

  test("pqTopK with a corpus-covering rescore budget equals brute-force " +
    "top-k exactly") {
    val vecs = pqCorpus(23L, 40, 8) :+ (40L, Seq.fill(8)(0.0)) // zero-norm
    val df = vecs.toDF("vec_id", "e")
    val idx = Similarity.PqIndex.train(df, "e", m = 4, ksub = 4,
      sampleLimit = 41)
    val q = df.filter(col("vec_id") < 5)
    // 3·20 = 60 ≥ |corpus|: every candidate is exactly rescored, so the
    // PQ path must reduce to brute force (the IvfSpec nprobe==nlist idiom)
    val got = Similarity.pqTopK(q, df, "vec_id", "e", k = 3, index = idx,
        rescoreFactor = 20)
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, df, "vec_id", "e", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === exact)
    assert(!got.exists(_._2 == 40L)) // the zero-norm row never surfaces
  }

  test("ivfPqTopK with nprobe == nlist and a corpus-covering rescore " +
    "budget equals brute-force top-k exactly") {
    val vecs = pqCorpus(24L, 60, 8) :+ (60L, Seq.fill(8)(0.0)) // zero-norm
    val df = vecs.toDF("vec_id", "e")
    val coarse = Similarity.IvfIndex.train(df, "e", nlist = 4,
      sampleLimit = 61)
    val pq = Similarity.trainPqResidualsCached("spec:24:res", df, "e",
      coarse, m = 4, ksub = 4)
    val q = df.filter(col("vec_id") < 5)
    // nprobe = nlist: every list is probed; rescore budget ≥ |corpus|:
    // every candidate exactly rescored — the composite must reduce to
    // brute force (the IvfSpec nprobe==nlist idiom)
    val got = Similarity.ivfPqTopK(q, df, "vec_id", "e", k = 3,
        coarse = coarse, pq = pq, nprobe = 4, rescoreFactor = 30)
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, df, "vec_id", "e", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === exact)
    assert(!got.exists(_._2 == 60L)) // the zero-norm row never surfaces
  }

  test("IVF-PQ reconstruction-norm decomposition matches the decoded " +
    "vector, and residual codebooks beat raw-vector codebooks on " +
    "quantization error") {
    val vecs = pqCorpus(25L, 50, 8)
    val df = vecs.toDF("vec_id", "e")
    val coarse = Similarity.IvfIndex.train(df, "e", nlist = 4,
      sampleLimit = 50)
    val pq = Similarity.trainPqResidualsCached("spec:25:res", df, "e",
      coarse, m = 4, ksub = 8)
    val cents = typedLit(coarse.centroids.map(_.toSeq).toSeq)
    val ones = typedLit(Seq.fill(8)(1.0))
    val rows = df.select(col("e"),
        element_at(cents, coarse.assignK(col("e"), 1)(0) + 1).as("c"))
      .withColumn("codes",
        pq.encode(zip_with(col("e"), col("c"), (a, b) => a - b)))
      .select(col("e"), col("c"), col("codes"),
        // the ivfPqTopK encode-side identity:
        // ‖c+r̂‖² = ‖c‖² + 2·c·r̂ + ‖r̂‖², all read off the codes
        (VectorExprs.vec_dot(col("c"), col("c")) +
          lit(2.0) * VectorExprs.pq_adc(col("c"), col("codes"),
            pq.flat, pq.dsub) +
          VectorExprs.pq_adc(ones, col("codes"), pq.flatSq, pq.dsub))
          .as("rn2_kernel"),
        zip_with(col("c"), pq.decode(col("codes")), (a, b) => a + b)
          .as("recon"))
      .as[(Seq[Double], Seq[Double], Seq[Int], Double, Seq[Double])]
      .collect()
    var residErr = 0.0
    for ((v, c, _, rn2, recon) <- rows) {
      val rn2Direct = recon.map(x => x * x).sum
      assert(math.abs(rn2 - rn2Direct) <=
        1e-12 * math.max(1.0, rn2Direct), s"rn2 $rn2 vs $rn2Direct")
      residErr += v.zip(recon).map { case (a, b) =>
        (a - b) * (a - b) }.sum
      assert(c.indices.forall(i => !c(i).isNaN))
    }
    // raw-vector PQ at the same budget: quantization error must be
    // strictly worse than coarse+residual coding (the reason IVF-PQ
    // codes residuals at all)
    val rawPq = Similarity.PqIndex.train(df, "e", m = 4, ksub = 8,
      sampleLimit = 50)
    val rawErr = df.select(col("e"),
        rawPq.decode(rawPq.encode(col("e"))).as("recon"))
      .as[(Seq[Double], Seq[Double])].collect()
      .map { case (v, r) =>
        v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum }.sum
    assert(residErr < rawErr,
      f"residual MSE $residErr%.4f !< raw MSE $rawErr%.4f")
  }
}
