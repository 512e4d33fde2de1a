package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{CsvOptions, CsvReader}

/** Round-8 verdict items: knee-aware LSH dispatch, scaled-geometry
  * parameter plumbing (targetBucket / maxPlanesPerBand), the exact
  * topPairs row-count guard, and readUrl credential modes.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------- knee-aware dispatch

  test("autoLshGeometry keeps hand geometry while occupancy is under cap") {
    // q92's oracle-gate ceiling: 12-bit width, occupancy 22k/4096 ≈ 5.4
    val (r, b, switched) =
      Similarity.autoLshGeometry(22000L, 12, 12, targetCos = 0.9967)
    assert((r, b, switched) == (12, 12, false))
    // exactly at the cap boundary: 16 * 2^12 stays on the hand branch
    val atCap = Similarity.autoLshGeometry(16L * 4096, 12, 12, 0.9967)
    assert(!atCap._3)
  }

  test("autoLshGeometry switches to scaled bits past the occupancy knee") {
    // one row past the measured occupancy-16 knee for a 12-bit width
    val n = 16L * 4096 + 1
    val (r, b, switched) =
      Similarity.autoLshGeometry(n, 12, 12, targetCos = 0.9967,
        maxMiss = 1.5e-7)
    assert(switched)
    val expected =
      Similarity.scaledLshGeometry(n, 0.9967, 1.5e-7)
    assert((r, b) == expected)
    assert(r > 12, "scaled width must widen past the hand geometry's knee")
  }

  test("scaledLshGeometry honors targetBucket and maxPlanesPerBand") {
    // beyond 2^20 * 16 ≈ 16.8M vectors the default 20-bit cap saturates;
    // raising the cap lets the width keep tracking occupancy
    val n = 100000000L // 100M: log2(n/16) ≈ 22.6
    assert(Similarity.scaledLshGeometry(n)._1 == 20)
    assert(Similarity.scaledLshGeometry(n, maxPlanesPerBand = 24)._1 == 23)
    // a larger target bucket trades candidate work for fewer bits
    assert(Similarity.scaledLshGeometry(1000000L)._1 == 16)
    assert(Similarity.scaledLshGeometry(1000000L, targetBucket = 64)._1 == 14)
    intercept[IllegalArgumentException] {
      Similarity.scaledLshGeometry(n, maxPlanesPerBand = 64)
    }
    intercept[IllegalArgumentException] {
      Similarity.scaledLshGeometry(n, targetBucket = 0)
    }
  }

  private def plantedVecs(dim: Int = 16) = {
    val rnd = new java.util.SplittableRandom(17L)
    val base = (0L until 200L).map { id =>
      (id, Array.fill(dim)(rnd.nextDouble() * 2 - 1)) }
    val planted = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 1000L, v.map(_ + 0.001)) }
    (base ++ planted).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
  }

  test("cosinePairsLshAuto matches exact pairs on BOTH dispatch branches") {
    // threshold 0.98 keeps only the planted twins (cos ≈ 0.999999) in
    // the exact set — the 19-bit scaled branch's per-pair miss is ~0
    // there but a few percent for a chance background pair near 0.95
    val dim = 16
    val df = plantedVecs(dim)
    val exact = Similarity.cosinePairs(df, "id", "vec", threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must plant qualifying pairs")
    // hand branch: 220 vectors, occupancy 220/2^12 ≈ 0.05 <= the
    // dispatcher's measured occupancyCap default of 16
    val hand = Similarity.cosinePairsLshAuto(df, "id", "vec", 0.98,
        dim = dim, planesPerBand = 12, bands = 12, targetCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hand == exact, s"hand branch missed=${(exact -- hand).size}")
    // scaled branch forced via knownCount: the claimed corpus size, not
    // the physical one, drives the width (log2(5M/16) ≈ 18.3 → 19
    // bits); planted twins still band-collide because band keys hash
    // the actual signatures
    val scaled = Similarity.cosinePairsLshAuto(df, "id", "vec", 0.98,
        dim = dim, planesPerBand = 12, bands = 12, targetCos = 0.99,
        knownCount = Some(5000000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scaled == exact, s"scaled branch missed=${(exact -- scaled).size}")
  }

  test("cosinePairsLshAuto plumbs targetBucket/maxPlanesPerBand") {
    val df = plantedVecs()
    // tiny corpus: geometry clamps to the r=7 floor either way; the
    // point is the parameters reach the geometry without error. The
    // scaled geometry, handed to the router as its hand geometry, stays
    // under the occupancy cap, so the router runs exactly that geometry
    val n = df.count()
    val (r, b) = Similarity.scaledLshGeometry(n, targetCos = 0.99,
      maxMiss = 1e-8, targetBucket = 8, maxPlanesPerBand = 10)
    assert(!Similarity.autoLshGeometry(n, r, b, 0.99)._3)
    val got = Similarity.cosinePairsLshAuto(df, "id", "vec", 0.95,
        dim = 16, planesPerBand = r, bands = b, targetCos = 0.99,
        targetBucket = 8, maxPlanesPerBand = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosinePairs(df, "id", "vec", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact)
  }

  test("topPairsLshScaled recovers planted top pairs at two band geometries") {
    val dim = 16
    val df = plantedVecs(dim)
    val planted = Similarity.cosinePairs(df, "id", "vec", threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.size >= 20)
    def top20(targetBucket: Int) =
      Similarity.topPairsLshScaled(df, "id", "vec", n = 20, dim = dim,
          targetCos = 0.99, targetBucket = targetBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // two band geometries (220 vectors: 7 bits at bucket 16, 8 bits at
    // bucket 1) agree: the global top 20 are all planted twins
    // (cos ≈ 0.999999)
    val rows = df.count()
    assert(Similarity.scaledLshGeometry(rows, 0.99, targetBucket = 16) !=
      Similarity.scaledLshGeometry(rows, 0.99, targetBucket = 1))
    val hand = top20(16)
    val scaled = top20(1)
    assert(hand.subsetOf(planted) && hand.size == 20)
    assert(scaled == hand)
  }

  // ---------------------------------------------- exact-contract guard

  test("topPairs trips its row cap with an actionable error") {
    val dim = 8
    val df = (0L until 50L)
      .map(i => (i, Array.fill(dim)(1.0 + i)))
      .toDF("id", "vec")
    val err = intercept[IllegalArgumentException] {
      Similarity.topPairs(df, "id", "vec", n = 5, maxRows = 10L).collect()
    }
    assert(err.getMessage.contains("topPairsLshScaled"),
      "the error must route the caller to the scale path")
    // under the cap and with the guard disabled both still work
    assert(Similarity.topPairs(df, "id", "vec", 5, maxRows = 50L)
      .count() == 5)
    assert(Similarity.topPairs(df, "id", "vec", 5, maxRows = 0L)
      .count() == 5)
  }

  // ------------------------------------- prefix-filter containment join

  test("containmentPairsPrefix == containmentPairs on fuzz corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.Dedup
    val wordGen = Gen.choose('a', 'f').map(_.toString)
    val docGen: Gen[String] =
      Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen: Gen[Seq[String]] =
      Gen.choose(2, 9).flatMap(n => Gen.listOfN(n, docGen))
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    for (si <- 1 to 20; threshold <- Seq(0.4, 0.7)) {
      val docs = corpusGen.pureApply(Gen.Parameters.default, Seed(si.toLong))
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("id", "text")
      val exact = Dedup.containmentPairs(df, "id", "text", threshold, 2)
        .select("id_a", "id_b", "inter", "containment")
        .collect().map(row).toSet
      val prefix = Dedup.containmentPairsPrefix(df, "id", "text", threshold, 2)
        .select("id_a", "id_b", "inter", "containment")
        .collect().map(row).toSet
      assert(prefix == exact,
        s"seed=$si t=$threshold missed=${exact -- prefix} extra=${prefix -- exact}")
    }
  }

  test("containmentPairsPrefix honors the maxShingleDf stopword cap") {
    import graft.operators.Dedup
    // 'x y z' is a hot shingle shared by every doc; cap 2 removes it
    // from every doc's set in BOTH implementations
    val docs = Seq(
      0L -> "x y z a b c d",
      1L -> "x y z a b c e",
      2L -> "x y z p q r s",
      3L -> "x y z p q r t").toDF("id", "text")
    for (cap <- Seq(0, 2)) {
      val exact = Dedup.containmentPairs(docs, "id", "text", 0.5, 3,
          maxShingleDf = cap)
        .select("id_a", "id_b", "inter", "containment")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val prefix = Dedup.containmentPairsPrefix(docs, "id", "text", 0.5, 3,
          maxShingleDf = cap)
        .select("id_a", "id_b", "inter", "containment")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(prefix == exact, s"cap=$cap")
    }
  }

  test("containmentPairsPrefix finds a short doc embedded in a long one") {
    import graft.operators.Dedup
    // Jaccard of (5-shingle short, 48-shingle long) is ~0.1 — the
    // asymmetric pair MinHash banding is blind to; containment is 1.0
    val short = "the quick brown fox jumps over it"
    val filler = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq(0L -> short, 1L -> (filler + " " + short))
      .toDF("id", "text")
    val got = Dedup.containmentPairsPrefix(docs, "id", "text", 0.9, 3)
      .collect()
    assert(got.length == 1)
    assert(got.head.getDouble(3) == 1.0)
  }

  // ---------------------------------------------- readUrl credentials

  test("effectiveHeaders applies the credential policy") {
    val uri = java.net.URI.create("http://example.test/data.csv")
    val hdrs = Map("Accept" -> "text/csv", "cookie" -> "a=1",
      "Authorization" -> "Basic xyz")
    // Omit strips ambient credentials, case-insensitively, keeps the rest
    val omitted =
      CsvReader.effectiveHeaders(hdrs, CsvReader.UrlCredentials.Omit, uri)
    assert(omitted == Map("Accept" -> "text/csv"))
    // SameOrigin (default) passes the explicit headers through untouched
    assert(CsvReader.effectiveHeaders(hdrs,
      CsvReader.UrlCredentials.SameOrigin, uri) == hdrs)
    // Bearer adds the Authorization header
    val bearer = CsvReader.effectiveHeaders(Map.empty,
      CsvReader.UrlCredentials.Bearer("tok123"), uri)
    assert(bearer == Map("Authorization" -> "Bearer tok123"))
  }

  test("Include mode replays cookies from the process jar") {
    val uri = java.net.URI.create("http://cookies.test/data.csv")
    val cookie = new java.net.HttpCookie("session", "s3cr3t")
    cookie.setPath("/")
    cookie.setVersion(0)
    CsvReader.cookieJar.getCookieStore.add(uri, cookie)
    try {
      val inc = CsvReader.effectiveHeaders(Map("Cookie" -> "pre=1"),
        CsvReader.UrlCredentials.Include, uri)
      assert(inc("Cookie") == "pre=1; session=s3cr3t")
      // without credentials the jar is ignored
      val same = CsvReader.effectiveHeaders(Map.empty,
        CsvReader.UrlCredentials.SameOrigin, uri)
      assert(!same.contains("Cookie"))
    } finally {
      CsvReader.cookieJar.getCookieStore.remove(uri, cookie): Unit
    }
  }

  test("readUrl parses over file:// in an Authorization-bearing mode") {
    val p = writeTmp("auth.csv", "name,age\nada,36\ngrace,47\n")
    val scan = CsvReader.readUrl(spark, s"file://$p", CsvOptions(),
      credentials = CsvReader.UrlCredentials.Bearer("tok"))
    assert(scan.df.count() == 2)
    assert(scan.df.select("name").as[String].collect().sorted
      .sameElements(Array("ada", "grace")))
    // Omit mode fetches too (headers stripped, body identical)
    val scanOmit = CsvReader.readUrl(spark, s"file://$p", CsvOptions(),
      headers = Map("Authorization" -> "Basic x"),
      credentials = CsvReader.UrlCredentials.Omit)
    assert(scanOmit.df.count() == 2)
  }
}
