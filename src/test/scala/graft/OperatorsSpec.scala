package graft

import org.apache.spark.sql.functions._

import graft.functions.Coercions
import graft.operators.{Aggregates, Dedup, FilterLang, Joins}
import graft.operators.Aggregates.AggSpec
import graft.operators.Ops._

/** Operator-level golden cases from FIXTURES.md §7 + §5. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ aggregates

  test("count includes nulls (group size), sum/mean zero on empty") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)), ("b", None))
      .toDF("g", "v")
    val out = Aggregates.groupByAgg(df, "g", Seq(
      AggSpec("n", "v", "count"), AggSpec("s", "v", "sum"),
      AggSpec("m", "v", "mean")))
      .orderBy("g").collect()
    assert(out(0).getLong(1) == 3)       // a: count counts the null too
    assert(out(1).getLong(1) == 1)       // b: 1-row group
    assert(out(1).getDouble(2) == 0.0)   // b: sum of no numerics = 0
    assert(out(1).getDouble(3) == 0.0)   // b: mean of no numerics = 0
  }

  test("stddev is population; median exact avg-of-middle-pair; concat joins ', '") {
    val df = Seq(("g", 1.0, "x"), ("g", 2.0, "y"), ("g", 3.0, "z"), ("g", 4.0, "w"))
      .toDF("g", "v", "s")
    val out = Aggregates.groupByAgg(df, "g", Seq(
      AggSpec("sd", "v", "stddev"), AggSpec("med", "v", "median"),
      AggSpec("c", "s", "concat"))).collect()(0)
    assert(math.abs(out.getDouble(1) - math.sqrt(1.25)) < 1e-12) // ÷n, not n-1
    assert(out.getDouble(2) == 2.5)                              // (2+3)/2
    assert(out.getString(3) == "w, x, y, z")                     // sorted concat
  }

  test("ungrouped column agg parses currency strings (Zig path)") {
    val df = Seq("1,234.56", "$99.99", "50", "(10)").toDF("v")
    val out = Aggregates.columnAgg(df, "v", "sum").collect()(0)
    assert(math.abs(out.getDouble(0) - (1234.56 + 99.99 + 50 - 10)) < 1e-9)
  }

  // ----------------------------------------------------------------- joins

  test("right-wins column overlap on matched rows only") {
    val left = Seq((1, "L1", "lv1"), (2, "L2", "lv2"), (3, "L3", "lv3"))
      .toDF("k", "name", "only_l")
    val right = Seq((1, "R1"), (3, "R3")).toDF("k", "name")
    val out = Joins.joinRef(left, right, "k", "left")
      .orderBy("k").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("R1", "L2", "R3"))
    assert(out.map(_.getString(2)).toSeq == Seq("lv1", "lv2", "lv3"))
  }

  test("right wins even when the right value is null (JS spread semantics)") {
    val left = Seq((1, "L1")).toDF("k", "name")
    val right = Seq((1, null.asInstanceOf[String])).toDF("k", "name")
    val out = Joins.joinRef(left, right, "k", "inner").collect()
    assert(out(0).isNullAt(1))
  }

  test("full join keeps unmatched rows from both sides") {
    val left = Seq((1, "a"), (2, "b")).toDF("k", "l")
    val right = Seq((2, "x"), (3, "y")).toDF("k", "r")
    val out = Joins.joinRef(left, right, "k", "full")
    assert(out.count() == 3)
  }

  test("cross join is a real cross join (reference declared-unimplemented)") {
    val l = Seq(1, 2).toDF("a")
    val r = Seq("x", "y", "z").toDF("b")
    assert(Joins.joinRef(l, r, "a", "b", "cross").count() == 6)
  }

  // ------------------------------------------------------------- filterlang

  test("filter language: numeric, equality, string ops, boolean combos") {
    val df = Seq(("apple", "10"), ("banana", "25"), ("cherry", "100"))
      .toDF("name", "qty")
    assert(df.filterExpr("qty > 20").count() == 2)
    assert(df.filterExpr("qty >= 100").count() == 1) // numeric, not lexicographic
    assert(df.filterExpr("name == apple").count() == 1)
    assert(df.filterExpr("name contains an").count() == 1)
    assert(df.filterExpr("name startsWith ch").count() == 1)
    assert(df.filterExpr("name endsWith le").count() == 1)
    assert(df.filterExpr("name matches ^[ab].*").count() == 2)
    assert(df.filterExpr("qty > 20 && name contains an").count() == 1)
    assert(df.filterExpr("name == apple || name == cherry").count() == 2)
  }

  test("packSequencesSharded == per-shard packSequences; every doc exactly once") {
    import graft.operators.Curation
    val docs = (1L to 200L).map(i => (i, (i % 37) + 1)).toDF("id", "nt")
    val sharded = Curation.packSequencesSharded(docs, "id", col("nt"), 64, 4)
    assert(sharded.count() == 200)
    assert(sharded.select("id").distinct().count() == 200)
    val withShard = docs.withColumn("shard", pmod(hash(col("id")), lit(4)))
    for (s <- 0 until 4) {
      val sub = withShard.filter(col("shard") === s).select("id", "nt")
      val expect = Curation.packSequences(sub, "id", col("nt"), 64)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      val got = sharded.filter(col("shard") === s)
        .select("id", "start_off", "bin")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"shard $s")
    }
  }

  test("funnel counts cumulative stages in one pass") {
    import graft.operators.Curation
    val df = Seq((1, "en", 0.9), (2, "en", 0.3), (3, "de", 0.9), (4, "en", 0.8))
      .toDF("id", "lang", "q")
    val got = Curation.funnel(df, Seq(
      "total" -> lit(true),
      "en" -> (col("lang") === "en"),
      "hi_q" -> (col("q") >= 0.5)))
      .orderBy("stage").collect().map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("total", 4L), ("en", 3L), ("hi_q", 2L)))
  }

  test("connectedComponents: chains, cycles, singletons get min-id labels") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20} singleton
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    val got = Dedup.connectedComponents(vertices, "id", pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    // localEdgeLimit = 0 forces the distributed propagation loop — both
    // paths must produce identical labels
    val dist = Dedup.connectedComponents(vertices, "id", pairs, "a", "b",
        localEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == expected)
  }

  test("connectedComponents: deep chain, ghost ids, random graphs") {
    // a 64-node path is the adversarial case for min-label propagation
    // (64 rounds, past the 50-round cap): the default route finishes it
    // with the local union-find endgame and must label it all 1
    val n = 64
    val vertices = (1L to n.toLong).toDF("id")
    val chain = (1L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(vertices, "id", chain, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n && got.forall(_._2 == 1L))
    // pair endpoints outside the vertex set relay nothing and never
    // become labels, on both routes
    val ghostPairs = Seq((5L, 1L), (1L, 10L)).toDF("a", "b")
    val ghostVs = Seq(5L, 10L).toDF("id")
    for (limit <- Seq(1000000L, 0L)) {
      val ghost = Dedup.connectedComponents(ghostVs, "id", ghostPairs, "a",
          "b", localEdgeLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(ghost == Map(5L -> 5L, 10L -> 10L), s"localEdgeLimit=$limit")
    }
    // seeded random graphs: the union-find endgame and the distributed
    // propagation loop (localEdgeLimit = 0) must agree exactly
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val nV = 60
      val vsR = (1L to nV.toLong).toDF("id")
      val edges = Seq.fill(45)((rnd.nextInt(nV) + 1L, rnd.nextInt(nV) + 1L))
        .filter(t => t._1 != t._2).toDF("a", "b")
      val p = Dedup.connectedComponents(vsR, "id", edges, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val pd = Dedup.connectedComponents(vsR, "id", edges, "a", "b",
          localEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(pd == p, "union-find endgame vs distributed loop diverged")
    }
  }

  test("lang_marker_scores byte scan == the HOF langScores pipeline") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the higher-order-function pipeline the kernel replaced: per
    // language, the count of lowercased tokens among its markers
    val toks = graft.functions.TextFunctions.tokensWs(lower(col("text")))
    val hof = graft.functions.TextFunctions.LangMarkers.toMap.map {
      case (lang, words) =>
        lang -> size(filter(toks, t => t.isin(words.map(x => x: Any): _*)))
    }
    val fast = graft.functions.TextExprs.lang_marker_scores(lower(col("text")))
    val diff = docs.select(
      hof("en").as("e1"), hof("de").as("d1"), hof("fr").as("f1"), hof("es").as("s1"),
      element_at(fast, 1).as("e2"), element_at(fast, 2).as("d2"),
      element_at(fast, 3).as("f2"), element_at(fast, 4).as("s2"))
      .filter(col("e1") =!= col("e2") || col("d1") =!= col("d2") ||
        col("f1") =!= col("f2") || col("s1") =!= col("s2"))
    assert(diff.count() == 0)
    // whitespace variety + empty + no-match
    val edge = Seq("the  quick\tthe\nof", "", "   ", "xyz qqq", "The THE tHe")
      .toDF("text")
    val got = edge.select(element_at(
      graft.functions.TextExprs.lang_marker_scores(lower(col("text"))), 1))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3, 0, 0, 0, 3))
  }

  test("filter language ==/!= compare strings on string data (filter.ts:30-43)") {
    // Reference: row[col] === val — "25.0" == 25 is FALSE (string compare),
    // and != keeps missing cells (JS undefined !== val is true).
    val df = Seq(Some("25.0"), Some("25"), None).toDF("qty")
    assert(df.filterExpr("qty == 25").count() == 1)   // only the exact "25"
    assert(df.filterExpr("qty != 25").count() == 2)   // "25.0" AND the null
    // Ordering ops still parse floats: both non-null rows are >= 25.
    assert(df.filterExpr("qty >= 25").count() == 2)
    // Typed numeric columns (our extension) compare natively with SQL nulls.
    val typed = Seq(Some(25.0), Some(26.0), None).toDF("qty")
    assert(typed.filterExpr("qty == 25").count() == 1)
    assert(typed.filterExpr("qty != 25").count() == 1) // SQL: null drops
  }

  test("filter language falls back to Spark SQL expr") {
    val df = Seq((1, 2), (3, 1)).toDF("a", "b")
    assert(df.filterExpr("a + b > 3").count() == 1)
  }

  // -------------------------------------------------------------- coercions

  test("coercion edge values") {
    val df = Seq("$1,234.56", "(500)", "75%", " 42 ", "bogus").toDF("v")
    val out = df.select(Coercions.numberLoose(col("v")).as("n")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(out(0) == 1234.56 && out(1) == -500.0 && out(2) == 0.75 &&
      out(3) == 42.0 && out(4) == null)
  }

  test("integerLoose truncates like parseInt") {
    val df = Seq("1,200", "12.7", "-5", "x").toDF("v")
    val out = df.select(Coercions.integerLoose(col("v")).as("n")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(out.toSeq == Seq(1200L, 12L, -5L, null))
  }

  test("boolean loose accepts y/n/1/0 case-insensitive") {
    val df = Seq("TRUE", "n", "1", "No", "maybe").toDF("v")
    val out = df.select(Coercions.boolLoose(col("v")).as("b")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(out.toSeq == Seq(true, false, true, false, null))
  }

  // ------------------------------------------------------------ dedup recall

  test("minhash LSH recovers exact-jaccard near-dup pairs on testdata") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sketch = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(exact.subsetOf(sketch),
      s"minhash missed ${exact.diff(sketch)}")
  }

  test("upsert: delta replaces matched keys, appends new ones, keeps rest") {
    val target = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "n")
    val delta = Seq((2L, "B", 99), (4L, "d", 40)).toDF("k", "v", "n")
    val got = Joins.upsert(target, delta, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "a", 10), (2L, "B", 99), (3L, "c", 30),
      (4L, "d", 40)))
    // composite keys
    val t2 = Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("k1", "k2", "v")
    val d2 = Seq((1L, "y", 9.0)).toDF("k1", "k2", "v")
    val got2 = Joins.upsert(t2, d2, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got2 == Set((1L, "x", 1.0), (1L, "y", 9.0)))
  }

  test("fuzzyJoin equals driver brute-force cross Jaccard on testdata") {
    import graft.functions.TextFunctions
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
    val left = d.filter(col("doc_id") % 2 === 0)
    val right = d.filter(col("doc_id") % 2 === 1)
    val got = Dedup.fuzzyJoin(left, "doc_id", "text",
        right, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over collected shingle sets
    def shingles(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), TextFunctions.tokensWs(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).sliding(3).filter(_.size == 3)
          .map(_.mkString(" ")).toSet).toMap
    val sl = shingles(left); val sr = shingles(right)
    val want = (for {
      (ia, sa) <- sl.toSeq; (ib, sb) <- sr.toSeq
      inter = (sa & sb).size
      union = sa.size + sb.size - inter
      if union > 0 &&
        BigDecimal(inter.toDouble / union)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.5
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want.nonEmpty, "testdata should contain planted cross-side dups")
  }

  test("shingle-less docs never pair: no NaN jaccard, no sentinel collisions") {
    // docs shorter than shingleWords used to carry all-sentinel minhash
    // signatures: every empty pair band-collided and 0/0 = NaN passed
    // `>= threshold` (Spark orders NaN above all numbers)
    val docs = Seq((1L, "hi"), (2L, "yo"), (3L, ""),
      (4L, "alpha beta gamma delta"), (5L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.jaccardPairsLsh(docs, "doc_id", "text", 0.5))
      == Set((4L, 5L)))
    assert(pairs(Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5))
      == Set((4L, 5L)))
    assert(pairs(Dedup.fuzzyJoin(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 0.5))
      == Set((5L, 4L)))
  }

  test("jaccardPairsLsh matches the sparse exact plan") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "inter", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val sparse = pairs(Dedup.jaccardPairs(docs, "doc_id", "text", 0.5))
    assert(sparse.nonEmpty, "testdata should contain planted near-dups")
    val lsh = pairs(Dedup.jaccardPairsLsh(docs, "doc_id", "text", 0.5))
    assert(lsh == sparse, s"LSH-gated diverged: ${lsh.diff(sparse)} extra, " +
      s"${sparse.diff(lsh)} missing")
  }

  test("sorted_inter_count merges sorted distinct long sets") {
    import graft.functions.VectorExprs
    val df = Seq((Seq(1L, 5L, 9L, 12L), Seq(2L, 5L, 12L, 40L))).toDF("a", "b")
    val n = df.select(VectorExprs.sorted_inter_count(col("a"), col("b")))
      .collect()(0).getLong(0)
    assert(n == 2L)
    val empty = df.select(VectorExprs.sorted_inter_count(
      col("a"), typedlit(Seq.empty[Long]))).collect()(0).getLong(0)
    assert(empty == 0L)
  }

  test("exact dedup keeps min-id representative") {
    val df = Seq((1L, "same"), (5L, "same"), (3L, "other")).toDF("id", "t")
    val out = Dedup.exact(df, Seq("t"), "id").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }

  // ------------------------------------------------------------- multimodal

  test("multimodal: pack, stub-decode features, frame sampling") {
    import graft.operators.Multimodal
    implicit val s = spark
    val docs = Seq((1L, "hello world " * 50), (2L, "tiny")).toDF("id", "text")
    val packed = Multimodal.packText(docs, "id", "text")
    assert(packed.schema.fieldNames.toSeq == Seq("id", "media", "meta"))
    val media = packed.select("id", "media").as[(Long, Array[Byte])]
      .map { case (i, b) => Multimodal.MediaRow(i, b, "text/plain") }
    val feats = Multimodal.extractFeatures(media, dim = 4).collect()
    assert(feats.length == 2 && feats.forall(_.features.length == 4))
    val frames = Multimodal.sampleFrames(media, n = 3, frameBytes = 8).collect()
    assert(frames.count(_.id == 1L) == 3)
    assert(frames.forall(_.frame.length <= 8))
    // resize: output payload is exactly outW*outH*c regardless of input
    // size, deterministic across runs
    val resized = Multimodal.resize(media, 4, 5).collect()
    assert(resized.forall(r => r.width == 4 && r.height == 5 &&
      r.media.length == 4 * 5 * r.channels))
    val again = Multimodal.resize(media, 4, 5).collect()
    assert(resized.map(_.media.toSeq).toSeq == again.map(_.media.toSeq).toSeq)
  }

  test("multimodal: real BMP and PPM payloads decode bit-exactly") {
    import graft.operators.Multimodal
    // 3×2 RGB raster, distinct byte per (pixel, channel)
    val rgb = Array.tabulate(3 * 2 * 3)(i => (i * 7 + 1).toByte)
    for ((enc, fmt) <- Seq(
        (Multimodal.encodeBmp24(3, 2, rgb), "bmp"),
        (Multimodal.encodePpm(3, 2, rgb), "ppm"))) {
      val d = Multimodal.decode(enc)
      assert(d.format == fmt, s"$fmt: decoded as ${d.format}")
      assert(d.width == 3 && d.height == 2 && d.channels == 3)
      assert(d.pixels.toSeq == rgb.toSeq, s"$fmt pixel mismatch")
    }
    // PPM with comments + multi-whitespace header, per the netpbm spec
    val hdr = "P6 # c1\n# full-line comment\n 3\t2 # c2\n255\n".getBytes("US-ASCII")
    val ppm2 = hdr ++ rgb
    val d2 = Multimodal.decode(ppm2)
    assert(d2.format == "ppm" && d2.pixels.toSeq == rgb.toSeq)
    // truncated/corrupt headers fall back to the stub, never throw —
    // including height = Int.MinValue, where math.abs stays negative and
    // unguarded size arithmetic would NegativeArraySizeException
    val minHeightBmp = Multimodal.encodeBmp24(1, 1, Array[Byte](1, 2, 3))
    minHeightBmp(22) = 0; minHeightBmp(23) = 0
    minHeightBmp(24) = 0; minHeightBmp(25) = 0x80.toByte
    for (junk <- Seq("BMx".getBytes, "P6".getBytes,
        "P6\n999999999 999999999\n255\n".getBytes,
        Multimodal.encodeBmp24(3, 2, rgb).take(30).toArray,
        minHeightBmp)) {
      assert(Multimodal.decode(junk).format == "stub")
    }
    // non-media payloads keep the exact pre-decode stub behavior
    val text = "not an image".getBytes
    val s0 = Multimodal.decode(text)
    val (w, h, c) = Multimodal.decodeStub(text)
    assert(s0.width == w && s0.height == h && s0.channels == c &&
      (s0.pixels eq text))
  }

  test("multimodal: PNG decodes LOSSLESSLY via javax.imageio; JPEG " +
    "decode is deterministic (pinned JVM reader); sniffed-but-corrupt " +
    "payloads fall back to the stub") {
    import graft.operators.Multimodal
    val rgb = Array.tabulate(5 * 4 * 3)(i => (i * 11 + 3).toByte)
    // PNG: lossless — round trip is EXACT
    val png = Multimodal.encodePng(5, 4, rgb)
    val dp = Multimodal.decode(png)
    assert(dp.format == "png" && dp.width == 5 && dp.height == 4 &&
      dp.channels == 3)
    assert(dp.pixels.toSeq == rgb.toSeq)
    // JPEG: lossy — contract is decode DETERMINISM on the pinned JVM
    // reader + correct dims, never pixel equality with the source
    val jpg = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out))
      out.toByteArray
    }
    val d1 = Multimodal.decode(jpg)
    val d2 = Multimodal.decode(jpg)
    assert(d1.format == "jpeg" && d1.width == 5 && d1.height == 4 &&
      d1.channels == 3)
    assert(d1.pixels.toSeq == d2.pixels.toSeq)
    // magic-sniffed but corrupt: ImageIO fails → stub fallback, no throw
    val corruptPng = png.take(12).toArray
    val corruptJpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++
      Array.fill[Byte](40)(7)
    assert(Multimodal.decode(corruptPng).format == "stub")
    assert(Multimodal.decode(corruptJpeg).format == "stub")
    // non-sniffed bytes never reach ImageIO: exact stub behavior holds
    val text = "definitely text".getBytes
    assert(Multimodal.decodeImageIo(text).isEmpty)
  }

  test("multimodal: encode→decode is identity for random rasters (fuzz)") {
    import graft.operators.Multimodal
    val rnd = new java.util.SplittableRandom(99L)
    for (_ <- 1 to 50) {
      val w = 1 + rnd.nextInt(20)
      val h = 1 + rnd.nextInt(20)
      val rgb = new Array[Byte](w * h * 3)
      var i = 0
      while (i < rgb.length) { rgb(i) = rnd.nextInt(256).toByte; i += 1 }
      for ((enc, fmt) <- Seq(
          (Multimodal.encodeBmp24(w, h, rgb), "bmp"),
          (Multimodal.encodePpm(w, h, rgb), "ppm"))) {
        val d = Multimodal.decode(enc)
        assert(d.format == fmt && d.width == w && d.height == h &&
          d.pixels.toSeq == rgb.toSeq, s"$fmt ${w}x$h")
      }
    }
  }

  test("multimodal: resize runs exact nearest-neighbor on a real BMP") {
    import graft.operators.Multimodal
    implicit val s = spark
    import s.implicits._
    // 4×4 grid: pixel (x, y) has R = y*4+x, G = 100 + R, B = 200 + R
    val rgb = new Array[Byte](4 * 4 * 3)
    for (y <- 0 until 4; x <- 0 until 4) {
      val v = y * 4 + x
      rgb(v * 3) = v.toByte
      rgb(v * 3 + 1) = (100 + v).toByte
      rgb(v * 3 + 2) = (200 + v).toByte
    }
    val ds = Seq(Multimodal.MediaRow(1L, Multimodal.encodeBmp24(4, 4, rgb),
      "image/bmp")).toDS()
    val out = Multimodal.resize(ds, 2, 2).collect().head
    // nearest-neighbor srcX = x*4/2 ∈ {0, 2}, srcY likewise: pixels
    // (0,0) (2,0) (0,2) (2,2) → v ∈ {0, 2, 8, 10}
    val expectR = Seq(0, 2, 8, 10).map(_.toByte)
    assert(out.media.grouped(3).map(_(0)).toSeq == expectR)
    assert(out.media.grouped(3).map(_(1)).toSeq ==
      expectR.map(v => (v + 100).toByte))
    // features on the same fixture see the real decoded dims
    val f = Multimodal.extractFeatures(ds, dim = 4).collect().head
    assert(f.width == 4 && f.height == 4 && f.channels == 3)
  }
}
