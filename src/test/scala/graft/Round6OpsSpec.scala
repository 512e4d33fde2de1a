package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Bucketing, Curation, Dedup, Sampling, Similarity, SortKey, Stats, Vocab}

/** Round-6 operator batch: cosine-threshold pairs, shingle containment,
  * sliding-window chunking, KL domain drift, lexical stats, token
  * entropy, key-skew profiling, cohort retention, partitioned layout.
  */
class Round6OpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosinePairs: exact pairs at the rounded threshold boundary, i<j once") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosinePairs(df, "vec_id", "embedding", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cos(1,2)=0.6 (boundary INCLUDED), cos(2,3)=0.8, cos(1,3)=0 dropped
    assert(out == Set((1L, 2L, 0.6), (2L, 3L, 0.8)))
    // a zero-norm vector must not pair (cos would be NaN, and NaN
    // passes >= threshold under Spark's ordering)
    val withZero = df.union(Seq((4L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val z = Similarity.cosinePairs(withZero, "vec_id", "embedding", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(z == Set((1L, 2L, 0.6), (2L, 3L, 0.8)))
  }

  test("ntileBuckets matches ntile() window exactly, incl. uneven buckets") {
    import org.apache.spark.sql.expressions.Window
    // n = 23, k = 10: buckets of size 3,3,3,2,… — the uneven case; and
    // n = 20, k = 10: even; and k > n: every row its own bucket
    for ((n, k) <- Seq((23, 10), (20, 10), (7, 10))) {
      val df = (0 until n).map(i => ((i * 37 + 11) % 100, i.toLong))
        .toDF("v", "id")
      val w = Window.orderBy(col("v").desc, col("id"))
      val expected = df.withColumn("b", ntile(k).over(w).cast("long"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      val got = Sampling.ntileBuckets(df, k,
          Seq(SortKey.desc(col("v")), SortKey(col("id"))))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"n=$n k=$k: ${got.diff(expected)} vs " +
        s"${expected.diff(got)}")
    }
  }

  test("maxShingleDf bounds the degenerate stop-phrase corpus") {
    // the adversarial case: one sentence shared by EVERY doc — uncapped,
    // that one shingle key's self-join bucket is quadratic (435 pairs
    // from 30 docs); capped, the hot shingles carry no signal and drop
    val docs = (1L to 30L).map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5,
      maxShingleDf = 0)
    assert(uncapped.count() == 435L) // C(30,2), all jaccard 1.0
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5,
      maxShingleDf = 10)
    assert(capped.count() == 0L)
    // signal below the cap survives: a real dup pair with distinctive
    // shingles keeps its pair while the hot boilerplate is ignored
    val mixed = docs.union(Seq(
      (100L, "rare distinctive duplicated payload text here"),
      (101L, "rare distinctive duplicated payload text here"))
      .toDF("doc_id", "text"))
    val got = Dedup.jaccardPairs(mixed, "doc_id", "text", 0.5,
        maxShingleDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)))
    // with the cap above the true max DF the output is bit-identical
    val norm = Seq((1L, "one two three four five"),
      (2L, "one two three four five"), (3L, "six seven eight nine ten"))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(key(Dedup.jaccardPairs(norm, "doc_id", "text", 0.5)) ==
      key(Dedup.jaccardPairs(norm, "doc_id", "text", 0.5, maxShingleDf = 0)))
  }

  test("containmentPairs: embedded short doc scores 1.0 where jaccard dilutes") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), // 4 tri-shingles
      (2L, "w2 w3 w4 w5"), //        2 tri-shingles, both inside doc 1
      (3L, "a b")) //                < 3 tokens: no shingles, no pairs
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", 0.6, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair under jaccard is 2/4 = 0.5 — below the 0.6 gate
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6, 3).collect()
    assert(jac.isEmpty)
  }

  test("chunkDocuments: window/stride tiling covers every token, short tail kept") {
    val doc = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(doc, "doc_id", col("text"), 4, 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 4L, "t0 t1 t2 t3"),
      (1L, 4L, "t3 t4 t5 t6"),
      (2L, 4L, "t6 t7 t8 t9"),
      (3L, 1L, "t9")))
    // empty text still emits exactly one empty chunk (start offset 0)
    val empty = Curation.chunkDocuments(
      Seq((1L, "  ")).toDF("doc_id", "text"), "doc_id", col("text"), 4, 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(empty.toSeq == Seq((0L, 0L, "")))
  }

  test("tokenEntropy: uniform=ln k, constant=0, empty=0") {
    val df = Seq("a b c d", "a a a", " ").toDF("text")
      .select(TextFunctions.tokenEntropy(col("text")).as("h"))
    val hs = df.collect().map(_.getDouble(0))
    assert(math.abs(hs(0) - math.log(4)) < 1e-12)
    assert(hs(1) == 0.0)
    assert(hs(2) == 0.0)
  }

  test("domainDrift: matching mix → 0, disjoint single-token groups → ln 2") {
    val same = Seq(("g1", "a b"), ("g2", "a b")).toDF("src", "text")
    val kl0 = Vocab.domainDrift(same, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl0 == Map("g1" -> 0.0, "g2" -> 0.0))
    // g1 all-a, g2 all-b over a 50/50 corpus: KL = ln(1/0.5) = ln 2
    val split = Seq(("g1", "a a a a"), ("g2", "b b b b")).toDF("src", "text")
    val kl = Vocab.domainDrift(split, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val ln2 = BigDecimal(math.log(2)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(kl == Map("g1" -> ln2, "g2" -> ln2))
  }

  test("lexicalStats: token/type/hapax arithmetic") {
    val df = Seq(("s", "a a b c")).toDF("src", "text")
    val r = Vocab.lexicalStats(df, col("src"), col("text")).collect()(0)
    assert(r.getLong(1) == 4 && r.getLong(2) == 3) // tokens, types
    assert(r.getDouble(3) == 0.75) //                 ttr
    assert(r.getLong(4) == 2 && r.getDouble(5) == 0.6667) // hapax b, c
  }

  test("keySkew: cardinality, max/avg, skew ratio, top share") {
    val df = Seq("a", "a", "a", "b").toDF("k")
    val r = Stats.keySkew(df, col("k")).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 4) // n_keys, n_rows
    assert(r.getLong(2) == 3 && r.getDouble(3) == 2.0) // max_c, avg_c
    assert(r.getDouble(4) == 1.5 && r.getDouble(5) == 0.75) // skew, share
  }

  test("cohortRetention: first-touch day cohorts × week offsets, distinct users") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), // u1 cohort Jan 1
      (1L, ts("2024-01-03 10:00:00")), // same week (offset 0)
      (1L, ts("2024-01-09 10:00:00")), // offset 1
      (2L, ts("2024-01-01 23:00:00")), // u2 cohort Jan 1, only week 0
      (3L, ts("2024-01-02 00:00:00"))) // u3 cohort Jan 2
      .toDF("user_id", "ts")
    val out = Curation.cohortRetention(ev, col("user_id"), col("ts"))
      .collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1),
        r.getLong(2))).toSet
    assert(out == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L),
      ("2024-01-02", 0L, 1L)))
  }

  test("stratifiedSample: exact ceil(frac·n) per stratum, repartition-stable") {
    val df = ((0 until 30).map(i => (i.toLong, "a")) ++
      (100 until 107).map(i => (i.toLong, "b"))).toDF("id", "grp")
    val out = Sampling.stratifiedSample(df, col("grp"), col("id"), 0.2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byGrp = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byGrp == Map("a" -> 6, "b" -> 2)) // ceil(0.2·30), ceil(0.2·7)
    val again = Sampling.stratifiedSample(df.repartition(5), col("grp"),
      col("id"), 0.2).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
    // fraction 1 keeps everything, 0 keeps nothing
    assert(Sampling.stratifiedSample(df, col("grp"), col("id"), 1.0)
      .count() == 37)
    assert(Sampling.stratifiedSample(df, col("grp"), col("id"), 0.0)
      .count() == 0)
    // exact-count contract survives double rounding: 0.07·100 must keep
    // 7, not ceil(7.000000000000001) = 8
    val hundred = (0 until 100).map(i => (i.toLong, "a")).toDF("id", "grp")
    assert(Sampling.stratifiedSample(hundred, col("grp"), col("id"), 0.07)
      .count() == 7)
    // mathematical ceil of any positive product is >= 1: a tiny positive
    // fraction must not round a stratum down to empty
    assert(Sampling.stratifiedSample(hundred, col("grp"), col("id"), 1e-10)
      .count() == 1)
  }

  test("repetitionRatio: repeated bigrams score, short docs 0") {
    val df = Seq("a a a", "a b c d", "x").toDF("text")
      .select(TextFunctions.repetitionRatio(col("text"), 2).as("r"))
    val rs = df.collect().map(_.getDouble(0))
    assert(rs(0) == 0.5) // bigrams (a a, a a): 1 distinct of 2
    assert(rs(1) == 0.0) // all distinct
    assert(rs(2) == 0.0) // no bigram at all
  }

  test("incrementalExact: corpus hits dropped, within-batch first survives") {
    val batch = Seq((10L, "k1"), (20L, "k1"), (30L, "k2"), (40L, "k3"))
      .toDF("id", "fp")
    val corpus = Seq("k2", "k9").toDF("fp")
    val out = Dedup.incrementalExact(batch, "fp", "id", corpus)
      .select("id", "fp").collect().map(r => (r.getLong(0), r.getString(1)))
    // k1: min id 10 survives (20 is a batch dup); k2 exists in corpus;
    // k3 is new
    assert(out.toSet == Set((10L, "k1"), (40L, "k3")))
  }

  test("similarity paths ignore zero-norm vectors instead of ranking NaN first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.0f, 0.0f))) // would head every top-k as NaN unguarded
      .toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(q, corpus, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(!bf.map(_._1).contains(3L) && bf.length == 2)
    val tp = Similarity.topPairs(corpus, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tp.toSet == Set((1L, 2L)))
    val ann = Similarity.annTopK(q, corpus, "vec_id", "embedding", 2, 2)
      .collect().map(_.getLong(1))
    assert(!ann.contains(3L))
  }

  test("FilterLang: quoted and/or stay literal; non-numeric ordering literal falls to expr") {
    import graft.operators.FilterLang
    val df = Seq(("rock and roll star", 30L), ("jazz", 10L))
      .toDF("title", "age")
    val kept = df.filter(FilterLang.parse("title contains \"rock and roll\""))
      .collect().map(_.getString(0))
    assert(kept.toSeq == Seq("rock and roll star"))
    // multi-clause with a quoted separator inside one clause
    val both = df.filter(FilterLang.parse(
      "title contains \"rock and roll\" or title == jazz"))
    assert(both.count() == 2)
    // `age > height`-style column comparison routes through expr(), like
    // the reference's Function-constructor fallback (not a driver crash)
    val colCmp = Seq((3L, 1L), (1L, 5L)).toDF("a", "b")
      .filter(FilterLang.parse("a > b")).collect().map(_.getLong(0))
    assert(colCmp.toSeq == Seq(3L))
    // QUOTED numeric ordering literal: the reference's `(-?\d+(?:\.\d+)?)`
    // patterns reject `age > "5"` (quotes break the regex) and fall to the
    // JS fallback — we must route through expr(), not the native numeric
    // compare on the unquoted value
    val quotedNum = df.filter(FilterLang.parse("age > \"15\""))
      .collect().map(_.getLong(1))
    assert(quotedNum.toSeq == Seq(30L))
  }

  test("unflatten rejects scalar/struct name conflicts with a clear error") {
    import graft.operators.Nested
    val df = Seq((1L, "x", "y")).toDF("a", "a.b", "c")
    val e = intercept[IllegalArgumentException](Nested.unflatten(df))
    assert(e.getMessage.contains("conflicts"))
  }

  test("saltedJoin spreads byte-identical hot-key duplicates across buckets") {
    import graft.operators.Joins
    val hot = Seq.fill(64)(("k", "payload")).toDF("k", "v").repartition(4)
    val dim = Seq(("k", 1L)).toDF("k2", "d")
    val out = Joins.saltedJoin(hot, dim, "k", "k2", buckets = 8)
    assert(out.count() == 64) // correctness: every row joins exactly once
    // distribution: identical rows must not all share one salt
    val salts = hot.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id() +: Seq(col("k"), col("v")): _*),
        lit(8))).select("__salt").distinct().count()
    assert(salts > 1, s"identical rows collapsed to $salts salt(s)")
    intercept[IllegalArgumentException](
      Joins.saltedJoin(hot, dim, "k", "k2", buckets = 0))
  }

  test("profile survives quote/backtick column names") {
    val df = Seq((1L, "x")).toDF("it`s", "o'brien")
    val rows = Stats.profile(df).collect().map(_.getString(0)).toSet
    assert(rows == Set("it`s", "o'brien"))
  }

  test("chunkDocuments treats NULL text like empty text") {
    val df = Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(df, "doc_id", col("text"), 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSet == Set((1L, 0L, ""), (2L, 0L, "")))
  }

  test("snapshotDiff: added/removed/changed/same classification per key") {
    import graft.operators.Joins
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val neu = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("id", "v")
    val out = Joins.snapshotDiff(old, neu, Seq("id"), md5(col("v")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "removed", 2L -> "same", 3L -> "changed",
      4L -> "added"))
    // a NULL fingerprint is a value, not absence: present-on-both-sides
    // keys with null fingerprints are "same", null vs non-null "changed"
    val o2 = Seq((1L, null: String), (2L, null: String), (3L, "x"))
      .toDF("id", "v")
    val n2 = Seq((1L, null: String), (2L, "y"), (3L, "x")).toDF("id", "v")
    val out2 = Joins.snapshotDiff(o2, n2, Seq("id"), md5(col("v")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out2 == Map(1L -> "same", 2L -> "changed", 3L -> "same"))
  }

  test("text-quality kernels compose into a stream == batch on documents") {
    import graft.streaming.Streams
    val dir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val stage = java.nio.file.Files.createTempDirectory("docstream")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        stage.resolve("documents.parquet"))
      // the per-row kernels are pure Column exprs, so they apply to a
      // streaming relation unchanged — the incremental-curation path
      def score(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        round(TextFunctions.tokenEntropy(col("text")), 4).as("h"),
        round(TextFunctions.repetitionRatio(col("text"), 2), 4).as("rep"))
      val streamed = Streams.runToMemory(
        score(Streams.parquetStream(spark, stage.toString, raw.schema)),
        "qstream")
      val got = streamed.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      val exp = score(raw).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(got == exp)
    } finally {
      import scala.reflect.io.Directory
      new Directory(stage.toFile).deleteRecursively()
    }
  }

  test("writePartitioned: lang filter prunes to partition directories") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part_spec")
    try {
      val df = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
        .toDF("id", "lang", "n")
      Bucketing.writePartitioned(df, tmp.toString, Seq("lang"))
      val back = spark.read.parquet(tmp.toString)
        .filter(col("lang") === "en")
      val plan = back.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan)
      // execute `back` itself so the metric below comes from THIS plan
      assert(back.collect().map(_.getAs[Long]("n")).sum == 40L)
      // the executed scan opened exactly the files under lang=en — the
      // de directory was pruned before IO
      def parquetFiles(p: java.io.File): Int =
        Option(p.listFiles).toSeq.flatten.map {
          case d if d.isDirectory => parquetFiles(d)
          case f if f.getName.endsWith(".parquet") => 1
          case _ => 0
        }.sum
      val enFiles = parquetFiles(new java.io.File(tmp.toFile, "lang=en"))
      val allFiles = parquetFiles(tmp.toFile)
      val scan = back.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.get
      assert(enFiles > 0 && allFiles > enFiles)
      assert(scan.metrics("numFiles").value == enFiles,
        (scan.metrics("numFiles").value, enFiles, allFiles))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }
}
