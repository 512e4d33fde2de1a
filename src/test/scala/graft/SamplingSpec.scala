package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Curation, Sampling, SortKey}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("hashSplit: total assignment, determinism under reordering, rough fractions") {
    val rows = (1 to 1000).map(i => s"document body number $i")
    val df = rows.toDF("text")
    val split = Sampling.hashSplit(df, col("text"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000)
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts.keySet == Set("train", "val", "test"))
    // content-hash: shuffled input produces the identical per-row mapping
    val shuffled = scala.util.Random.shuffle(rows).toDF("text")
      .repartition(7)
    val a = split.select("text", "split").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val b = Sampling.hashSplit(shuffled, col("text"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("text", "split").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b)
    // null content → null split (never a silent landing in the last split)
    val withNull = Seq(Option("doc x"), None).toDF("text")
    val ns = Sampling.hashSplit(withNull, col("text"),
        Seq("train" -> 0.8, "test" -> 0.2))
      .collect().map(r => Option(r.getString(0)).getOrElse("NULL") ->
        Option(r.getString(1)).orNull).toMap
    assert(ns("NULL") == null && ns("doc x") != null)
    // weights normalize: (8,1,1) == (0.8,0.1,0.1)
    val c = Sampling.hashSplit(df, col("text"),
        Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
      .select("text", "split").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == c)
  }

  test("mixtureSample: degenerate rates exact, others approximate, absent domains dropped") {
    val df = (1 to 400).map(i => (s"doc body $i", if (i % 4 == 0) "a"
      else if (i % 4 == 1) "b" else if (i % 4 == 2) "c" else "z"))
      .toDF("text", "dom")
    val got = Sampling.mixtureSample(df, col("dom"),
        Map("a" -> 1.0, "b" -> 0.5, "c" -> 0.0), col("text"))
      .groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a") == 100)           // rate 1.0 keeps everything
    assert(!got.contains("c"))        // rate 0.0 drops everything
    assert(!got.contains("z"))        // unlisted domain dropped
    assert(got("b") > 30 && got("b") < 70) // ~0.5 of 100
    // decision is per-content: repartitioned input keeps the same rows
    val keep1 = Sampling.mixtureSample(df, col("dom"),
      Map("b" -> 0.5), col("text")).select("text").as[String].collect().toSet
    val keep2 = Sampling.mixtureSample(df.repartition(13), col("dom"),
      Map("b" -> 0.5), col("text")).select("text").as[String].collect().toSet
    assert(keep1 == keep2)
  }

  test("repeatWeighted emits floor/ceil copies with contiguous copy indices") {
    val df = (1 to 300).map(i => (s"text $i", i % 3 match {
      case 0 => "a"; case 1 => "b"; case _ => "z"
    })).toDF("text", "dom")
    val got = Sampling.repeatWeighted(df, col("dom"),
      Map("a" -> 2.5, "b" -> 1.0), col("text"))
    val perDoc = got.groupBy("text", "dom")
      .agg(count(lit(1)).as("n"), max(col("copy")).as("mx"),
        min(col("copy")).as("mn"))
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // copy indices are 0..n-1 per doc
    assert(perDoc.forall { case (_, n, mx, mn) => mn == 0 && mx == n - 1 })
    val aCounts = perDoc.filter(_._1 == "a").map(_._2)
    assert(aCounts.forall(n => n == 2 || n == 3))
    // fractional part ~0.5: both outcomes occur
    assert(aCounts.toSet == Set(2L, 3L))
    assert(perDoc.filter(_._1 == "b").forall(_._2 == 1))
    assert(!perDoc.exists(_._1 == "z")) // unlisted domain emitted 0 times
    // repartitioned input produces the identical multiset
    val again = Sampling.repeatWeighted(df.repartition(11), col("dom"),
        Map("a" -> 2.5, "b" -> 1.0), col("text"))
      .groupBy("text").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = got.groupBy("text").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first == again)
  }

  test("capPerGroup keeps the first `cap` rows per group by the given order") {
    val df = Seq((1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c"))
      .toDF("id", "g")
    val got = Sampling.capPerGroup(df, Seq("g"), 2, Seq(col("id")))
      .select("id").as[Int].collect().sorted
    assert(got.toSeq == Seq(1, 2, 4, 5, 6))
  }

  test("selectTokenBudget stops before the row that would exceed the budget") {
    val df = Seq((1, 40L, 0.9), (2, 50L, 0.8), (3, 30L, 0.7), (4, 10L, 0.6))
      .toDF("id", "tok", "q")
    // order: q desc → ids 1,2,3,4; cum 40,90,120,130; budget 100 → ids 1,2
    val got = Sampling.selectTokenBudget(df, col("tok"), 100L,
        Seq(SortKey.desc(col("q")), SortKey(col("id"))))
      .select("id").as[Int].collect().sorted
    assert(got.toSeq == Seq(1, 2))
    // a later smaller row does NOT backfill (greedy prefix, not knapsack)
    val got2 = Sampling.selectTokenBudget(df, col("tok"), 95L,
        Seq(SortKey.desc(col("q")), SortKey(col("id"))))
      .select("id").as[Int].collect().sorted
    assert(got2.toSeq == Seq(1, 2))
  }

  test("runningTotal == single-partition window running sum") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new java.util.SplittableRandom(3L)
    val df = (1 to 500).map(i => (i.toLong, rnd.nextLong(1000)))
      .toDF("id", "w").repartition(7)
    val order = Seq(SortKey.desc(col("w")), SortKey(col("id")))
    val w = Window.orderBy(order.map(_.order): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("rt", sum(col("w")).over(w))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = Sampling.runningTotal(df, order, "w", "rt")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == expected)
    // null weights add 0 (window sum skips them identically only when no
    // leading nulls — pin our contract directly)
    val withNull = Seq((1L, java.lang.Long.valueOf(5L)),
      (2L, null.asInstanceOf[java.lang.Long]), (3L, java.lang.Long.valueOf(7L)))
      .toDF("id", "w")
    val gotN = Sampling.runningTotal(withNull, Seq(SortKey(col("id"))), "w",
      "rt")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(gotN == Set((1L, 5L), (2L, 5L), (3L, 12L)))
  }

  test("redactPii masks emails and phone variants; counts match") {
    val df = Seq(
      ("mail a.b+c@ex-ample.org and bob@x.io now", 2L, 0L),
      ("call +1 555-123-4567 or (555) 123-4567 or 555.123.4567", 0L, 3L),
      ("no pii here", 0L, 0L))
      .toDF("t", "ne", "np")
    val got = df.select(
      TextFunctions.redactPii(col("t")).as("red"),
      TextFunctions.emailCount(col("t")).cast("long").as("ge"),
      TextFunctions.phoneCount(col("t")).cast("long").as("gp"),
      col("ne"), col("np")).collect()
    got.foreach { r =>
      assert(r.getAs[Long]("ge") == r.getAs[Long]("ne"), r.toString)
      assert(r.getAs[Long]("gp") == r.getAs[Long]("np"), r.toString)
      assert(!r.getAs[String]("red").contains("@"))
      val red = r.getAs[String]("red")
      assert(!"""\d{3}[ .-]\d{4}""".r.findFirstIn(red).isDefined, red)
    }
    assert(got.head.getAs[String]("red") == "mail <EMAIL> and <EMAIL> now")
  }

  test("contamination flags docs overlapping the benchmark set") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // identical → frac 1.0
      (2L, "alpha beta gamma unrelated words here entirely"), // partial
      (3L, "totally different content with no overlap at all"), // none
      (4L, "ab")) // < 3 tokens → zero shingles
      .toDF("id", "text")
    val got = Curation.contamination(corpus, "id", "text", bench, "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(got(0) == ((1L, 4L, 4L, 1.0, 1L)))
    assert(got(1)._2 == 1L && got(1)._5 == 0L) // "alpha beta gamma" shared
    assert(got(2) == ((3L, 0L, 6L, 0.0, 0L)))
    assert(got(3) == ((4L, 0L, 0L, 0.0, 0L)))
  }

  test("prioritySample: weight dominance, exclusions, partition stability") {
    val rows = (1 to 200).map(i =>
      (i.toLong, s"doc body $i", if (i == 7) 1e9 else 1.0)) ++
      Seq((900L, "zero weight", 0.0), (901L, "null-ish", -3.0))
    val df = rows.toDF("id", "text", "w")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.prioritySample(d, col("w"), 20, col("text"),
          tieBreak = Seq(col("id")))
        .select("id").collect().map(_.getLong(0)).toSet
    val s1 = ids(df)
    assert(s1.size == 20)
    assert(s1.contains(7L))                  // ln(u)/1e9 ≈ 0 beats every w=1 key
    assert(!s1.contains(900L) && !s1.contains(901L)) // non-positive excluded
    assert(ids(df.repartition(13)) == s1)    // content-hash determinism
    // n >= eligible rows → everything eligible comes back
    val small = rows.take(5).toDF("id", "text", "w")
    assert(Sampling.prioritySample(small, col("w"), 50, col("text"))
      .count() == 5)
  }
}
