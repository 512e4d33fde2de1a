package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Round-15 operators: the multi-batch near-dup admission loop
  * ([[Dedup.nearDupAdmitLoop]]) behind q204/q205.
  */
class Round25OpsSpec extends SparkSpec {
  import spark.implicits._

  private def r4(x: Double): Double = math.rint(x * 1e4) / 1e4

  // --- shared fixture: resident corpus + 3 batches with planted
  //     cross-batch structure ------------------------------------------
  private lazy val fixture: (Seq[(Long, String)], Seq[Seq[(Long, String)]]) = {
    val rnd = new java.util.SplittableRandom(11L)
    val vocab = Array.tabulate(40)(i => s"w$i")
    def randText(): String = {
      val len = 12 + rnd.nextInt(7)
      (0 until len).map(_ => vocab(rnd.nextInt(40))).mkString(" ")
    }
    def mut(t: String): String =
      (t.split(" ").dropRight(1) :+ "MUT").mkString(" ")
    val resident = (100L until 130L).map(id => id -> randText())
    val rText = resident.toMap
    val t0 = randText(); val t12 = randText()
    val b0 = Seq(
      0L -> t0,                    // keep
      4L -> mut(rText(100L)),      // corpus_dup(100)
      8L -> mut(t0),               // batch_dup(0)
      12L -> t12,                  // keep
      16L -> "only two",           // shingle-less -> keep
      20L -> mut(rText(100L)))     // corpus_dup(100)
    val t36 = randText()
    val b1 = Seq(
      24L -> mut(t0),              // corpus_dup(0): batch-0 COMMIT visible
      28L -> randText(),           // keep
      // 32 copies the text of 4, which was REJECTED in batch 0 — its
      // true match is resident 100 (min id over corpus matches). If a
      // rejected doc were wrongly committed, min(4, 100) = 4 would
      // surface here and the equality below goes red (the negative
      // control for "reject != commit").
      32L -> mut(rText(100L)),
      36L -> t36)                  // keep
    val t44 = randText()
    val b2 = Seq(
      40L -> mut(t36),             // corpus_dup(36): batch-1 COMMIT visible
      44L -> t44,                  // keep
      48L -> mut(t44))             // batch_dup(44)
    (resident, Seq(b0, b1, b2))
  }

  private def sh(t: String): Set[String] = {
    val w = t.trim.split("\\s+").filter(_.nonEmpty)
    if (w.length < 3) Set.empty
    else w.sliding(3).map(_.mkString(" ")).toSet
  }
  private def jac(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty || b.isEmpty) 0.0
    else {
      val inter = (a & b).size.toDouble
      r4(inter / (a.size + b.size - inter))
    }

  /** Driver brute replay of the sequential admission policy. */
  private def bruteLoop(resident: Seq[(Long, String)],
      batches: Seq[Seq[(Long, String)]], thr: Double)
      : Seq[Set[(Long, String, Any)]] = {
    var corpus = resident
    batches.map { batch =>
      val cSh = corpus.map { case (id, t) => id -> sh(t) }
      val bSh = batch.map { case (id, t) => id -> sh(t) }.toMap
      val verdicts = batch.map { case (id, _) =>
        val cm = cSh.collect { case (cid, s)
            if jac(bSh(id), s) >= thr => cid }.sorted.headOption
        val bm = batch.collect { case (bid, bt)
            if bid < id && jac(bSh(id), sh(bt)) >= thr => bid }
          .sorted.headOption
        val status =
          if (cm.isDefined) "corpus_dup"
          else if (bm.isDefined) "batch_dup" else "keep"
        (id, status, cm.orElse(bm).map(Long.box).orNull: Any)
      }
      val kept = verdicts.collect { case (id, "keep", _) => id }.toSet
      corpus = corpus ++ batch.filter(d => kept(d._1))
      verdicts.toSet
    }
  }

  private def collectStatuses(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, String, Any)] =
    df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else Long.box(r.getLong(2)): Any)).toSet

  test("nearDupAdmitLoop matches a driver brute replay of the " +
      "sequential policy (growing corpus, cross-batch commits)") {
    val (resident, batches) = fixture
    val rDf = resident.toDF("id", "text")
    val bDfs = batches.map(_.toDF("id", "text"))
    val got = Dedup.nearDupAdmitLoop(rDf, "id", "text", bDfs, "id",
      "text", threshold = 0.5).map(collectStatuses)
    val want = bruteLoop(resident, batches, 0.5)
    (got zip want).zipWithIndex.foreach { case ((g, w), k) =>
      assert(g == w, s"batch $k: got-want ${g -- w}; want-got ${w -- g}")
    }
    // the fixture must actually exercise the cross-batch paths
    val all = want.flatten
    assert(all.exists { case (id, st, m) =>
      id == 24L && st == "corpus_dup" && m == Long.box(0L) },
      s"batch-0 commit not visible to batch 1: $all")
    assert(all.exists { case (id, st, m) =>
      id == 32L && st == "corpus_dup" && m == Long.box(100L) },
      s"rejected batch-0 doc leaked into the corpus (expected match " +
        s"100, the resident): $all")
    assert(all.exists { case (id, st, m) =>
      id == 40L && st == "corpus_dup" && m == Long.box(36L) },
      s"batch-1 commit not visible to batch 2: $all")
    assert(all.exists(_._2 == "batch_dup") && all.exists(_._2 == "keep"))
  }

  test("nearDupAdmitLoop equals k sequential incrementalNearDup calls " +
      "over explicitly re-sketched grown corpora") {
    val (resident, batches) = fixture
    val rDf = resident.toDF("id", "text")
    val bDfs = batches.map(_.toDF("id", "text"))
    val loop = Dedup.nearDupAdmitLoop(rDf, "id", "text", bDfs, "id",
      "text", threshold = 0.5).map(collectStatuses)
    var corpus = rDf
    val seq = bDfs.map { b =>
      val st = Dedup.incrementalNearDup(corpus, "id", "text",
        b, "id", "text", threshold = 0.5)
      val verdicts = collectStatuses(st)
      val kept = verdicts.collect { case (id, "keep", _) => id }
      corpus = corpus.unionByName(
        b.filter(col("id").isin(kept.toSeq: _*)))
      verdicts
    }
    (loop zip seq).zipWithIndex.foreach { case ((g, w), k) =>
      assert(g == w, s"batch $k: loop-seq ${g -- w}; seq-loop ${w -- g}")
    }
  }

  // --- IVF inline-serving cap contract (r14 verdict item 6) -----------

  test("ivfTopK refuses inline assignment past the measured corpus " +
      "ceiling and names the store path; assigned serving stays open") {
    import graft.operators.Similarity
    val bigIdx = Similarity.IvfIndex(
      Array.tabulate(Similarity.IvfInlineNlistCap)(i =>
        Array(i.toDouble, 1.0)))
    val queries = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "emb")
    val bigCorpus = spark.range(Similarity.IvfInlineCorpusCap + 1)
      .select(col("id").as("vec_id"), array(lit(1.0), lit(0.0)).as("emb"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(queries, bigCorpus, "vec_id", "emb", k = 1,
        index = Some(bigIdx))
    }
    assert(e.getMessage.contains("q195"), e.getMessage)
    // same geometry, corpus inside the cap: inline allowed
    val smallCorpus = spark.range(64)
      .select(col("id").as("vec_id"), array(lit(1.0), lit(0.0)).as("emb"))
    Similarity.ivfTopK(queries, smallCorpus, "vec_id", "emb", k = 1,
      index = Some(bigIdx)): Unit
    // past the cap WITH a persisted assignment: the sanctioned path —
    // plan construction must not throw (laziness: nothing executes)
    val assigned = spark.range(4)
      .select(col("id").as("vec_id"), lit(0).as("list"))
    Similarity.ivfTopK(queries, bigCorpus, "vec_id", "emb", k = 1,
      index = Some(bigIdx), assigned = Some(assigned)): Unit
  }

  // --- BM25 auto router: sparse-vocab fallback (r14 verdict item 7) ---

  test("bm25TopKFromPostingsAuto past vocabCap rides the max-score " +
      "branch and equals the unpruned ranking bit-for-bit") {
    import graft.operators.Retrieval
    val rnd = new java.util.SplittableRandom(7L)
    val corpus = (0L until 60L).map { id =>
      val len = 6 + rnd.nextInt(6)
      (id, (0 until len).map(_ => s"t${rnd.nextInt(30)}"))
    }.toDF("id", "toks")
    val panel = corpus.filter(col("id") % 7 === 0)
      .select(col("id").as("qid"), array_distinct(col("toks")).as("qterms"))
    val postings = Retrieval.bm25Postings(corpus, "id", "toks")
    // vocabCap 4 << 30 distinct terms -> the auto router MUST fall back
    val auto = Retrieval.bm25TopKFromPostingsAuto(postings, "id",
      panel, "qid", "qterms", k = 5, excludeSelf = true, vocabCap = 4)
    val unpruned = Retrieval.bm25TopKFromPostings(postings, "id",
      panel, "qid", "qterms", k = 5, excludeSelf = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .toSet
    assert(rows(auto) == rows(unpruned))
  }

  // --- q170 count-weighted linkage (r14 verdict item 4) ---------------

  test("editDistancePairCounts equals the expanded editDistancePairs " +
      "per (text_a, text_b, dist) on a fuzz corpus with duplicated texts") {
    val rnd = new java.util.SplittableRandom(23L)
    val alpha = "abc"
    def randS(): String =
      (0 until 5).map(_ => alpha(rnd.nextInt(3))).mkString
    // small alphabet + short length => plenty of genuine dist-1 pairs;
    // each text carries 1-3 id copies so n_pairs does real work
    val pool = (0 until 60).map(_ => randS()).distinct
    val docs = pool.zipWithIndex.flatMap { case (t2, i) =>
      (0 until (1 + rnd.nextInt(3))).map(c => (i * 10L + c, t2))
    }
    val df = docs.toDF("id", "s")
    // editDistancePairs orients (text_a, text_b) by ID order; the
    // counted relation by text order — normalize to the unordered pair
    val expanded = Dedup.editDistancePairs(df, "id", "s", maxDist = 1)
      .collect()
      .map { r =>
        val (x, y) = (r.getString(2), r.getString(3))
        (if (x <= y) x else y, if (x <= y) y else x, r.getInt(4))
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val counted = Dedup.editDistancePairCounts(df, "id", "s", maxDist = 1)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getLong(3))
      .toMap
    assert(counted == expanded,
      s"counted-expanded ${counted.toSet -- expanded.toSet}; " +
        s"expanded-counted ${expanded.toSet -- counted.toSet}")
    // the fixture must exercise both families
    assert(counted.keys.exists(_._3 == 0) && counted.keys.exists(_._3 == 1))
    assert(counted.values.exists(_ > 1), "no multiplied copy pair")
  }

  // --- q203 scaled banding (r14 verdict item 2) ------------------------

  test("dhashPairs: both banding geometries equal the brute hamming<=3 " +
      "pair set on a fuzz corpus with duplicate-signature groups") {
    val rnd = new java.util.SplittableRandom(41L)
    def randSig(): (Int, Int, Int, Int) =
      ((rnd.nextInt() & 0xffff), (rnd.nextInt() & 0xffff),
        (rnd.nextInt() & 0xffff), (rnd.nextInt() & 0xffff))
    def flip(s: (Int, Int, Int, Int), nBits: Int): (Int, Int, Int, Int) = {
      var cur = s
      (0 until nBits).foreach { _ =>
        val bit = rnd.nextInt(64)
        val (w, o) = (bit / 16, bit % 16)
        cur = w match {
          case 0 => (cur._1 ^ (1 << o), cur._2, cur._3, cur._4)
          case 1 => (cur._1, cur._2 ^ (1 << o), cur._3, cur._4)
          case 2 => (cur._1, cur._2, cur._3 ^ (1 << o), cur._4)
          case _ => (cur._1, cur._2, cur._3, cur._4 ^ (1 << o))
        }
      }
      cur
    }
    // 60 base sigs; every 3rd gets a <=3-bit neighbor, every 4th gets
    // 2-3 exact copies (duplicate-signature groups)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Int, Int)]()
    var nextId = 0L
    def add(s: (Int, Int, Int, Int)): Unit = {
      rows += ((nextId, s._1, s._2, s._3, s._4)); nextId += 1
    }
    val bases = (0 until 60).map(_ => randSig())
    bases.zipWithIndex.foreach { case (s, i) =>
      add(s)
      if (i % 3 == 0) add(flip(s, 1 + rnd.nextInt(3)))
      if (i % 4 == 0) (0 until (1 + rnd.nextInt(2))).foreach(_ => add(s))
    }
    val sigs = rows.toSeq.toDF("id", "b0", "b1", "b2", "b3")
    def ham(a: (Int, Int, Int, Int), b: (Int, Int, Int, Int)): Int =
      Integer.bitCount(a._1 ^ b._1) + Integer.bitCount(a._2 ^ b._2) +
        Integer.bitCount(a._3 ^ b._3) + Integer.bitCount(a._4 ^ b._4)
    val all = rows.toSeq
    val brute = (for {
      (x, i) <- all.zipWithIndex; y <- all.drop(i + 1)
      d = ham((x._2, x._3, x._4, x._5), (y._2, y._3, y._4, y._5))
      if d <= 3
    } yield (math.min(x._1, y._1), math.max(x._1, y._1), d)).toSet
    def got(combos: Boolean) =
      CurationQueries.dhashPairs(sigs, forceCombos = Some(combos)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fixed = got(combos = false)
    val scaled = got(combos = true)
    assert(fixed == brute,
      s"fixed-brute ${fixed -- brute}; brute-fixed ${brute -- fixed}")
    assert(scaled == brute,
      s"scaled-brute ${scaled -- brute}; brute-scaled ${brute -- scaled}")
    // the fixture must exercise the dup-group family and near pairs
    assert(brute.exists(_._3 == 0) && brute.exists(_._3 > 0))
  }
}
