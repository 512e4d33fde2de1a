package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-19 optimization parity specs — every rewrite this round must
  * keep the declared queries identical, so each refactor is pinned
  * against the formulation it replaced on a synthetic corpus with
  * heavier duplicate/containment structure than the testdata.
  */
class OptimizationR19Spec extends SparkSpec {
  import spark.implicits._

  /** Synthetic corpus: base docs + exact copies (identical-set classes
    * of size ≥ 2) + truncations (containment structure) + noise.
    */
  private def corpus(n: Int, seed: Long) = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "la", "mu")
    def doc(len: Int): String =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until n).map(i => (i.toLong, doc(6 + rnd.nextInt(20))))
    val copies = base.filter(_._1 % 3 == 0)
      .map { case (id, t) => (id + 1000L, t) }
    val copies2 = base.filter(_._1 % 6 == 0)
      .map { case (id, t) => (id + 2000L, t) }
    val trunc = base.filter(_._1 % 4 == 0).map { case (id, t) =>
      val toks = t.split(" ")
      (id + 3000L, toks.take(math.max(3, toks.length * 3 / 4)).mkString(" "))
    }
    (base ++ copies ++ copies2 ++ trunc).toDF("doc_id", "text")
  }

  test("tfCosinePairs (hashed 8-byte term keys + identical-vector " +
      "collapse) == string-term naive posting join (r18 ADVICE parity)") {
    val df = corpus(120, 19L)
    val k = 3
    val threshold = 0.5
    val maxTokenDf = 40L
    val got = Dedup.tfCosinePairs(df, "doc_id", "text", threshold,
        maxTokenDf, ngram = k)
      .orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // reference: gram STRINGS as term keys, no class collapse — the
    // pre-r18 formulation (guarded HOF ngram chain, plain posting
    // self-join over every doc)
    val toks = graft.functions.TextFunctions.tokensWs(
      graft.functions.TextFunctions.normalizeText(col("text")))
    val nGrams = (size(toks) - (k - 1)).cast("int")
    val grams = when(nGrams >= 1,
      transform(sequence(lit(1), nGrams),
        i => concat_ws(" ", slice(toks, i, lit(k))))).otherwise(
      array().cast("array<string>"))
    val tf = df.select(col("doc_id").as("__id"), explode(grams).as("__t"))
      .groupBy(col("__id"), col("__t")).agg(count(lit(1)).as("__tf"))
      .localCheckpoint()
    val hot = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxTokenDf).select(col("__t"))
    val kept = tf.join(hot, Seq("__t"), "left_anti").localCheckpoint()
    val norms = kept.groupBy(col("__id"))
      .agg(sum(col("__tf") * col("__tf")).as("__n2"))
    val a = kept.select(col("__t"), col("__id").as("id_a"),
      col("__tf").as("__fa"))
    val b = kept.select(col("__t"), col("__id").as("id_b"),
      col("__tf").as("__fb"))
    val want = a.join(b, Seq("__t")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__fa") * col("__fb")).as("__dot"))
      .join(norms.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__n2", "__na2"), Seq("id_a"))
      .join(norms.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__n2", "__nb2"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na2").cast("double")) *
            sqrt(col("__nb2").cast("double"))), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    assert(want.nonEmpty, "reference produced no pairs — corpus too thin")
    assert(got.toSeq == want.toSeq,
      s"tfCosinePairs drift: got ${got.length} pairs, want ${want.length}")
  }

  test("del_var_hashes kernel set-equals xxhash64 over the deletion-" +
      "variant HOF chain it replaced (fuzz incl. multi-byte, k=1 and 2)") {
    val rnd = new java.util.SplittableRandom(190L)
    val alphabet = "abc01#éß漢"
    def word(): String =
      (0 until (1 + rnd.nextInt(14)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = ((1 to 400).map(_ => word()) ++
      Seq("a", "ab", "éß", "漢漢漢", "Customer#000000042")).toDF("__s")
    for (k <- Seq(1, 2)) {
      // the pre-r19 reference formulation from editDistanceTextPairs
      val del1 =
        "transform(sequence(1, length(__s)), i -> " +
          "concat(substr(__s, 1, i - 1), substr(__s, i + 1)))"
      val del2 =
        "flatten(transform(sequence(1, length(__s)), i -> " +
          "transform(if(i < length(__s), sequence(i + 1, length(__s)), " +
          "cast(array() as array<int>)), j -> " +
          "concat(substr(__s, 1, i - 1), substr(__s, i + 1, j - i - 1), " +
          "substr(__s, j + 1)))))"
      val variants =
        if (k == 1) s"array_append($del1, __s)"
        else s"array_append(concat($del1, if(length(__s) >= 2, $del2, " +
          s"cast(array() as array<string>))), __s)"
      val got = rows.select(col("__s"),
        graft.functions.TextExprs.del_var_hashes(col("__s"), k).as("g"))
      val want = rows.select(col("__s"),
        expr(s"transform(array_distinct($variants), v -> xxhash64(v))")
          .as("w"))
      val joined = got.join(want, "__s").collect()
      joined.foreach { r =>
        val g = r.getSeq[Long](1).toSet
        val w = r.getSeq[Long](2).toSet
        assert(g == w, s"del_var_hashes($k) drift on '${r.getString(0)}': " +
          s"got ${g.size} want ${w.size}")
      }
    }
  }

  test("containmentPairsPrefixFrom/containmentSummaryFrom over prebuilt " +
      "(docMap, repPairs) == the inline forms (the ContainmentRel split)") {
    val df = corpus(100, 191L)
    val t = 0.6
    val docMapFull = Dedup.perDocSetsWithClasses(df, "doc_id", "text", 3,
      Dedup.DefaultMaxShingleDf).localCheckpoint()
    val repPairs = Dedup.repPairsFromDocMap(docMapFull, t - 1e-4)
      .localCheckpoint()
    val docMapLite = docMapFull.select(col("id"), col("__n"), col("__rep"),
      col("__m"), col("__second"))

    val pairsGot = Dedup.containmentPairsPrefixFrom(docMapLite, repPairs, t)
      .orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq)
    val pairsWant = Dedup.containmentPairsPrefix(df, "doc_id", "text", t, 3)
      .orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq)
    assert(pairsWant.nonEmpty)
    assert(pairsGot.toSeq == pairsWant.toSeq, "containment pairs drift")

    val sumGot = Dedup.containmentSummaryFrom(df, "doc_id", docMapLite,
        repPairs, t)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    // the inline form: a freshly built full docMap (with __byRarity) and
    // its un-checkpointed class pairs, composed in one plan
    val docMapInline = Dedup.perDocSetsWithClasses(df, "doc_id", "text", 3,
      Dedup.DefaultMaxShingleDf).localCheckpoint()
    val sumWant = Dedup.containmentSummaryFrom(df, "doc_id", docMapInline,
        Dedup.repPairsFromDocMap(docMapInline, t - 1e-4), t)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(sumGot.toSeq == sumWant.toSeq, "containment summary drift")
  }
}
