package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-fusion operators for hybrid retrieval — the step that merges a
  * lexical ranking and an embedding ranking into one list before
  * curation or RAG sampling. Kept separate from [[Similarity]] (which
  * produces rankings); these consume them.
  */
object Retrieval {

  /** Okapi BM25 top-k retrieval over a tokenized corpus (Robertson et
    * al., TREC-3): for each query (a set of distinct terms), score the
    * docs sharing ≥1 term via an inverted-index postings join — never
    * all-pairs — and keep the top `k` by score (ties break by doc id).
    *
    *   score(q,d) = Σ_{t ∈ q ∩ d} idf6(t) · (tf·(k1+1)) /
    *                 (tf + k1·(1−b + b·dl/avgdl))
    *
    * Cross-engine determinism (the q134/q185 fold discipline):
    *   - idf6(t) = round(ln((N − df + 0.5)/(df + 0.5) + 1), 6). The ln
    *     is libm-divergent at the ulp level, so it is QUANTIZED to the
    *     6-dec grid before entering any arithmetic (the q127 lesson:
    *     never let a raw ln decide an ordering). Everything else —
    *     tf/df/dl/N integer-exact in doubles, one pinned
    *     parenthesization for the saturation weight — is IEEE-exact,
    *     so an oracle mirroring the formula verbatim (and computing
    *     composite constants like k1+1 AS THE SAME SUM, not a folded
    *     decimal literal) reproduces every contribution bit-for-bit.
    *   - the per-(query,doc) sum folds contributions in TERM order
    *     (array_sort + aggregate from 0.0; DuckDB mirrors with
    *     list_reduce(list_prepend(0.0, list(c ORDER BY term)))), so
    *     scores are bit-identical and top-k membership is exact.
    *
    * Scale shape: tf/df/dl are one explode + combinable aggregations
    * over the corpus; candidate mass is Σ_{t∈queries} df(t) — bounded
    * by |panel|·|corpus| for a fixed query panel (linear in corpus,
    * never corpus²). Query terms ride a broadcast. `excludeSelf` drops
    * candidates whose id equals the query id (panels drawn from the
    * corpus itself).
    *
    * `maxDfFrac` < 1 drops terms with df > frac·N from SCORING
    * entirely (stopword semantics, the [[Dedup]] maxShingleDf
    * precedent: the score is exact over the SURVIVING term set; dl and
    * avgdl keep counting all tokens, as real BM25 stopword pipelines
    * do). This is the candidate-mass knob for dense-vocab corpora
    * where common terms post in most documents — such a term
    * contributes near-zero idf but df·|queries-containing-it| join
    * rows. Default 1.0 = no pruning.
    */
  def bm25TopK(
      corpus: DataFrame, idCol: String, toksCol: String,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxDfFrac: Double = 1.0): DataFrame =
    bm25TopKFromPostings(bm25Postings(corpus, idCol, toksCol), idCol,
      queries, qidCol, qtermsCol, k, k1, b, excludeSelf, maxDfFrac)

  /** The per-document posting relation `(idCol, dl, term, tf)` — the
    * BM25 index artifact [[graft.operators.IndexStore.saveBm25]]
    * persists and [[bm25TopKFromPostings]] serves. Postings are a
    * PER-DOC pure function (tf and dl depend only on the document
    * itself — unlike the ANN code columns there are no frozen
    * codebooks), so an arriving batch's postings can be computed
    * independently and appended; the corpus-global statistics (N,
    * totdl, df) are derived from the postings at serve time with
    * column-pruned combinable aggregations, which is what makes the
    * append EXACTLY equal to a full rebuild (integer sufficient
    * stats).
    */
  def bm25Postings(corpus: DataFrame, idCol: String,
      toksCol: String): DataFrame =
    corpus
      .select(col(idCol), col(toksCol).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), size(col("__toks")).cast("double").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** [[bm25TopK]] served from a prebuilt/loaded posting relation
    * (the [[bm25Postings]] shape): N/totdl/df are re-derived from the
    * postings with column-pruned aggregations (exact integer counts —
    * the SAME values the corpus-side build computes, so served ==
    * inline bit-for-bit), then scored identically.
    */
  def bm25TopKFromPostings(
      postings: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxDfFrac: Double = 1.0): DataFrame = {
    bm25Validate(k, k1, b, maxDfFrac)
    val p = bm25Prep(postings, idCol, maxDfFrac, stable = false)
    val qub = bm25Qub(p, queries, qidCol, qtermsCol)
    bm25FoldRank(bm25Contrib(p, qub, k1, b, excludeSelf), k)
  }

  /** [[bm25TopKFromPostings]] with max-score candidate pruning —
    * PROVABLY EQUAL output (bit-for-bit, spec-pinned by
    * `Bm25MaxScoreSpec`), typically much cheaper. The unpruned path
    * runs the pinned term-order fold (a WindowExec sort) over the FULL
    * candidate-contribution mass — Σ_t df(t) per query, the dominant
    * cost on dense-vocab corpora. This path prunes in the WAND /
    * max-score family, but DOCUMENT-at-a-time rather than Turtle–Flood
    * term-at-a-time, for a measured reason: on the target corpora the
    * vocabulary is dense (documents at sf0.1: 31 terms, 30 of them
    * with df ≈ 0.77·N), so essential-term candidate generation cannot
    * shrink — nearly every term posts in most documents and the
    * candidate set is the corpus regardless of which terms survive a
    * θ partition. What CAN be pruned exactly is the expensive phase:
    *
    *   1. Bound pass: one hash aggregate (map-side combinable, no
    *      sort) computes per candidate (q,d) the plain float sum `s`
    *      of its contributions, the absolute-value sum `a`, and the
    *      term count `nt`. Any two floating-point summation orders of
    *      the same nt terms each lie within (nt−1)·u·Σ|c| of the real
    *      sum (u = 2⁻⁵³; Wilkinson, any summation tree), so the exact
    *      pinned fold lies in [s − δ, s + δ] with δ = 4·nt·u·a — a
    *      PROVABLE interval, not a heuristic.
    *   2. Top-k floor: θ = the k-th largest lower bound (s − δ) per
    *      query (one window over the |panel|·|candidates| PAIR rows —
    *      ~20× fewer than contribution rows). Every candidate with
    *      s + δ < θ is provably below the k-th exact score and is
    *      skipped; survivors are ~k + FP-indistinguishable ties per
    *      query (exact-duplicate documents tie by construction and
    *      all survive — the final rank orders them by id exactly as
    *      the unpruned path does).
    *   3. Exact refold: the pinned term-order fold runs only over the
    *      survivors' contributions (re-derived by joining the posting
    *      checkpoint against the kept pairs — same rows, same doubles,
    *      same fold, hence bit-equal scores), then the same
    *      (score desc, id) rank.
    *
    * Exactness: exact_i ≥ s_i − δ_i for every candidate, so the k-th
    * largest exact ≥ θ; a pruned candidate has exact_i ≤ s_i + δ_i <
    * θ ≤ k-th exact, so it can never enter the top k under the
    * (score desc, id asc) order, ties included. Survivors are scored
    * by the identical fold, so the output is the unpruned output.
    *
    * Scale shape: the bound pass shuffles pre-aggregated PAIR rows
    * (|panel|·|corpus| worst case) instead of sorting the full
    * contribution mass (|panel|·Σdf ≈ |terms|× larger); the refold is
    * O(k·dl) per query. Degenerate all-ties corpora (every doc
    * identical) keep every candidate — the refold then equals the
    * unpruned fold and nothing is lost but the bound pass.
    */
  def bm25TopKFromPostingsMaxScore(
      postings: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxDfFrac: Double = 1.0,
      assumeStable: Boolean = false): DataFrame = {
    bm25Validate(k, k1, b, maxDfFrac)
    val p = bm25Prep(postings, idCol, maxDfFrac, stable = assumeStable)
    val qub = bm25Qub(p, queries, qidCol, qtermsCol)
    bm25MaxScoreFinish(p, qub, bm25Contrib(p, qub, k1, b, excludeSelf),
      k, k1, b)
  }

  private def bm25MaxScoreFinish(p: Bm25Prep, qub: DataFrame,
      contrib: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    // 1. bound pass: hash agg only — no sort touches contribution mass
    val u4 = 4.0 * math.pow(2.0, -53) // 4u; δ = 4·nt·u·Σ|c| (see doc)
    val wqL = Window.partitionBy(col("query_id"))
      .orderBy((col("__s") - col("__d")).desc, col("match_id"))
    val bounds = contrib
      .groupBy(col("query_id"), col("match_id"))
      .agg(sum(col("__c")).as("__s"),
        sum(abs(col("__c"))).as("__a"),
        count(lit(1)).cast("double").as("__nt"))
      .withColumn("__d", lit(u4) * col("__nt") * col("__a"))
      // 2. θ = k-th largest lower bound; chained windows share the
      // partitioning (one relation, no re-execution of the agg)
      .withColumn("__rn", row_number().over(wqL))
      .withColumn("__thL", max(when(col("__rn") === k,
        col("__s") - col("__d"))).over(
        Window.partitionBy(col("query_id"))))
    val keep = bounds
      .filter(col("__thL").isNull ||
        col("__s") + col("__d") >= col("__thL"))
      .select(col("query_id"), col("match_id").as("__id"))
    // 3. exact refold over survivors: same posting rows, same doubles,
    // same pinned fold → bit-equal. keep is ~k+ties per query; AQE
    // broadcasts it at runtime (not forced — a degenerate all-ties
    // corpus keeps everything and must stay a shuffle join).
    val refold = p.tf.join(keep, "__id")
      .join(broadcast(qub), Seq("query_id", "__term"))
      .select(col("query_id"), col("__id").as("match_id"), col("__term"),
        (col("__idf6") * bm25W(k1, b, p.n, p.totdl)).as("__c"))
    bm25FoldRank(refold, k)
  }

  /** Auto-routing serve path over a posting relation: the dense-vocab
    * kernel when the surviving vocabulary fits `vocabCap` (the
    * join-degenerate regime — measured on the target corpus) and ids
    * are longs; the max-score pruned postings join otherwise (sparse
    * vocabularies, where Sigma-df candidate mass is the winning plan at
    * any n). All paths are spec-pinned bit-equal, so routing is purely
    * a cost decision. `assumeStable = true` declares the postings
    * relation already file-backed (an [[IndexStore.loadBm25]] scan) —
    * the DISK_ONLY re-checkpoint is skipped and every statistics pass
    * becomes a column-pruned parquet scan, which is the point of
    * serving from a persisted index.
    */
  def bm25TopKFromPostingsAuto(
      postings: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxDfFrac: Double = 1.0,
      vocabCap: Int = 4096,
      assumeStable: Boolean = false): DataFrame = {
    bm25Validate(k, k1, b, maxDfFrac)
    val p = bm25Prep(postings, idCol, maxDfFrac, stable = assumeStable)
    val dfC =
      if (bm25LongIds(postings, idCol, queries, qidCol))
        bm25CollectVocab(p, vocabCap)
      else None
    dfC match {
      case Some(d) =>
        bm25DenseFromPostings(p, d, queries, qidCol, qtermsCol,
          k, k1, b, excludeSelf, panelCap = 100000)
      case None =>
        val qub = bm25Qub(p, queries, qidCol, qtermsCol)
        bm25MaxScoreFinish(p, qub,
          bm25Contrib(p, qub, k1, b, excludeSelf), k, k1, b)
    }
  }

  /** Auto-routing serve path over a raw tokenized corpus. The dense
    * route here never builds the posting relation at all: corpus
    * statistics (n, totdl, df) come from two combinable aggregations
    * and each document's tf vector is assembled INSIDE the scoring
    * pass from its token array — one shuffle-free corpus scan total,
    * vs explode -> groupBy -> DISK_ONLY checkpoint -> join for the
    * posting paths. Bit-equal (same integer counts, same quantized
    * idf, same pinned fold; spec-pinned).
    */
  def bm25TopKAuto(
      corpus: DataFrame, idCol: String, toksCol: String,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxDfFrac: Double = 1.0,
      vocabCap: Int = 4096): DataFrame = {
    bm25Validate(k, k1, b, maxDfFrac)
    val dense =
      if (bm25LongIds(corpus, idCol, queries, qidCol))
        bm25TryDenseInline(corpus, idCol, toksCol, queries, qidCol,
          qtermsCol, k, k1, b, excludeSelf, maxDfFrac, vocabCap)
      else None
    dense.getOrElse(
      bm25TopKFromPostingsMaxScore(bm25Postings(corpus, idCol, toksCol),
        idCol, queries, qidCol, qtermsCol, k, k1, b, excludeSelf,
        maxDfFrac))
  }

  /** Inline corpus-form dense scoring, or None when the surviving
    * vocabulary exceeds the cap. Corpus n/totdl/df are exact integer
    * counts in doubles — identical values to the postings derivation,
    * so scores stay bit-equal.
    */
  private def bm25TryDenseInline(
      corpus: DataFrame, idCol: String, toksCol: String,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double, b: Double,
      excludeSelf: Boolean, maxDfFrac: Double,
      vocabCap: Int): Option[DataFrame] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c0 = corpus
      .select(col(idCol).cast("long").as("__id"), col(toksCol).as("__toks"))
      .filter(size(col("__toks")) > 0)
    // n/totdl: one combinable aggregation (dl = token count per doc,
    // the bm25Postings definition)
    val statsRow = c0.agg(count(lit(1)).cast("double"),
      sum(size(col("__toks"))).cast("double")).head()
    val n = statsRow.getDouble(0)
    val totdl = if (n == 0.0) 0.0 else statsRow.getDouble(1)
    val dfRel0 = c0
      .select(explode(array_distinct(col("__toks"))).as("__term"))
      .groupBy(col("__term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val dfRel =
      if (maxDfFrac >= 1.0) dfRel0
      else dfRel0.filter(col("__df") <= lit(maxDfFrac) * lit(n))
    // bounded collect: cap+1 rows decide routing without OOMing the
    // driver on an unbounded vocabulary
    val dfC = dfRel.limit(vocabCap + 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    if (dfC.length > vocabCap) None
    else {
      val scorer = bm25DenseScorer(dfC, n, totdl, queries, qidCol,
        qtermsCol, k, k1, b, excludeSelf, panelCap = 100000)
      val partials = c0.as[(Long, Seq[String])]
        .mapPartitions(it => scorer.scoreToks(it))
        .toDF("query_id", "match_id", "score")
      Some(bm25RankPartials(partials, k))
    }
  }

  /** Dense scoring over a prepped posting relation: one groupByKey
    * regroup of the (corpus-sized) postings into per-doc tf vectors,
    * then the same shuffle-free scoring pass.
    */
  private def bm25DenseFromPostings(
      p: Bm25Prep, dfC: Array[(String, Double)],
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double, b: Double,
      excludeSelf: Boolean, panelCap: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val scorer = bm25DenseScorer(dfC, p.n, p.totdl, queries, qidCol,
      qtermsCol, k, k1, b, excludeSelf, panelCap)
    val nVocab = scorer.nVocab
    val vIdxB = spark.sparkContext.broadcast(scorer.vIdx)
    val docs = p.tf
      .select(col("__id").cast("long"), col("__dl"), col("__term"),
        col("__tf"))
      .as[(Long, Double, String, Double)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        var dl = 0.0
        val tf2 = new Array[Double](nVocab)
        it.foreach { case (_, d, t2, f) =>
          dl = d
          val ix: Integer = vIdxB.value.get(t2)
          if (ix ne null) tf2(ix.intValue) = f
        }
        (id, dl, tf2)
      }
    val partials = docs.mapPartitions(it => scorer.scoreVecs(it))
      .toDF("query_id", "match_id", "score")
    bm25RankPartials(partials, k)
  }

  /** Collect the surviving vocabulary's df map when it fits the cap
    * (bounded: cap+1 rows max), else None.
    */
  private def bm25CollectVocab(p: Bm25Prep,
      vocabCap: Int): Option[Array[(String, Double)]] = {
    val dfC = p.dfRel.limit(vocabCap + 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    if (dfC.length > vocabCap) None else Some(dfC)
  }

  /** Both relations carry long ids — the dense kernel's typed-Dataset
    * requirement (q197/q201/q202 corpora; anything else routes to the
    * join paths).
    */
  private def bm25LongIds(rel: DataFrame, idCol: String,
      queries: DataFrame, qidCol: String): Boolean = {
    import org.apache.spark.sql.types.LongType
    rel.schema(idCol).dataType == LongType &&
      queries.schema(qidCol).dataType == LongType
  }

  /** Build the serializable dense scorer: vocab sorted by UTF-8 bytes
    * (Spark's string order — the pinned fold order), quantized idf per
    * slot (driver BigDecimal HALF_UP == Spark round; math.log == the
    * Log expression), panel collected (bounded by contract).
    */
  private def bm25DenseScorer(dfC: Array[(String, Double)],
      n: Double, totdl: Double,
      queries: DataFrame, qidCol: String, qtermsCol: String,
      k: Int, k1: Double, b: Double, excludeSelf: Boolean,
      panelCap: Int): DenseBm25 = {
    val spark = queries.sparkSession
    import spark.implicits._
    val vocab = dfC.map(_._1).sortWith(utf8Less)
    // Integer (boxed) values ON PURPOSE: a HashMap[String, Int] get on
    // a missing key returns null that Scala silently UNBOXES TO 0 —
    // which mapped every pruned/unknown term onto vocab slot 0,
    // clobbering real tf values (caught by the maxDfFrac equality spec)
    val vIdx = new java.util.HashMap[String, Integer]()
    vocab.zipWithIndex.foreach { case (t2, i) =>
      vIdx.put(t2, Integer.valueOf(i)): Unit }
    val dfMap = dfC.toMap
    val idf6 = vocab.map(t2 =>
      BigDecimal(math.log((n - dfMap(t2) + 0.5) / (dfMap(t2) + 0.5) + 1.0))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    // ONE Spark job: collect limit(cap+1) rows and enforce the cap on
    // the array length (r14 advice — count()+collect() ran the panel
    // plan twice per serve call)
    val collected = queries.select(col(qidCol).cast("long").as("qid"),
      array_distinct(col(qtermsCol)).as("qt"))
      .limit(panelCap + 1).as[(Long, Seq[String])].collect()
    require(collected.length <= panelCap,
      s"dense BM25 kernel needs a driver-collectable panel (<= $panelCap)")
    val qArr: Array[(Long, Array[Int])] = collected
      .map { case (qid, ts) =>
        qid -> ts.map(t2 => vIdx.get(t2)).filter(_ ne null)
          .map(_.intValue)
          .sorted.toArray // ascending vocab index == ascending term order
      }
    new DenseBm25(vIdx, idf6, qArr, n, totdl, k1, b, k, excludeSelf)
  }

  /** Rank the per-partition heap survivors: <= partitions * |panel| * k
    * rows, one tiny window.
    */
  private def bm25RankPartials(partials: DataFrame, k: Int): DataFrame = {
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("match_id"))
    partials.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("score"), col("rank"))
  }

  /** The serializable dense-vocab scorer: per-partition bounded top-k
    * heaps per query under the final (score desc, id asc) order, the
    * pinned term-order fold as a primitive while-loop. `scoreToks`
    * builds each doc's tf vector from its token array inline (the
    * corpus form — zero shuffles); `scoreVecs` consumes pre-grouped
    * vectors (the postings form). Arithmetic mirrors the Column form
    * verbatim: idf6 * ((tf*(k1+1)) / (tf + k1*((1-b) + (b*dl)/avgdl)))
    * with k1+1, 1-b and totdl/n each computed ONCE (the same folded
    * constants the lit() forms compile to), so scores are bit-equal.
    */
  private final class DenseBm25(
      val vIdx: java.util.HashMap[String, Integer],
      idf6: Array[Double], qs: Array[(Long, Array[Int])],
      n: Double, totdl: Double, k1: Double, b: Double, k: Int,
      excludeSelf: Boolean) extends Serializable {
    val nVocab: Int = idf6.length
    private val avgdl = totdl / n
    private val k1p1 = k1 + 1.0
    private val oneMinusB = 1.0 - b

    private def newHeaps(): Array[java.util.PriorityQueue[(Double, Long)]] =
      Array.fill(qs.length)(
        new java.util.PriorityQueue[(Double, Long)](
          math.max(1, k),
          new java.util.Comparator[(Double, Long)] {
            def compare(x: (Double, Long), y: (Double, Long)): Int = {
              val c = java.lang.Double.compare(x._1, y._1) // worst first
              if (c != 0) c else java.lang.Long.compare(y._2, x._2)
            }
          }))

    private def scoreDoc(id: Long, dl: Double, tf2: Array[Double],
        heaps: Array[java.util.PriorityQueue[(Double, Long)]]): Unit = {
      val norm = k1 * (oneMinusB + (b * dl) / avgdl)
      var qi = 0
      while (qi < qs.length) {
        val qid = qs(qi)._1
        if (!(excludeSelf && id == qid)) {
          val termIdx = qs(qi)._2
          var acc = 0.0
          var matched = 0
          var ti = 0
          while (ti < termIdx.length) {
            val ix = termIdx(ti)
            val f = tf2(ix)
            if (f > 0.0) {
              acc += idf6(ix) * ((f * k1p1) / (f + norm))
              matched += 1
            }
            ti += 1
          }
          // a doc matching NO query term produces no row in the join
          // paths — emitting a 0.0 row here would differ when a query
          // has fewer than k real candidates
          if (matched > 0) {
            val h = heaps(qi)
            if (h.size < k) { h.add((acc, id)); () }
            else {
              val w = h.peek()
              if (acc > w._1 || (acc == w._1 && id < w._2)) {
                h.poll(); h.add((acc, id)); ()
              }
            }
          }
        }
        qi += 1
      }
    }

    private def drain(
        heaps: Array[java.util.PriorityQueue[(Double, Long)]])
        : Iterator[(Long, Long, Double)] = {
      import scala.jdk.CollectionConverters._
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = qs(qi)._1
        h.iterator().asScala.map { case (s2, id) => (qid, id, s2) }
      }
    }

    def scoreToks(it: Iterator[(Long, Seq[String])])
        : Iterator[(Long, Long, Double)] = {
      val heaps = newHeaps()
      it.foreach { case (id, toks) =>
        val tf2 = new Array[Double](nVocab)
        var dl = 0.0
        toks.foreach { t2 =>
          dl += 1.0 // dl counts ALL tokens (the bm25Postings dl)
          val ix: Integer = vIdx.get(t2)
          if (ix ne null) tf2(ix.intValue) += 1.0
        }
        scoreDoc(id, dl, tf2, heaps)
      }
      drain(heaps)
    }

    def scoreVecs(it: Iterator[(Long, Double, Array[Double])])
        : Iterator[(Long, Long, Double)] = {
      val heaps = newHeaps()
      it.foreach { case (id, dl, tf2) => scoreDoc(id, dl, tf2, heaps) }
      drain(heaps)
    }
  }

  /** Spark's string order is UTF8 BYTE order (UTF8String.compareTo);
    * Scala's default String ordering is UTF-16 code-unit order — they
    * diverge above the BMP, so the driver-side vocab sort pins the
    * byte comparison explicitly.
    */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def bm25Validate(k: Int, k1: Double, b: Double,
      maxDfFrac: Double): Unit = {
    require(k >= 1, "k must be >= 1")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    require(maxDfFrac > 0 && maxDfFrac <= 1,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
  }

  /** Shared BM25 serving state: the posting relation (DISK_ONLY-
    * checkpointed unless the caller declares it file-backed), the
    * SURVIVING-term df relation (lazy — the dense paths collect it,
    * the join paths fold it into qub), and the driver-collected corpus
    * stats (1-row head — exact integer counts in doubles, identical to
    * the column form the pre-r14 implementation carried through a
    * crossJoin).
    */
  private case class Bm25Prep(tf: DataFrame, dfRel: DataFrame,
      n: Double, totdl: Double)

  private def bm25Prep(postings: DataFrame, idCol: String,
      maxDfFrac: Double, stable: Boolean): Bm25Prep = {
    val tf0 = postings.select(col(idCol).as("__id"), col("dl").as("__dl"),
      col("term").as("__term"), col("tf").as("__tf"))
    // feeds stats + df + the postings join (or dense regroup) + the
    // max-score refold. DISK_ONLY because the relation is CORPUS-sized:
    // the default MEMORY_AND_DISK unroll heap-buffers each partition
    // first (the Graph.scala OOM lesson at 100x) while DISK_ONLY
    // streams. When the caller declares the postings FILE-BACKED
    // (`stable` — an IndexStore.loadBm25 parquet scan), the checkpoint
    // is a pointless disk-to-disk copy: every consumer re-scans the
    // parquet with COLUMN PRUNING instead (the stats pass reads 2
    // columns, the df pass 1), which is the point of a persisted index.
    val tf = if (stable) tf0
      else tf0.localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // N and totdl over the distinct doc set (dl is functionally
    // dependent on id): exact integer counts in doubles, collected at
    // the driver (1-row aggregate head — the bounded-collect class)
    val statsRow = tf.select(col("__id"), col("__dl")).distinct()
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__dl")).cast("double").as("__totdl"))
      .head()
    val n = statsRow.getDouble(0)
    val totdl = if (n == 0.0) 0.0 else statsRow.getDouble(1)
    val dfRel0 = tf.groupBy(col("__term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    // stopword pruning BEFORE the postings join: a dropped term never
    // generates candidate rows (df is computed over the full corpus
    // first — the threshold is a property of the corpus, not the
    // surviving index)
    val dfRel =
      if (maxDfFrac >= 1.0) dfRel0
      else dfRel0.filter(col("__df") <= lit(maxDfFrac) * lit(n))
    Bm25Prep(tf, dfRel, n, totdl)
  }

  /** The per-(query, term) surviving-term relation with its quantized
    * idf. Computing idf once here and joining is bit-identical to the
    * per-row form (same doubles, same ops; the Round22 driver-brute
    * exact-equality spec pins it). Panel-sized; eagerly checkpointed so
    * the df aggregation runs once however many consumers (contrib +
    * refold) scan it.
    */
  private def bm25Qub(p: Bm25Prep, queries: DataFrame,
      qidCol: String, qtermsCol: String): DataFrame = {
    val qt = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(col(qtermsCol))).as("__term"))
    qt.join(p.dfRel, "__term")
      .select(col("query_id"), col("__term"),
        round(log((lit(p.n) - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)), 6).as("__idf6"))
      .localCheckpoint(eager = true)
  }

  /** ONE pinned parenthesization for the saturation weight, mirrored
    * verbatim by the oracle SQL — `lit(totdl)/lit(n)` is the same
    * division the column form performed per row.
    */
  private def bm25W(k1: Double, b: Double, n: Double,
      totdl: Double): Column =
    (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) *
        (lit(1.0 - b) + (lit(b) * col("__dl")) / (lit(totdl) / lit(n))))

  /** The full candidate-contribution relation (query_id, match_id,
    * __term, __c): the inverted-index postings join, one row per
    * (query, candidate, shared term).
    */
  private def bm25Contrib(p: Bm25Prep, qub: DataFrame,
      k1: Double, b: Double, excludeSelf: Boolean): DataFrame = {
    val joined0 = p.tf.join(broadcast(qub), "__term")
    val joined =
      if (excludeSelf) joined0.filter(col("__id") =!= col("query_id"))
      else joined0
    joined.select(col("query_id"), col("__id").as("match_id"),
      col("__term"), (col("__idf6") * bm25W(k1, b, p.n, p.totdl)).as("__c"))
  }

  /** Pinned TERM-ORDER left fold via ONE window pass: a running
    * rowsBetween(unboundedPreceding, currentRow) sum updates its
    * buffer row-by-row in ORDER BY order, so the last row's value is
    * bit-identical to aggregate(array_sort(collect_list(struct(term,
    * c))), 0.0, _+_) — the sum's first update seeds the buffer with
    * c1 == 0.0 + c1 (contributions are never -0.0), every later step
    * adds left-to-right. Same values as DuckDB's list_reduce(
    * list_prepend(0.0, list(c ORDER BY term))). Chosen over the
    * collect_list form after measurement (sf0.1, 7.75M contribution
    * rows): 11–15 s vs 4–5 s — ObjectHashAggregate boxes every struct
    * and the HOF fold is interpreted per element, while WindowExec
    * streams sorted unsafe rows. The window partitions by
    * (query_id, match_id) — |panel|·|corpus| keys, never a
    * single-partition hazard.
    */
  private def bm25FoldRank(contrib: DataFrame, k: Int): DataFrame = {
    val wrun = Window.partitionBy(col("query_id"), col("match_id"))
      .orderBy(col("__term"))
    val scored = contrib
      .withColumn("__run", sum(col("__c")).over(
        wrun.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wrun))
      .withColumn("__cnt", count(lit(1)).over(
        Window.partitionBy(col("query_id"), col("match_id"))))
      .filter(col("__rn") === col("__cnt")) // keep the LAST running value
      .select(col("query_id"), col("match_id"), col("__run").as("score"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("match_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of L
    * per-query rankings: `score(q,d) = Σ_i 1/(rrfK + rank_i(q,d))`
    * over the rankings that contain `(q,d)`, then the top `k` per
    * query. Each input must carry `(query_id, match_id, rank)` with
    * ranks unique per (ranking, query) — duplicate pairs within one
    * ranking would double-count.
    *
    * Cross-engine determinism: the score is a sum of up to L doubles,
    * and a plain SUM aggregates in engine-dependent order. The terms
    * are folded in RANKING-LIST ORDER instead (collect the (list-idx,
    * rank) pairs, array_sort, fold left from 0.0) — any engine
    * mirroring the same fold (DuckDB `list_reduce(list_prepend(0.0,
    * list(... ORDER BY idx)))`, the q134 centroid precedent) produces
    * bit-identical scores. Per-group lists are ≤ L elements, so the
    * lambda cost the project's kernel rule warns about (40× on long
    * vectors) is irrelevant here. Ties (e.g. the symmetric (r_a, r_b)
    * vs (r_b, r_a) pair) break by match_id.
    *
    * Scale shape: one union of the (already top-n-bounded) rankings,
    * one combinable (query, match) aggregation, one panel-keyed
    * window over ≤ L·n rows per query. Nothing here touches corpus
    * mass — the inputs are the bounded ranked lists.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking required")
    require(k >= 1, "k must be >= 1")
    require(rrfK >= 1, "rrfK must be >= 1")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("match_id"),
        col("rank").cast("long").as("__r"), lit(i).as("__src"))
    }
    val fused = tagged.reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("match_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("__src"), col("__r")))),
        lit(0.0),
        (acc, x) => acc + lit(1.0) /
          (lit(rrfK).cast("double") + x.getField("__r").cast("double")))
        .as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("match_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("score"), col("rank"))
  }
}
