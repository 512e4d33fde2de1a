package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Shared machinery of the q31 MinHash hard gate — used by BOTH
  * [[VerifyAssertions]] (the gate) and [[tools.ProbeMinhash]] (its
  * past-the-brute-ceiling probe), one implementation so probe and gate
  * cannot drift (the [[SimhashCheck]] pattern, r12 verdict item 3).
  *
  * The check: run the catalog q31 (banded MinHash pairs at estimate
  * threshold 0.7 over the FULL corpus), compute exact shingle-Jaccard
  * pairs at 0.8 ([[Dedup.jaccardPairs]] — itself DuckDB-oracled via
  * q30 and fuzz-proved), and assert every strong exact pair is
  * recovered by the sketch (subset, never equality: a 0.7-estimate
  * band legitimately admits pairs below exact 0.8).
  *
  * Past the exact-pairs ceiling (the shingle self-join tops out around
  * sf1's 50k docs; at sf10's ~500k the full exact pass is the
  * 361-s-class q93 regime), `runSampled(everyKthFamily > 1)` restricts
  * BOTH sides to whole sampled FAMILIES: fam(id) = id % 1e8 strips the
  * ScaleUp replica offset, so every replica copy of a base document
  * (the same-text pairs that dominate scaled-corpus duplication — ~4
  * copies/class at sf10) lands inside the sample together, keeping
  * true pairs in S×S where an id-uniform sample would keep ~none. The
  * banded query still runs over the FULL corpus — only the comparison
  * is restricted.
  */
private[graft] object MinhashCheck {

  /** The exact-jaccard bar: the exact side's pair threshold and the
    * full-set jaccard below which a miss is universe-divergent.
    */
  val ExactBar = 0.8

  final case class Result(
      nSampled: Long, exact: Set[(Long, Long)], banded: Set[(Long, Long)],
      exactSecs: Double, bandedSecs: Double,
      fullSetJ: Map[(Long, Long), Double]) {
    def missed: Set[(Long, Long)] = exact.diff(banded)
    /** Misses whose FULL-shingle-set jaccard is below the exact bar —
      * the exact side stopwords shingles past maxShingleDf (the
      * distributed-stopword contract that makes it computable at
      * scale) while the sketch sees the FULL sets, so past the corpus
      * size where df > 1000 binds the two universes CAN diverge and
      * such a miss is the sketch measuring its own universe correctly.
      * Verified per missed pair by recomputing the unstopworded
      * jaccard. (Empirically ZERO at the sf10 rehearsal — the observed
      * misses were genuine, see [[genuine]] — but the class is kept:
      * it is the one excusable-by-construction miss and the
      * re-verification is what PROVES a miss genuine.)
      */
    def divergent: Set[(Long, Long)] =
      missed.filter(p => fullSetJ.getOrElse(p, 1.0) < ExactBar)
    /** Misses at full-set j ≥ 0.8 — real sketch recall failures,
      * bounded by a quantitative floor instead of missed=0, which is
      * unattainable for a probabilistic sketch at corpus scale.
      * Root cause measured at sf10 (r19; OPTIMIZATION_r19.md, "Item 2
      * — q31 sf10 minhash gate"): all 16
      * misses were ONE base pair (full-set j = 0.889, B ⊂ A one token
      * apart) × its 16 rotation-identical replica combinations, with
      * signature estimate 0.1797 — NOT binomial estimate noise (17σ)
      * but the Kirsch–Mitzenmacher family's 2-degrees-of-freedom
      * pathology: component i is min over x of h1(x) + i·h2(x), so a
      * single differing element whose (h1, h2) stays minimal across
      * most i corrupts most components at once. The sketch family is
      * shared by the oracled admission loops (q204/q206/q211 — which
      * exact-verify candidates, so only banding recall is exposed);
      * changing it is a semantics change, not an optimization, so the
      * gate bounds the tail instead: recall ≥ 0.9999 with every count
      * printed.
      */
    def genuine: Set[(Long, Long)] = missed.diff(divergent)
    def recallGenuine: Double =
      if (exact.isEmpty) 0.0 else 1.0 - genuine.size.toDouble / exact.size
    /** Pass = every exact pair recovered except (a) universe-divergent
      * pairs (excused, each one re-verified against the full sets) and
      * (b) genuine sketch misses within recall ≥ 0.9999 — at the gate
      * SFs (≤ ~256 exact pairs) the floor still forces genuine
      * misses = 0 (1/256 < 0.9999 fails), so the driver-SF contract is
      * unchanged.
      */
    def pass: Boolean = exact.nonEmpty && recallGenuine >= 0.9999
    def detail: String =
      s"exact(j>=$ExactBar)=${exact.size} minhash=${banded.size} " +
        s"missed=${missed.size} missed_divergent_universe=${divergent.size} " +
        s"missed_genuine=${genuine.size} " +
        f"recall_genuine=$recallGenuine%.6f sampled_docs=$nSampled"
  }

  def run(spark: SparkSession, sfDir: String): Result =
    runSampled(spark, sfDir, 1L)

  /** Full-shingle-set jaccard for a handful of (id, id) pairs — the
    * per-missed-pair re-verification (driver-side over collected
    * shingle sets; |missed| is tiny by construction). An id absent
    * from the documents table is a lookup bug, not a jaccard of 0 —
    * it throws, so it can never excuse a miss as divergent.
    */
  private[graft] def fullSetJaccard(spark: SparkSession, sfDir: String,
      pairs: Set[(Long, Long)]): Map[(Long, Long), Double] = {
    if (pairs.isEmpty) return Map.empty
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).toSeq
    val sets = Tables(spark, sfDir, "documents")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"),
        graft.functions.SketchExprs.shingle_hashes(
          graft.functions.TextFunctions.tokensWs(col("text")), 3)
          .as("__sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def shingles(id: Long): Set[Long] = sets.getOrElse(id,
      throw new IllegalStateException(
        s"MinhashCheck: doc id $id of a missed pair is not in " +
          s"$sfDir/documents"))
    pairs.iterator.map { case p @ (a, b) =>
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = sa.intersect(sb).size
      val uni = sa.size + sb.size - inter
      p -> (if (uni == 0) 0.0 else inter.toDouble / uni)
    }.toMap
  }

  def runSampled(spark: SparkSession, sfDir: String,
      everyKthFamily: Long): Result = {
    val docs = Tables(spark, sfDir, "documents")
    val famCol = col("doc_id") % 100000000L
    val sampled =
      if (everyKthFamily <= 1L) docs
      else docs.filter(famCol % everyKthFamily === 0)
    def inSample(id: Long): Boolean =
      everyKthFamily <= 1L || (id % 100000000L) % everyKthFamily == 0L
    val t0 = System.nanoTime()
    val exact = Dedup.jaccardPairs(sampled, "doc_id", "text", ExactBar)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val banded = SparkEntry.queries("q31_minhash_neardup")(spark, sfDir)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => inSample(p._1) && inSample(p._2)).toSet
    val bandedSecs = (System.nanoTime() - t1) / 1e9
    val n = sampled.count()
    val fullJ = fullSetJaccard(spark, sfDir, exact.diff(banded))
    Result(n, exact, banded, exactSecs, bandedSecs, fullJ)
  }
}
