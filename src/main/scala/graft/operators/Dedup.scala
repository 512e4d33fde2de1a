package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, TextFunctions}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard (the verifier for the sketches).
  *
  * Scale design (the point of this module):
  *  - exact dedup is one hash-shuffle on the key;
  *  - MinHash signatures are ONE explode + ONE groupBy (all `numHashes`
  *    minima computed as parallel agg columns over a single shingle
  *    explosion — not numHashes passes);
  *  - LSH banding turns the O(n²) pair space into per-bucket joins; only
  *    candidate pairs (≈ planted dups + small false-positive band) are
  *    verified, so the expensive exact-Jaccard join runs on a tiny set;
  *  - SimHash reduces a doc to ONE 64-bit value; near-dup search is a
  *    16-bit-band self-join + popcount filter (Manku et al., WWW'07 shape);
  *  - everything is deterministic: hash seeds are fixed constants.
  *
  * The reference engine has no dedup at all — this is the 100 TB extension
  * surface (builder prompt), built Spark-first.
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup: one representative row (min of `tieBreak`) per distinct
    * value of `keyCols`. Single hash aggregation — at 100 TB this is the
    * canonical map-side-combinable groupBy.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String*): DataFrame = {
    require(tieBreak.nonEmpty,
      "deterministic dedup needs at least one tie-break column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(tieBreak.map(c => col(c).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Span-level (exact-substring) duplication marker: for each doc, how
    * many of its word k-gram positions carry a k-gram that occurs more
    * than once ANYWHERE in the corpus — the signal behind
    * substring-dedup passes over training data.
    *
    * Shape: the text explodes ONCE into (id, gramHash) and immediately
    * pre-aggregates per (id, hash) — everything after the first shuffle
    * carries counts, never gram strings. Global gram frequency is the sum
    * of the per-doc counts, joined back on the 8-byte hash. Returns one
    * row per input doc: (idCol, total_spans, dup_spans) with zeros for
    * docs shorter than k words.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    // widen a single-file corpus so the k-gram explode runs on every
    // core, then materialize the compact (id, hash, n) aggregate once so
    // the explode doesn't run per consuming branch
    val grams = PlanUtil
      .widenIfNarrow(docs.select(col(idCol), col(textCol).as("__t")))
      // ngram_hashes == xxhash64(ngrams(...)) bit-for-bit (spec-pinned);
      // the HOF chain paid a slice+concat+hex per gram interpreted
      .select(col(idCol),
        explode(graft.functions.SketchExprs.ngram_hashes(
          graft.functions.TextFunctions.tokensWs(col("__t")), k)).as("__h"))
      .groupBy(col(idCol), col("__h"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val global = grams.groupBy(col("__h")).agg(sum(col("__n")).as("__c"))
    val per = grams.join(global, "__h")
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("total_spans"),
        sum(when(col("__c") > 1, col("__n")).otherwise(lit(0L)))
          .as("dup_spans"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("total_spans"), lit(0L)).as("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
  }

  /** Corpus-wide EXACT-SUBSTRING span dedup (the Lee et al. 2022
    * train-set shape, arXiv:2107.06499): per doc, the text that
    * SURVIVES removing every corpus-duplicated word span — a token
    * position is duplicated iff it is covered by some word k-gram whose
    * exact text occurs ≥ 2 times across the corpus (multiplicity, not
    * distinct docs: within-doc repeats count). Returns one row per
    * input doc: (idCol, text_dedup, total_tokens, kept_tokens);
    * text_dedup is the surviving tokens joined by single spaces ("" if
    * everything was removed). [[repeatedSpans]] counts this signal;
    * this emits the deduplicated text itself.
    *
    * Scale shape — never a driver suffix array: gram identity is an
    * 8-byte xxhash64 bucket (one map-side-combinable groupBy for the
    * global frequency; ~n²/2^65 expected colliding pairs — switch to a
    * 128-bit double-hash past ~10^12 grams); coverage is a per-doc
    * WINDOW over token positions (a dup start s covers s..s+k-1, so
    * position p is covered iff a dup start lies in [p-k+1, p] — max
    * over the last k rows of the position-ordered window; positions
    * are dense, so rows == positions); reassembly is a per-doc bounded
    * collect_list. Every stage is doc-bounded or hash-keyed.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "dedupSpans needs k >= 1")
    val base = PlanUtil
      .widenIfNarrow(docs.select(col(idCol), col(textCol).as("__t")))
      .select(col(idCol),
        graft.functions.TextFunctions.tokensWs(col("__t")).as("__w"))
      .localCheckpoint() // 3 consumers: grams, token explode, totals
    // (id, start, gramHash) — start is 0-based; the n<k guard keeps the
    // HOF range total (the winnowing sequence(1,0)-descends lesson)
    // ngram_hashes emits the positional xxhash64-of-gram values the
    // when-guarded transform+concat_ws+xxhash64 chain produced (the
    // n<k guard lives inside the kernel; spec-pinned bit-identical)
    val grams = base.select(col(idCol),
        posexplode(graft.functions.SketchExprs.ngram_hashes(col("__w"), k))
          .as(Seq("__s", "__h")))
      .localCheckpoint() // 2 consumers: global freq + join back
    val freq = grams.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
    val dupStarts = grams.join(freq.filter(col("__c") > 1), Seq("__h"))
      .select(col(idCol), col("__s"))
    val toks = base.select(col(idCol),
      posexplode(col("__w")).as(Seq("__p", "__tok")))
    val marked = toks.join(
      dupStarts.select(col(idCol), col("__s").as("__p"), lit(1).as("__ds")),
      Seq(idCol, "__p"), "left")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(k - 1).toLong, 0L)
    val kept = marked.withColumn("__cov", max(col("__ds")).over(win))
      .filter(col("__cov").isNull)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__p"), col("__tok")))),
          x => x.getField("__tok"))).as("text_dedup"),
        count(lit(1)).as("kept_tokens"))
    base.select(col(idCol), size(col("__w")).cast("long").as("total_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("total_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  // ---------------------------------------------------------------- minhash

  /** Estimated Jaccard from signatures: fraction of equal components. */
  def estimateJaccard(sig: DataFrame, idCol: String, pairs: DataFrame,
      numHashes: Int = 128): DataFrame = {
    val a = sig.select(col(idCol).as("id_a"), col("sig").as("__sa"))
    val b = sig.select(col(idCol).as("id_b"), col("sig").as("__sb"))
    val eq = size(filter(zip_with(col("__sa"), col("__sb"), (x, y) =>
      when(x === y, lit(1)).otherwise(lit(null))), v => v.isNotNull))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (eq.cast("double") / numHashes).as("est_jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures ([[sigPrep]]) →
    * banding ([[bandCandidates]]) → signature-estimated Jaccard ≥
    * threshold. The estimate is the sketch's own answer; the exact twin
    * is [[jaccardPairsLsh]].
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleWords: Int = 3,
      numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val sig = sigPrep(df, idCol, textCol, "id", shingleWords, numHashes)
    val cand = bandCandidates(sig.withColumnRenamed("id", "id_a"),
      sig.withColumnRenamed("id", "id_b"), bands, numHashes / bands,
      col("id_a") < col("id_b"))
    estimateJaccard(sig.withColumnRenamed("__sig", "sig"), "id", cand,
        numHashes)
      .filter(col("est_jaccard") >= threshold)
  }

  /** The one signature builder of the MinHash family: (outId, `__sh`
    * sorted distinct shingle hashes, `__sig` MinHash signature), widened
    * (single-file corpora) and checkpointed once. Every consumer reads
    * it from several plan branches (band sides, verify sides) with
    * different column sets, so after pruning the subtrees differ and
    * ReusedExchange can't share them — the checkpoint materializes the
    * scan and the sketch once. Docs shorter than shingleWords have NO
    * shingles: they can never reach a positive Jaccard, but their
    * all-sentinel signatures would band-collide with EVERY other empty
    * doc (estimate 1.0) and 0/0 division yields NaN — which Spark
    * orders ABOVE every number, so `NaN >= threshold` would pass. Drop
    * them up front.
    * DISK_ONLY checkpoint: the relation carries corpus-sized `__sh`
    * shingle-hash arrays, and the default MEMORY_AND_DISK unroll
    * heap-buffers each partition first (the r13 unroll-OOM class) —
    * the RESIDENT corpus side of [[nearDupAdmitLoop]] rides this at
    * full corpus size.
    */
  private def sigPrep(df: DataFrame, id: String, text: String,
      outId: String, shingleWords: Int, numHashes: Int): DataFrame =
    PlanUtil.widenIfNarrow(df.select(col(id).as(outId), col(text).as("__t")))
      .select(col(outId),
        graft.functions.SketchExprs.shingle_hashes(
          TextFunctions.tokensWs(col("__t")), shingleWords).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sig", graft.functions.SketchExprs
        .minhash_array(col("__sh"), numHashes))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** The key columns of a [[sigPrep]]-shaped relation: everything but
    * the sketch.
    */
  private def sigKeys(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(c => c == "__sh" || c == "__sig")

  /** LSH band candidates: the signatures of `a` (keyed `id_a`) and `b`
    * (keyed `id_b` plus any tag columns) cut into `bands` ×
    * `rowsPerBand` components, each band hashed (one kernel,
    * [[graft.functions.SketchExprs.BandHashes]]; the per-band
    * xxhash64(slice(...)) columns it replaced paid `bands` boxed slice
    * copies per row, 13.4 s of a 21 s admission step at 495k docs) and
    * joined per (band, bandHash) bucket. Returns each colliding
    * (id_a, b's keys) row that passes `keep` once.
    */
  private def bandCandidates(a: DataFrame, b: DataFrame, bands: Int,
      rowsPerBand: Int, keep: Column = lit(true)): DataFrame = {
    def banded(df: DataFrame) = df.select(sigKeys(df).map(col) :+
      posexplode(graft.functions.SketchExprs.band_hashes(
        col("__sig"), bands, rowsPerBand)).as(Seq("__band", "__bh")): _*)
    banded(a).join(banded(b), Seq("__band", "__bh"))
      .filter(keep).drop("__band", "__bh").distinct()
  }

  /** Exact sorted-merge Jaccard verification of [[bandCandidates]]
    * rows against their two [[sigPrep]] relations; keeps pairs with
    * round(jaccard, 4) ≥ threshold. Returns (id_a, b's keys, inter,
    * jaccard).
    */
  private def verifyJaccard(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame = {
    val bKeys = sigKeys(b)
    val keys = "id_a" +: bKeys
    cand
      .join(a.select(col("id_a"), col("__sh").as("__sha")), "id_a")
      .join(b.select(bKeys.map(col) :+ col("__sh").as("__shb"): _*), bKeys)
      .select(keys.map(col) ++ Seq(
        graft.functions.VectorExprs
          .sorted_inter_count(col("__sha"), col("__shb")).as("inter"),
        size(col("__sha")).as("__na"), size(col("__shb")).as("__nb")): _*)
      .select(keys.map(col) ++ Seq(col("inter"),
        round(col("inter").cast("double") /
          (col("__na") + col("__nb") - col("inter")), 4).as("jaccard")): _*)
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-TABLE near-duplicate join (record linkage / entity
    * resolution): all (left, right) pairs whose distinct word-shingle
    * Jaccard ≥ `threshold`. LSH-gated — minhash signatures band-join
    * ACROSS the two tables, so work is proportional to band collisions,
    * never |L|·|R|; each candidate is then verified EXACTLY with a sorted
    * merge-scan intersection over the docs' shingle-hash sets. Default
    * band geometry (r=2 × 64 bands): P(candidate | jaccard=t) =
    * 1-(1-t²)^64 ≈ 1-1e-8 at t=0.5 — effectively total recall at the
    * thresholds this gates.
    */
  def fuzzyJoin(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      threshold: Double, shingleWords: Int = 3,
      numHashes: Int = 128, bands: Int = 64): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes")
    val a = sigPrep(left, leftId, leftText, "id_a", shingleWords, numHashes)
    val b = sigPrep(right, rightId, rightText, "id_b", shingleWords,
      numHashes)
    verifyJaccard(bandCandidates(a, b, bands, numHashes / bands), a, b,
      threshold)
  }

  // ------------------------------------------------------------ exact jaccard

  /** Exact distinct-word-shingle Jaccard for pairs above a threshold —
    * the oracle-checkable ground truth. The shingle self-join is
    * quadratic in bucket size and `candidates` only gates the OUTPUT
    * after that aggregate (see [[shinglePairStats]]) — at 100 TB use
    * [[jaccardPairsLsh]], whose verify work is candidate-proportional.
    * `maxShingleDf` bounds the self-join's per-key bucket (see
    * [[shinglePairStats]]).
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWords: Int = 3,
      candidates: Option[DataFrame] = None,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    shinglePairStats(df, idCol, textCol, shingleWords, candidates, maxShingleDf)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Default document-frequency cap for the exact pair generators: far
    * above any real shared-content signal (testdata max DF is 25 at
    * sf0.1), low enough that no shingle key's self-join bucket can go
    * quadratic unbounded — a boilerplate stop-phrase in millions of docs
    * would otherwise alone generate ~df²/2 joined rows.
    */
  val DefaultMaxShingleDf: Int = 1000

  /** (id_a, id_b, inter, n_a, n_b) for all co-shingled pairs (optionally
    * restricted to `candidates`) — the shared stats stage under every
    * exact set-similarity score (Jaccard, containment). Shingle HASHES
    * only (never strings): ShingleHashes combines per-token hashes per
    * window, so the shuffle carries 8-byte keys (collision odds ~2^-40+,
    * unobservable). Note `candidates` filters the OUTPUT after the
    * co-shingled self-join aggregate — the correctness gate, not a work
    * reduction; the candidate-proportional scale path is banding + the
    * sorted-merge verify (see [[jaccardPairsLsh]]).
    *
    * `maxShingleDf` (skew guard): shingle hashes whose document
    * frequency exceeds the cap are removed from EVERY document's set
    * before the self-join — the distributed-stopword treatment. A hot
    * shingle's bucket joins quadratically (df² rows for ONE key — the
    * bucket a stop-phrase shared by half the corpus would produce is the
    * textbook skew-key blowup), while carrying no dedup signal at that
    * frequency. Scores are exact Jaccard/containment over the FILTERED
    * sets (`n_a`/`n_b` count surviving shingles, so the semantics stay
    * coherent); with the cap above the corpus' true max DF — the default
    * vs testdata — output is bit-identical to the uncapped plan.
    * Pass `maxShingleDf = 0` to disable.
    */
  private def shinglePairStats(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, candidates: Option[DataFrame],
      maxShingleDf: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      graft.functions.SketchExprs.shingle_hashes(
        TextFunctions.tokensWs(col(textCol)), shingleWords).as("shingles"))
    val ex0 = sh.select(col("id"), explode(col("shingles")).as("h"))
    val ex =
      if (maxShingleDf <= 0) ex0
      else {
        // one map-side-combined groupBy over the exploded relation finds
        // the hot keys (≤ occurrences/cap of them — usually broadcast-
        // sized, but the strategy is left to AQE: at a fixed cap the hot
        // set grows linearly with the corpus, so a forced broadcast would
        // itself become the 100 TB blowup), then an anti-join drops hot
        // occurrences. The filtered relation feeds THREE branches (sizes
        // + both self-join sides) — checkpoint it once or the explode +
        // hot-DF aggregate + anti-join subtree re-executes per branch
        // (the round-5 localCheckpoint lesson).
        val hot = ex0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf).select(col("h"))
        ex0.join(hot, Seq("h"), "left_anti").localCheckpoint()
      }
    // sizes over SURVIVING shingles (== size(shingles) when nothing is
    // capped), so capped scores remain exact over the filtered sets
    val sizes =
      if (maxShingleDf <= 0) sh.select(col("id"), size(col("shingles")).as("n"))
      else ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter0 = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val inter = candidates.fold(inter0)(c => inter0.join(c, Seq("id_a", "id_b")))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
  }

  /** Exact shingle CONTAINMENT pairs: inter / min(|A|, |B|) — the
    * sub-document duplication signal Jaccard misses (a short doc fully
    * embedded in a long one scores containment 1.0 but Jaccard
    * |A|/|B| ≈ 0). Same [[shinglePairStats]] stage as [[jaccardPairs]];
    * boundary rule is round(containment, 4) >= threshold. `candidates`
    * gates the output, not the self-join work — co-shingled-pair-
    * proportional by contract: prefer [[containmentPairsPrefix]] (same
    * exact output, candidate-proportional) at scale.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWords: Int = 3,
      candidates: Option[DataFrame] = None,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    shinglePairStats(df, idCol, textCol, shingleWords, candidates, maxShingleDf)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .filter(col("containment") >= threshold)

  /** EXACT containment pairs via prefix filtering (Chaudhuri et al.
    * SSJoin / Bayardo et al. AllPairs, adapted to the containment
    * overlap bound) — identical output to [[containmentPairs]], but
    * candidate-proportional work instead of the co-shingled self-join's
    * Σ df² — the 100 TB path for the asymmetric-overlap signal MinHash
    * banding cannot gate (bands recall Jaccard, which a short-in-long
    * pair can hold near 0).
    *
    * The filter is a pigeonhole bound, so recall is exactly 1 (NOT
    * probabilistic): a qualifying pair needs inter ≥ α = ceil(t·|S|)
    * with S the smaller set, so S must share at least one of ANY
    * (|S| − α + 1) of its own shingles with the larger set — if the
    * larger side misses that whole prefix, inter ≤ |S| − (|S|−α+1) < α.
    * Each doc therefore probes the postings index with only its
    * (1−t)·|d|+1 RAREST shingles (ascending document frequency — the
    * AllPairs ordering): the rare end of the vocabulary is mostly
    * df = 1, so probe traffic is ~linear in corpus shingle mass while
    * genuinely-shared content still collides. Measured at the 100×
    * rehearsal (500k docs): 261 s (exact self-join) → see PLANS.md —
    * the self-join's cost there is Caesar-rotation shingle collisions
    * across replica classes, precisely the hot-key df² blowup the
    * prefix probe sidesteps.
    *
    * `maxShingleDf` keeps [[shinglePairStats]]'s distributed-stopword
    * semantics (hot shingles removed from every doc's set BEFORE
    * prefixes/sizes, scores exact over survivors) — and doubles as the
    * guard that no posting list exceeds the cap. The rounding boundary
    * round(inter/min, 4) >= t is honored by computing α against
    * t − 1e-4 (prefix one-or-two shingles longer — slightly more
    * candidates, never a miss).
    */
  def containmentPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWords: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1] (at 0 every co-shingled pair qualifies)")
    // containment inter/min >= t ⇒ inter >= t·|S| on the smaller set S
    prefixPairStats(df, idCol, textCol, shingleWords, maxShingleDf,
        alphaCoef = threshold - 1e-4)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** [[containmentPairsPrefix]] over PREBUILT relations (see
    * [[expandRepPairs]] for the contracts) — identical output; lets
    * [[graft.ContainmentRel]] serve q93 from the shared per-process
    * build.
    */
  private[graft] def containmentPairsPrefixFrom(docMap: DataFrame,
      repPairs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1] (at 0 every co-shingled pair qualifies)")
    expandRepPairs(docMap, repPairs)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Per-document containment VERDICT — the pipeline-facing form of
    * [[containmentPairsPrefix]] for corpora whose true-pair mass makes
    * the pair list itself the dominant output (the 100× rehearsal corpus
    * holds ~723k genuine identical-text pairs; a drop-contained-docs
    * pipeline needs |docs| verdicts, not the pair list). One row per
    * input document:
    *
    *  - `is_contained` (0/1): the doc is the SMALLER (or equal-size)
    *    side of at least one pair with round(containment, 4) >= t;
    *  - `max_containment`: the best such score (0.0 when none);
    *  - `container_id`: the partner achieving it (ties broken by
    *    smallest partner id; null when none). Equal-size pairs flag
    *    BOTH docs — mutual near-duplicates have no distinguished
    *    container.
    *
    * Same exact prefix-filtered candidate machinery (recall exactly 1),
    * with an IDENTICAL-SET COLLAPSE in front (r16 verdict item 4 — the
    * q203 duplicate-signature lesson in its containment form): docs
    * with equal surviving shingle sets form one CLASS; the candidate +
    * verify machinery runs over one representative per class (within a
    * class every pair is containment 1.0 by identity — no candidate
    * generation, no array-payload verify shuffle, which on a
    * replica-heavy corpus IS the pair mass: the 100× rehearsal's ~723k
    * identical-text pairs verify as 0 class pairs), and verdicts expand
    * back per doc. Class-level bests are a map-side-combinable
    * min(struct) aggregation, not a pair-mass window. Per doc the best
    * candidate is max score, ties to the smallest partner id — the
    * best partner inside any class is its min id, which IS the class
    * representative, so class-level comparison loses nothing.
    * Requires `idCol` unique per document (the corpus contract; a
    * duplicated id would merge two docs' verdicts).
    *
    * Runs over PREBUILT relations: `docMap` needs (id, __rep, __m,
    * __second) (the [[perDocSetsWithClasses]] columns minus __byRarity,
    * which only the pair machinery reads) and `repPairs` is
    * [[repPairsFromDocMap]] output at alphaCoef = threshold − 1e-4, so
    * [[graft.ContainmentRel]] serves q93 and q165 from ONE per-process
    * build.
    */
  private[graft] def containmentSummaryFrom(
      df: DataFrame, idCol: String, docMap: DataFrame,
      repPairs: DataFrame, threshold: Double): DataFrame = {
    val pairsC = repPairs
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        round(col("inter").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .filter(col("containment") >= threshold)
    val sidesC = pairsC.filter(col("n_a") <= col("n_b"))
        .select(col("id_a").as("__crep"), col("id_b").as("__p"),
          col("containment"))
      .unionAll(pairsC.filter(col("n_b") <= col("n_a"))
        .select(col("id_b").as("__crep"), col("id_a").as("__p"),
          col("containment")))
    // best cross-class candidate per class: min(struct(-score, partner))
    // == (max score, ties to smallest partner rep) — map-side combinable
    val bestCross = sidesC.groupBy(col("__crep"))
      .agg(min(struct((-col("containment")).as("ns"), col("__p").as("p")))
        .as("__b"))
      .select(col("__crep"), (-col("__b.ns")).as("__score"),
        col("__b.p").as("__partner"))
    val candCross = docMap.join(bestCross, col("__rep") === col("__crep"))
      .select(col("id"), col("__score"), col("__partner"))
    // within a class of m >= 2 identical sets every pair scores exactly
    // 1.0; the per-doc partner is the rep (or the second-smallest id
    // for the rep itself)
    val candWithin = docMap.filter(col("__m") >= 2)
      .select(col("id"), lit(1.0).as("__score"),
        when(col("id") === col("__rep"), col("__second"))
          .otherwise(col("__rep")).as("__partner"))
    val best = candCross.unionByName(candWithin)
      .groupBy(col("id"))
      .agg(min(struct((-col("__score")).as("ns"), col("__partner").as("p")))
        .as("__b"))
      .select(col("id").as("__cid"), (-col("__b.ns")).as("containment"),
        col("__b.p").as("__p"))
    df.select(col(idCol))
      .join(best, col(idCol) === col("__cid"), "left")
      .select(col(idCol),
        col("__cid").isNotNull.cast("long").as("is_contained"),
        coalesce(col("containment"), lit(0.0)).as("max_containment"),
        col("__p").as("container_id"))
  }

  /** Shared prefix-filter pair machinery (the pigeonhole candidate
    * stage under [[containmentPairsPrefix]]):
    * returns (id_a, id_b, inter, n_a, n_b) for every pair whose smaller
    * set shares ≥ ceil(alphaCoef · |S|) shingles with the larger —
    * superset of any score whose overlap bound is alphaCoef·min.
    *
    * Runs the candidate + array-verify machinery over ONE
    * representative per identical-shingle-set CLASS and expands class
    * pairs back to doc pairs as a pure projection (r17 — the q165
    * collapse applied to the pair-emitting forms): identical sets have
    * identical intersections with any third set, so a class pair's
    * (inter, n_a, n_b) holds verbatim for every member pair, and
    * within-class pairs are (n, n, n) by identity with no verification
    * at all. On the 100× replica corpus (~3.85 identical copies per
    * doc) this cut the verify shuffle ~15× and removed the ~723k
    * identical-pair array-verify mass that OOM'd a 24 GB sweep
    * (GCLocker retry storm during q93's sorted_inter_count stage).
    * Output is EXACTLY the uncollapsed relation — the expansion emits
    * only pairs the pigeonhole bound admits (identical sets share all
    * n ≥ ceil(alphaCoef·n) shingles for alphaCoef ≤ 1).
    */
  private def prefixPairStats(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, maxShingleDf: Int,
      alphaCoef: Double): DataFrame = {
    val docMap = perDocSetsWithClasses(df, idCol, textCol, shingleWords,
        maxShingleDf)
      .localCheckpoint() // consumers: reps machinery + both expansions
    expandRepPairs(docMap, repPairsFromDocMap(docMap, alphaCoef))
  }

  /** Class-representative candidate + exact-verify pairs over a
    * [[perDocSetsWithClasses]] relation (one row per CLASS pair; the
    * caller expands members via [[expandRepPairs]]).
    */
  private[graft] def repPairsFromDocMap(docMap: DataFrame,
      alphaCoef: Double): DataFrame =
    prefixPairsFromSets(docMap.filter(col("id") === col("__rep"))
      .select(col("id"), col("__n"), col("__byRarity")), alphaCoef)

  /** The [[prefixPairStats]] expansion tail over PREBUILT relations —
    * `docMap` needs (id, __n, __rep, __m); `repPairs` is
    * [[repPairsFromDocMap]] output. Identical output to the inline
    * form (same relations, same operations); lets
    * [[graft.ContainmentRel]] serve q93 from the shared build.
    */
  private[graft] def expandRepPairs(docMap: DataFrame,
      repPairs: DataFrame): DataFrame = {
    // cross-class expansion: every member pair inherits the class
    // pair's stats; sizes re-key to the member-id order the caller sees
    val members = docMap.select(col("__rep"), col("id"))
    val cross = repPairs
      .join(members.select(col("__rep").as("id_a"), col("id").as("__ma")),
        "id_a")
      .join(members.select(col("__rep").as("id_b"), col("id").as("__mb")),
        "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("inter"),
        when(col("__ma") < col("__mb"), col("n_a")).otherwise(col("n_b"))
          .as("n_a"),
        when(col("__ma") < col("__mb"), col("n_b")).otherwise(col("n_a"))
          .as("n_b"))
    // within-class pairs: identical sets, inter = n, no verification
    val withinPairs = docMap.filter(col("__m") >= 2)
      .select(col("__rep"), col("id").as("id_a"), col("__n"))
      .join(docMap.select(col("__rep"), col("id").as("id_b")), "__rep")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__n").as("inter"),
        col("__n").as("n_a"), col("__n").as("n_b"))
    cross.unionByName(withinPairs)
  }

  /** Per-doc surviving shingle sets: (id, __n, __byRarity) with
    * __byRarity the (global df, hash) struct list sorted ascending —
    * rarest first, the AllPairs prefix order. Hot shingles past
    * `maxShingleDf` are removed from every doc BEFORE sizes (the
    * distributed-stopword contract shared by every prefix-filter
    * caller). Docs with no surviving shingle emit no row.
    */
  /** [[perDocSets]] plus the identical-set CLASS columns shared by the
    * prefix-filter family and [[graft.ContainmentRel]]: __rep = class
    * min id (the class's best-partner doc by the tie order), __m =
    * class size, __second = min other id in the class (null for
    * singletons — the rep's own within-class partner). __byRarity is
    * derived from the GLOBAL df relation, so equal sets always carry
    * equal arrays — the partition key is exact. All three ride ONE
    * Window operator (same partition spec).
    */
  private[graft] def perDocSetsWithClasses(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, maxShingleDf: Int): DataFrame = {
    val wCls = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__n"), col("__byRarity"))
    perDocSets(df, idCol, textCol, shingleWords, maxShingleDf)
      .select(col("id"), col("__n"), col("__byRarity"),
        min(col("id")).over(wCls).as("__rep"),
        count(lit(1)).over(wCls).as("__m"))
      .withColumn("__second",
        min(when(col("id") =!= col("__rep"), col("id"))).over(wCls))
  }

  private def perDocSets(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, maxShingleDf: Int): DataFrame = {
    val ex0 = PlanUtil
      .widenIfNarrow(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(graft.functions.SketchExprs.shingle_hashes(
          TextFunctions.tokensWs(col("__t")), shingleWords)).as("h"))
    val freq = ex0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    val ex =
      if (maxShingleDf <= 0) ex0.join(freq, "h")
      else ex0.join(freq.filter(col("__df") <= maxShingleDf), "h")
    ex.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("h"))))
          .as("__byRarity"),
        count(lit(1)).as("__n"))
  }

  /** The pigeonhole candidate + exact-verify stage over PREPARED sets
    * ((id, __n, __byRarity) rows — [[perDocSets]] output, or the
    * class-representative subset [[containmentSummaryFrom]] collapses
    * to).
    */
  private def prefixPairsFromSets(sets: DataFrame,
      alphaCoef: Double): DataFrame = {
    import graft.functions.VectorExprs.sorted_inter_count
    // one row per doc: shingles ascending by (df, hash) for the prefix
    // cut, plus the hash-sorted array the merge-scan verifier needs.
    // Feeds FOUR consumers (probe + postings explodes, both verify
    // sides) — checkpoint once (the round-5 re-execution lesson).
    val alpha = ceil(lit(alphaCoef) * col("__n")).cast("int")
    val perDoc = sets
      .select(col("id"), col("__n"),
        array_sort(transform(col("__byRarity"), _.getField("h")))
          .as("__sorted"),
        transform(
          slice(col("__byRarity"), lit(1),
            greatest(col("__n").cast("int") - alpha + 1, lit(1))),
          _.getField("h")).as("__prefix"))
      .localCheckpoint()
    val probe = perDoc.select(col("id").as("id_s"), col("__n").as("__ns"),
      explode(col("__prefix")).as("h"))
    val postings = perDoc.select(col("id").as("id_l"), col("__n").as("__nl"),
      explode(col("__sorted")).as("h"))
    // the SMALLER set probes (ties broken by id) — exactly one chance
    // per unordered pair, with the pigeonhole bound on the small side
    val cand = probe.join(postings, "h")
      .filter(col("__ns") < col("__nl") ||
        (col("__ns") === col("__nl") && col("id_s") < col("id_l")))
      .select(col("id_s"), col("id_l")).distinct()
    cand
      .join(perDoc.select(col("id").as("id_s"), col("__sorted").as("__sa"),
        col("__n").as("__na")), "id_s")
      .join(perDoc.select(col("id").as("id_l"), col("__sorted").as("__sb"),
        col("__n").as("__nb")), "id_l")
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"),
        sorted_inter_count(col("__sa"), col("__sb")).as("inter"),
        // sizes re-keyed to the id order the caller sees
        when(col("id_s") < col("id_l"), col("__na")).otherwise(col("__nb"))
          .as("n_a"),
        when(col("id_s") < col("id_l"), col("__nb")).otherwise(col("__na"))
          .as("n_b"))
  }

  /** LSH-gated exact Jaccard — the 100 TB default path. MinHash banding
    * proposes candidate pairs; each candidate is then verified EXACTLY
    * against the docs' distinct shingle-hash sets with a sorted merge-scan
    * intersection count ([[graft.functions.VectorExprs.SortedInterCount]]).
    * Work is proportional to |candidates|, never O(n²) and never the
    * full co-shingled pair space.
    *
    * Band geometry defaults to r=2 rows/band × 64 bands (numHashes=128):
    * P(candidate | jaccard=t) = 1-(1-t²)^64, which at t=0.5 is 1-1e-8 —
    * effectively total recall at the thresholds this gates (≥0.5), while
    * pairs at background similarity (~0.01 for unrelated docs) band
    * together with P≈0.006, so the verify set stays tiny. Results equal
    * [[jaccardPairs]] (same hash space, exact verification).
    *
    * Plan shape: [[sigPrep]] (one checkpoint of shingles and
    * signatures) → [[bandCandidates]] self-join → [[verifyJaccard]].
    */
  def jaccardPairsLsh(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWords: Int = 3,
      numHashes: Int = 128, bands: Int = 64): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    // both sides renamed from one neutral id: the verify's two
    // broadcast sides then plan identically and share one exchange
    val sig = sigPrep(df, idCol, textCol, "id", shingleWords, numHashes)
    val (a, b) = (sig.withColumnRenamed("id", "id_a"),
      sig.withColumnRenamed("id", "id_b"))
    verifyJaccard(bandCandidates(a, b, bands, numHashes / bands,
      col("id_a") < col("id_b")), a, b, threshold)
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-token hash, each bit votes
    * ±1, sign of the vote sum forms the fingerprint bit. Computed per ROW
    * ([[graft.functions.SketchExprs.SimHashArray]]) — no explode/shuffle.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SketchExprs.simhash_array(
        TextFunctions.tokensWs(TextFunctions.normalizeText(col(textCol))))
        .as("simhash"))

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxHamming.
    * Banding: split the 64-bit fingerprint into 4×16-bit keys — any pair
    * within hamming 3 shares at least one exact 16-bit band (pigeonhole),
    * so the self-join runs per 16-bit bucket, never all-pairs.
    */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // 4 bands of 16 bits recall hamming <= 3 EXACTLY (pigeonhole: 3 bit
    // flips cannot touch all 4 bands); past 3 the banding would silently
    // under-recall — refuse rather than return a wrong pair set
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] (got $maxHamming): 4x16-bit banding " +
        "guarantees recall only up to hamming 3")
    // the banded relation branches twice (join l/r) and a bare
    // repartition is not shared across broadcast-side re-planning —
    // widen, then materialize the per-row sketch once
    val sig = simhash64(
        PlanUtil.widenIfNarrow(df.select(col(idCol), col(textCol))),
        idCol, textCol)
      .localCheckpoint()
    val bandCols = (0 until 4).map(j =>
      shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL).as(s"band_$j"))
    val banded = sig.select(col(idCol).as("id") +: col("simhash") +: bandCols: _*)
    val ex = banded.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(j => col(s"band_$j")): _*))
        .as(Seq("__band", "__bv")))
    val l = ex.select(col("id").as("id_a"), col("simhash").as("sh_a"),
      col("__band"), col("__bv"))
    val r = ex.select(col("id").as("id_b"), col("simhash").as("sh_b"),
      col("__band"), col("__bv"))
    l.join(r, Seq("__band", "__bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair graph: every vertex gets
    * `comp` = the MINIMUM id reachable from it (singletons keep their own
    * id). The canonical representative of each dedup cluster is then
    * `id == comp` — the standard "keep one per cluster" selection of a
    * training-data pipeline.
    *
    * Iterative min-label propagation: each round every vertex takes the
    * min of its own label and its neighbors' labels (one hash join + one
    * groupBy per round), converging in O(graph diameter) rounds. Near-dup
    * graphs have tiny components in practice, so a handful of rounds
    * suffice; each round's result is localCheckpoint'ed to cut lineage and
    * the edge list is checkpointed ONCE so an expensive upstream pair plan
    * (LSH + verification) never re-executes per round. Edge sets at or
    * below `localEdgeLimit` (after restriction to V×V) skip the loop and
    * finish with one driver union-find — the standard local endgame of
    * distributed CC once the graph fits (near-dup graphs: a few edges per
    * million docs). At 100 TB the same loop runs with cluster checkpoints;
    * it needs O(diameter) rounds, so a chain longer than `maxIter` above
    * the local limit fails loudly rather than labelling partially.
    */
  def connectedComponents(
      vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, localEdgeLimit: Long = 1000000L): DataFrame = {
    // Vertex-set contract: ids appearing only in
    // `pairs` neither relay connectivity nor become labels. Restricting
    // edges to V×V up front preserves that AND shrinks the loop: the
    // iteration runs over edge-INCIDENT vertices only (near-dup graphs:
    // a few dozen per million docs), never the full corpus — singletons
    // rejoin as their own component at the end. Before this restriction
    // every round joined and checkpointed all |V| labels.
    val vset = vertices.select(col(idCol).as("__vid")).distinct()
    // materialize the pair relation ONCE before mirroring: the two union
    // branches are separate plan subtrees, so an un-checkpointed pairs
    // plan (an LSH verify join, or q92's 2M-row cosine cross join)
    // would execute twice (measured: q92 6.3 s → 3.4 s at sf0.1)
    val p0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    val (e, edgeCount) = PlanUtil.checkpointCounted(p0
      .union(p0.select(col("dst").as("src"), col("src").as("dst")))
      .join(vset, col("src") === col("__vid")).drop("__vid")
      .join(vset, col("dst") === col("__vid")).drop("__vid")
      .distinct())

    // Small-graph endgame (the standard finish of distributed CC — Kiveris
    // et al. §6 contract locally once the edge set fits): a near-dup edge
    // list under the threshold is solved with one driver union-find instead
    // of O(diameter) rounds × 3 jobs each. The distributed loop below
    // remains the path for larger graphs. `edgeCount` came with e's
    // checkpoint.
    val idType = e.schema("src").dataType
    val comparableId = idType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }
    if (edgeCount <= localEdgeLimit && comparableId) {
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      // every externally-visible AtomicType value (Long/Int/String/
      // Timestamp/...) is java.lang.Comparable. Strings must order by
      // UTF-8 bytes (unsigned) — the distributed label-propagation loop
      // converges on Spark's binary-ordering minima, and UTF-16
      // code-unit order diverges from UTF-8 order for supplementary
      // characters; both paths must pick the same component roots.
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: String, b: String) =>
          val (ab, bb) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var i = 0
          val n = math.min(ab.length, bb.length)
          while (i < n && ab(i) == bb(i)) i += 1
          if (i < n) (ab(i) & 0xff) < (bb(i) & 0xff) else ab.length < bb.length
        case _ => x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y) < 0
      }
      // one collect job (≤ localEdgeLimit rows by the gate above) —
      // toLocalIterator would schedule a mini-job per partition
      e.collect().foreach { row =>
        val (ra, rb) = (find(row.get(0)), find(row.get(1)))
        if (ra != rb) { // union under min — roots stay component minima
          if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val ids = new java.util.ArrayList[org.apache.spark.sql.Row]()
      parent.keySet().forEach { id =>
        ids.add(org.apache.spark.sql.Row(id, find(id)))
      }
      // roots map to themselves — only non-root entries live in `parent`,
      // so add each root once
      val roots = new java.util.HashSet[Any]()
      parent.keySet().forEach { id => roots.add(find(id)); () }
      roots.forEach { r => ids.add(org.apache.spark.sql.Row(r, r)); () }
      val t = e.schema("src").dataType
      val labels = vertices.sparkSession.createDataFrame(ids,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", t),
          org.apache.spark.sql.types.StructField("__c", t))))
      return vertices.select(col(idCol).as("id"))
        .join(broadcast(labels), Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
    }

    var labels = e
      .select(col("src").as("id"), col("src").as("comp"))
      .distinct()
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = e.join(labels, e("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("__ncomp"))
      val next = labels.as("l")
        .join(msgs, col("l.id") === msgs("src"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("__ncomp"), col("l.comp")))
            .as("comp"))
        .localCheckpoint()
      val changed = next.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.comp") =!= col("o.comp")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    vertices.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("comp", "__c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /** Incremental-ingestion exact dedup: survivors of an arriving batch
    * against an existing corpus — batch rows are dropped if their dedup
    * key already exists in the corpus (left ANTI join: only keys cross
    * the wire, corpus payloads never move), and within the batch only
    * the smallest-id row per key survives (the batch may carry its own
    * duplicates). `batch` must already carry `keyCol` (fingerprint,
    * vocab fingerprint, …); `corpusKeys` needs only that column. Both
    * shuffles key on the dedup key; at 100 TB the corpus-side distinct
    * is the pre-built dedup index a real ingestion pipeline maintains.
    */
  def incrementalExact(batch: DataFrame, keyCol: String, idCol: String,
      corpusKeys: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(idCol))
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(corpusKeys.select(col(keyCol)).distinct(), Seq(keyCol),
        "left_anti")
  }

  /** Incremental NEAR-dup admission for an arriving batch against an
    * existing corpus — the LSH-gated, exact-verified analogue of
    * [[incrementalExact]] (which only catches byte-identical keys): each
    * batch doc gets a verdict
    *   - `corpus_dup`  — some corpus doc's exact distinct-shingle
    *     Jaccard ≥ `threshold` (smallest such corpus id in `match_id`);
    *   - `batch_dup`   — no corpus match, but a SMALLER-id doc in the
    *     same batch matches (smallest such id in `match_id`);
    *   - `keep`        — neither.
    * Verdicts are PAIRWISE by contract — a doc whose only match is
    * itself a corpus_dup is still `batch_dup` (its content is arriving
    * in duplicate either way); chain-collapsing transitivity is
    * [[connectedComponents]]' job, not an admission filter's.
    *
    * Scale shape: one [[sigPrep]] per side, then [[admitStep]] — one
    * band join of the batch against corpus ∪ batch, one exact
    * sorted-merge verify ([[verifyJaccard]]), one aggregate and one
    * left join on the batch ids. Work is candidate-proportional and the
    * corpus is touched only by its (re-usable) signature scan; nothing
    * is quadratic in corpus or batch size.
    */
  def incrementalNearDup(corpus: DataFrame, corpusId: String,
      corpusText: String, batch: DataFrame, batchId: String,
      batchText: String, threshold: Double, shingleWords: Int = 3,
      numHashes: Int = 128, bands: Int = 64): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes")
    admitStep(batch,
      sigPrep(batch, batchId, batchText, "id_a", shingleWords, numHashes),
      sigPrep(corpus, corpusId, corpusText, "id_b", shingleWords,
        numHashes),
      batchId, threshold, bands, numHashes / bands)
  }

  /** Multi-batch near-dup ADMISSION LOOP — k sequential arriving
    * batches against a standing corpus, where batch i+1's admission
    * SEES batch i's commits (the nightly-refresh contract a single
    * [[incrementalNearDup]] call can't express; reference anchor: the
    * dedup extension goals, SURVEY §7.4 step 11). Returns one status
    * frame per batch, `(batchId, status, match_id)`, with
    * [[incrementalNearDup]]'s exact semantics and policy (corpus_dup /
    * batch_dup / keep, smallest match id) applied against the GROWING
    * corpus: resident ∪ every previously-admitted (`keep`) doc.
    *
    * Scale shape — the reason this is NOT k incrementalNearDup calls:
    * MinHash signatures are PER-DOC PURE, so the standing corpus is
    * shingled and signed ONCE and each batch's already-computed
    * signatures UNION into the corpus signature relation on commit —
    * k batches cost 1 corpus sketch + k batch sketches, not k corpus
    * sketches (at 100 TB the corpus sketch IS the dominant cost; the
    * PERSISTED form of that idea — signatures saved as an
    * [[graft.operators.IndexStore]] `sig` store, loaded and appended
    * across PROCESSES — is [[nearDupAdmitLoopFromStore]], the q206
    * path; this in-memory form remains the single-session twin the
    * Verify gate compares it against).
    * Band joins stay candidate-proportional per batch; the commit is a
    * batch-sized anti-join, never a corpus re-scan. Spec-pinned equal
    * to the re-sketching formulation (k sequential incrementalNearDup
    * calls over explicitly-grown corpora).
    */
  def nearDupAdmitLoop(
      resident: DataFrame, residentId: String, residentText: String,
      batches: Seq[DataFrame], batchId: String, batchText: String,
      threshold: Double, shingleWords: Int = 3,
      numHashes: Int = 128, bands: Int = 64): Seq[DataFrame] = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes")
    val rpb = numHashes / bands
    var corpusSigs = sigPrep(resident, residentId, residentText, "id_b",
      shingleWords, numHashes)
    batches.map { batch =>
      val b = sigPrep(batch, batchId, batchText, "id_a", shingleWords,
        numHashes)
      val status = admitStep(batch, b, corpusSigs, batchId, threshold,
        bands, rpb)
      // COMMIT: admitted docs' signatures join the corpus relation
      // (per-doc pure — identical to re-sketching them; docs sigPrep
      // dropped for having no shingles stay out on both formulations)
      corpusSigs = corpusSigs.unionByName(committedSigs(b, status, batchId))
      status
    }
  }

  /** One admission step: verdict frame for `batch` (the raw arriving
    * relation — no-shingle docs still get a row) whose signatures are
    * `b` (a [[sigPrep]] "id_a" relation), against the standing
    * `corpusSigs` ("id_b" relation). The batch meets corpus ∪ batch in
    * ONE band join, each right-hand row tagged by side; a within-batch
    * candidate counts only for its larger id. One verify and one
    * aggregate per batch doc then give the smallest corpus match and
    * the smallest smaller-id batch match, and one left join onto the
    * batch gives the verdict. Corpus and batch ids meet in one column
    * under Spark's union type widening. Returns the checkpointed
    * (batchId, status, match_id) frame — consumed twice (caller +
    * commit decision); batch-sized, so the default level is fine.
    */
  private[graft] def admitStep(batch: DataFrame, b: DataFrame,
      corpusSigs: DataFrame, batchId: String, threshold: Double,
      bands: Int, rpb: Int): DataFrame = {
    val others = corpusSigs.withColumn("__corpus", lit(true))
      .unionByName(b.withColumnRenamed("id_a", "id_b")
        .withColumn("__corpus", lit(false)))
    val cand = bandCandidates(b, others, bands, rpb,
      col("__corpus") || col("id_b") < col("id_a"))
    val matches = verifyJaccard(cand, b, others, threshold)
      .groupBy(col("id_a"))
      .agg(min(when(col("__corpus"), col("id_b"))).as("__corpus_match"),
        min(when(!col("__corpus"), col("id_b"))).as("__batch_match"))
    batch.select(col(batchId))
      .join(matches, col(batchId) === col("id_a"), "left")
      .select(col(batchId),
        when(col("__corpus_match").isNotNull, lit("corpus_dup"))
          .when(col("__batch_match").isNotNull, lit("batch_dup"))
          .otherwise(lit("keep")).as("status"),
        coalesce(col("__corpus_match"), col("__batch_match"))
          .as("match_id"))
      .localCheckpoint()
  }

  /** The signatures a batch COMMITS: its `keep`-verdict docs' rows of
    * the [[sigPrep]] relation `b`, renamed to the corpus side.
    */
  private def committedSigs(b: DataFrame, status: DataFrame,
      batchId: String): DataFrame = {
    val dupIds = status.filter(col("status") =!= "keep")
      .select(col(batchId).as("id_a"))
    b.join(dupIds, Seq("id_a"), "left_anti")
      .select(col("id_a").as("id_b"), col("__sh"), col("__sig"))
  }

  /** The persistable signature relation of a corpus — [[sigPrep]] with
    * the caller's id name kept: (`idCol`, `__sh` sorted distinct
    * shingle hashes, `__sig` MinHash signature). This is the artifact
    * [[graft.operators.IndexStore.saveSig]] stores and
    * [[nearDupAdmitLoopFromStore]] consumes: at 100 TB the corpus
    * sketch is the admission loop's dominant cost, and it is per-doc
    * pure — exactly the thing you compute once and persist.
    */
  def sigRelation(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 128): DataFrame =
    sigPrep(df, idCol, textCol, idCol, shingleWords, numHashes)

  /** [[nearDupAdmitLoop]] seeded from a PERSISTED signature store —
    * the resumable-pipeline form (r15 verdict #1): the standing
    * corpus's signatures are LOADED from an [[IndexStore]] `sig` store
    * (built once, by the job that sketched the corpus), each batch's
    * admitted signatures are APPENDED back, and each batch RE-OPENS
    * the store so batch i+1's scan sees batch i's appended files —
    * commits go through DISK, not a session-local union. A resumed
    * process therefore pays ZERO corpus re-sketch: k batches cost k
    * batch sketches plus candidate-proportional band joins against the
    * file-backed (column-pruned) signature scan. Sketch geometry
    * (shingleWords, numHashes) comes from the store meta, so the batch
    * side provably sketches with the persisted corpus's parameters.
    * Verdict semantics are IDENTICAL to [[nearDupAdmitLoop]] (MinHash
    * is deterministic and per-doc pure; spec-pinned, and the q206/q204
    * Verify gate pins it at every SF).
    */
  def nearDupAdmitLoopFromStore(spark: SparkSession, storeDir: String,
      batches: Seq[DataFrame], batchId: String, batchText: String,
      threshold: Double, bands: Int = 64): Seq[DataFrame] = {
    batches.map { batch =>
      val (sw, nh, idCol, sigs) = IndexStore.loadSig(spark, storeDir)
      require(nh % bands == 0,
        s"bands ($bands) must divide the store's numHashes ($nh)")
      val corpusSigs = sigs
        .select(col(idCol).as("id_b"), col("__sh"), col("__sig"))
      val b = sigPrep(batch, batchId, batchText, "id_a", sw, nh)
      val status = admitStep(batch, b, corpusSigs, batchId, threshold,
        bands, nh / bands)
      // checkpointed: the append's duplicate-id guard and its write
      // both read the committed rows
      IndexStore.appendCodes(spark, storeDir,
        committedSigs(b, status, batchId)
          .withColumnRenamed("id_b", idCol).localCheckpoint(), idCol)
      status
    }
  }

  /** Canonical-document selection per near-dup cluster: given component
    * labels `(idCol, compCol)` (e.g. [[connectedComponents]] output) and
    * a per-id quality score, pick each cluster's best-scoring id (ties →
    * smallest id) as the canonical survivor — the "keep the BEST copy,
    * not just the lowest-id copy" dedup policy of a curation pipeline.
    * Returns (idCol, compCol, canonical, keep 1/0).
    *
    * Scale: one equi-join on id (cluster labels vs scores) and one
    * window shuffle on compCol. Near-dup clusters are small by nature,
    * so the per-partition window state is bounded; no cross join, no
    * driver materialization.
    */
  def canonicalPerCluster(labels: DataFrame, idCol: String, compCol: String,
      scores: DataFrame, scoreIdCol: String, scoreCol: Column): DataFrame = {
    val sc = scores.select(col(scoreIdCol).as(idCol), scoreCol.as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(compCol))
      .orderBy(col("__score").desc, col(idCol).asc)
    labels.join(sc, idCol)
      .withColumn("canonical", first(col(idCol)).over(w))
      .select(col(idCol), col(compCol), col("canonical"),
        when(col(idCol) === col("canonical"), 1L).otherwise(0L).as("keep"))
  }

  /** Cross-group duplication matrix: for every unordered pair of groups
    * (sources, snapshots, shards), how many distinct fingerprints appear
    * in BOTH — the "which sources overlap, and how much" panel that
    * decides what to dedup against what before a big inter-source pass.
    * Returns `(src_a, src_b, n_shared)` with `src_a < src_b` (binary
    * order), only pairs with ≥ 1 shared fingerprint.
    *
    * Scale shape: the corpus collapses to distinct (fingerprint, group)
    * first (one shuffle — at 100 TB this is the dedup of the fingerprint
    * universe, tiny next to the text); then one groupBy(fingerprint)
    * building the per-fingerprint group set, expanded to C(g,2) pairs
    * per fingerprint — bounded by the group-count squared, NOT by corpus
    * size — and a final combinable pair count. No self-join of the
    * fingerprint relation, so a fingerprint shared by every group costs
    * C(G,2) rows, not |docs|².
    */
  def dupMatrix(df: DataFrame, groupCol: Column, fpCol: Column): DataFrame = {
    val fps = df.select(fpCol.as("__fp"), groupCol.as("__g")).distinct()
    fps.groupBy(col("__fp"))
      .agg(sort_array(collect_set(col("__g"))).as("__gs"))
      .filter(size(col("__gs")) >= 2)
      .select(explode(expr(
        """flatten(transform(__gs, (a, i) ->
          |  transform(slice(__gs, i + 2, size(__gs)),
          |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("__p"))
      .groupBy(col("__p.src_a").as("src_a"), col("__p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // --------------------------------------------------- edit-distance pairs

  /** All pairs of rows whose `textCol` strings are within Levenshtein
    * distance `maxDist` (1 or 2) — exact record-linkage over SHORT keys
    * (names, titles, codes); long-document near-dup belongs to the
    * shingle/MinHash family above.
    *
    * Blocking is the deletion-neighborhood family (FastSS, Bocek et al.
    * 2007): each string emits every variant reachable by deleting up to
    * `maxDist` character positions (incl. the string itself), candidates
    * are pairs sharing ANY variant, survivors are verified with the real
    * `levenshtein`. The filter is LOSSLESS: an edit script of length
    * d ≤ k touches ≤ d positions on each side — deleting exactly those
    * positions from each string yields a common variant, so every true
    * pair collides in some bucket (recall exactly 1 by construction; the
    * spec fuzz-proves it against a brute-force driver loop).
    *
    * Scale shape: one explode (Σ_{j≤k} C(L,j) variants per row — O(L)
    * for k=1, O(L²) for k=2), one variant-keyed self-join (candidate
    * mass Σ_bucket C(|bucket|,2) — proportional to genuine near-dup
    * structure, never n²), one distinct, one codegen levenshtein per
    * surviving candidate. Hot buckets come from exact-duplicate mass in
    * the corpus (all copies share all variants) — run [[dedupExact]]
    * first if the corpus has heavy exact duplication.
    *
    * Returns `(id_a, id_b, text_a, text_b, dist)` with `id_a < id_b`,
    * one row per pair, `dist` the exact Levenshtein distance (0 for
    * exact dups whose ids differ) — texts ride along because every
    * downstream consumer (diff position, survivor choice) needs them
    * and they are short by contract. Null and empty texts are dropped.
    */
  /** Shared text-pair stage of the edit-distance family: the distinct
    * (__id, __s) base relation and the verified DISTINCT-TEXT pairs
    * `(__sa, __sb, dist)` with 1 ≤ dist ≤ maxDist, __sa < __sb.
    *
    * Dedup-before-linkage: the variant join runs on DISTINCT TEXTS,
    * never ids. Duplicate strings multiply every variant bucket — k
    * copies per string square the join fan-out k× and reverify
    * identical pairs k²× (the sf10 rehearsal corpus carries ~4 exact
    * copies of every name — its 100-replicas ÷ 26-rotations structure
    * — and the id-level join spilled past 63 GB of scratch there; the
    * text-level join is 16× lighter and value-identical). Levenshtein
    * is paid once per TEXT pair; id-level results are produced by the
    * callers — [[editDistancePairs]] expands each verified text pair
    * across its two copy groups (output mass), and
    * [[editDistancePairCounts]] never expands at all.
    */
  private def editDistanceTextPairs(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int): (DataFrame, DataFrame) = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (got $maxDist): the deletion neighborhood " +
        "has C(len, k) variants per string — past k=2 use the MinHash path")
    val base = df
      .select(col(idCol).as("__id"), col(textCol).as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) > 0)
      // exact duplicate (id, text) input rows would k_a·k_b-multiply
      // every output pair through the two expansion joins (the
      // pre-rewrite pair-level distinct absorbed them); dedup up front
      .distinct()
    val based = base.localCheckpoint() // text groups + both expansions
    val texts = based.select(col("__s")).distinct()
      .localCheckpoint() // both variant-join sides
    // Deletion variants (the identity, every single-codepoint deletion,
    // k=2: every two-codepoint deletion) ride as their xxhash64 values
    // (r19, TextExprs.DeletionVariantHashes — one byte pass, set-equal
    // to xxhash64 over array_distinct of the variant strings;
    // spec-pinned vs the transform(sequence → concat(substr, substr))
    // reference formulation in OptimizationR19Spec): the interpreted
    // HOF chain this replaces built every variant STRING per row, and
    // the blocking join shuffled those strings as keys. A 64-bit
    // collision can only ADD a candidate, which the exact levenshtein
    // verify below drops — output identical, not merely
    // up-to-collision (guide §2.3 narrower keys, §4 kill interpreted
    // HOFs on the hot path).
    val exploded = texts
      .select(col("__s"), explode(graft.functions.TextExprs
        .del_var_hashes(col("__s"), maxDist)).as("__v"))
    val ta = exploded.select(col("__s").as("__sa"), col("__v"))
    val tb = exploded.select(col("__s").as("__sb"), col("__v"))
    // NB deliberate exception to the derived-column-filter rule: the
    // pushed-down predicate duplicates only ONE compact levenshtein
    // node (≈300 ns on these strings, no nested-alias plan growth —
    // the rule's hazard is MB-sized substituted trees), and pushing it
    // BELOW the distinct prunes dist>k candidates before the dedup
    // shuffle — a net win on the candidate-mass-bound path.
    val tpairs = ta.join(tb, Seq("__v")).filter(col("__sa") < col("__sb"))
      .select(col("__sa"), col("__sb"))
      .distinct()
      .select(col("__sa"), col("__sb"),
        // banded DP: levenshtein(a, b, k) early-exits at distance > k
        // (returns -1, which the >= 1 filter drops) — O(L·k) per
        // candidate instead of O(L²), and the candidate verify IS the
        // hot loop of this operator (the pushed-down join condition
        // pays it once per bucket collision); values for surviving
        // pairs are the exact distance, so consumers and the oracle
        // are unchanged
        levenshtein(col("__sa"), col("__sb"), maxDist).as("dist"))
      .filter(col("dist") >= 1 && col("dist") <= maxDist)
    (based, tpairs)
  }

  /** [[editDistancePairs]] WITHOUT the id-level expansion: verified
    * DISTINCT-TEXT pairs `(text_a, text_b, dist, n_pairs)` where
    * `n_pairs` = copies(text_a) · copies(text_b) — exactly how many
    * (id_a, id_b) rows [[editDistancePairs]] would emit for this text
    * pair (ids of distinct texts never coincide). Any consumer that
    * only AGGREGATES over pairs (q170's collision-position histogram:
    * sum n_pairs instead of count rows) gets identical numbers while
    * the ~k_a·k_b-multiplied id-pair relation (≈1B rows at the sf10
    * census — 512 s, 22% of the r14 full-sweep) is never materialized:
    * the expansion joins are replaced by one copy-count aggregate and
    * two broadcast-sized count lookups. Exact-dup (dist 0) mass is a
    * separate row family: `text_a = text_b`, `n_pairs = C(copies, 2)`.
    */
  def editDistancePairCounts(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int): DataFrame = {
    val (based, tpairs) = editDistanceTextPairs(df, idCol, textCol, maxDist)
    val counts = based.groupBy(col("__s"))
      .agg(count(lit(1)).as("__k"))
    val crossed = tpairs
      .join(counts.select(col("__s").as("__sa"), col("__k").as("__ka")),
        Seq("__sa"))
      .join(counts.select(col("__s").as("__sb"), col("__k").as("__kb")),
        Seq("__sb"))
      .select(col("__sa").as("text_a"), col("__sb").as("text_b"),
        col("dist"), (col("__ka") * col("__kb")).as("n_pairs"))
    val exactDup = counts.filter(col("__k") >= 2)
      .select(col("__s").as("text_a"), col("__s").as("text_b"),
        lit(0).as("dist"),
        // `div`, not `/`: Spark fractional division would widen
        // n_pairs to double and poison the union schema
        expr("__k * (__k - 1) div 2").as("n_pairs"))
    crossed.unionByName(exactDup)
  }

  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    val (based, tpairs) = editDistanceTextPairs(df, idCol, textCol, maxDist)
    val ea = based.select(col("__id").as("__ia"), col("__s").as("__sa"))
    val eb = based.select(col("__id").as("__ib"), col("__s").as("__sb"))
    val crossed = tpairs.join(ea, Seq("__sa")).join(eb, Seq("__sb"))
      .filter(col("__ia") =!= col("__ib")) // dup-id inputs: no self-pair
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        when(col("__ia") < col("__ib"), col("__sa")).otherwise(col("__sb"))
          .as("text_a"),
        when(col("__ia") < col("__ib"), col("__sb")).otherwise(col("__sa"))
          .as("text_b"),
        col("dist"))
    val g1 = based.select(col("__s"), col("__id").as("id_a"))
    val g2 = based.select(col("__s"), col("__id").as("id_b"))
    val exactDup = g1.join(g2, Seq("__s")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__s").as("text_a"),
        col("__s").as("text_b"), lit(0).as("dist"))
    crossed.unionByName(exactDup)
  }

  // ------------------------------------------------------- winnowing

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    * window of `w` consecutive gram hashes, keep each window's MINIMUM
    * — the selected set is guaranteed to share a fingerprint with any
    * other document containing a common token run of length
    * ≥ w + k − 1, at ~2/(w+1) of the gram density. The classic
    * local-fingerprinting middle ground between exact-hash dedup
    * (whole-doc) and shingle Jaccard (all grams).
    *
    * Pure per-row expression work — tokens → grams → md5 →
    * window minima via `transform(sequence)` + `array_min(slice)` —
    * NO shuffle until the caller aggregates; output one row per
    * DISTINCT (id, fingerprint). Hashes stay 15-hex-char md5 prefix
    * STRINGS (lexicographic minima) — both engines share md5 and
    * varchar ordering, so the whole construction is DuckDB-mirrorable
    * with zero float or hash-function divergence (the q73 md5
    * precedent, minus the hex-parse arithmetic).
    *
    * Deterministic variant note: strict winnowing breaks window ties
    * toward the RIGHTMOST position; this emits each window's minimum
    * VALUE as a set, which selects the same hashes whenever gram
    * hashes are distinct (md5 collisions across 15 hex chars aside)
    * and preserves the coverage guarantee unconditionally.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    // r18: one fused kernel (TextExprs.WinnowFingerprints) replaces the
    // interpreted HOF chain
    //   toks  = tokensWs(normalizeText(text))
    //   grams = transform(sequence(1, size(toks) - k + 1),
    //             i => substring(md5(concat_ws("", slice(toks, i, k))), 1, 15))
    //   fps   = array_distinct(transform(sequence(1, size(grams) - w + 1),
    //             i => array_min(slice(grams, i, w))))
    // bit-identically (spec-pinned, oracle unchanged): 15 fixed-width
    // lowercase hex chars are the md5's top 60 bits, so lexicographic
    // string minima are numeric long minima; the chain's per-gram
    // slice/concat/digest/hex allocations were 4.0 s of q193's 4.8 s
    // at sf0.1 (the pair join beneath is 0.44 s). Docs shorter than
    // k + w - 1 tokens emit nothing, as before (sequence(1, 0)
    // descends — the when() guards this kernel absorbs were the r7
    // fuzz lesson).
    df.select(col(idCol), explode(TextExprs.winnow_fps(
        TextFunctions.normalizeText(col(textCol)), k, w)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
  }

  /** Winnowing near-dup pairs: docs sharing ≥ `minShared` selected
    * fingerprints, with the shared count and containment-style score
    * `shared / min(|fp_a|, |fp_b|)`. One fingerprint-keyed equi-join
    * (the posting-list shape — never all-pairs) + a combinable pair
    * count; `maxFingerprintDf` drops boilerplate fingerprints before
    * pairing (the [[maxShingleDf]] stopword rule: a fingerprint in
    * thousands of docs generates a quadratic candidate clique and
    * carries no dedup signal).
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 2,
      maxFingerprintDf: Long = 1000L): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    // a fingerprint's df counts the input rows holding it (the kernel
    // emits each once per row), so no df exceeds the input's row count:
    // observed on fp's checkpoint, an input of at most maxFingerprintDf
    // rows skips a prune that could drop nothing
    val input = Observation()
    val fp = winnowingFingerprints(
        df.observe(input, count(lit(1)).as("rows")), idCol, textCol, k, w)
      .localCheckpoint() // feeds df-prune, both join sides AND sizes
    val inputRows = input.get("rows").asInstanceOf[Long]
    // pruning creates a NEW relation worth its own checkpoint; with
    // pruning disabled `fp` is already checkpointed — a second
    // localCheckpoint would re-materialize the corpus-sized relation
    // into the storage pool for nothing
    val sized = if (maxFingerprintDf > 0 && inputRows > maxFingerprintDf) {
      val hot = fp.groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxFingerprintDf)
        .select(col("fingerprint"))
      fp.join(hot, Seq("fingerprint"), "left_anti").localCheckpoint()
    } else fp
    val sizes = sized.groupBy(col(idCol)).agg(count(lit(1)).as("__nfp"))
    val a = sized.select(col("fingerprint"), col(idCol).as("id_a"))
    val b = sized.select(col("fingerprint"), col(idCol).as("id_b"))
    a.join(b, Seq("fingerprint")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.withColumnRenamed(idCol, "id_a")
        .withColumnRenamed("__nfp", "__na"), Seq("id_a"))
      .join(sizes.withColumnRenamed(idCol, "id_b")
        .withColumnRenamed("__nfp", "__nb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("__na"), col("__nb")).cast("double"), 6).as("score"))
  }

  // ------------------------------------------- sparse tf-cosine pairs

  /** Exact TERM-FREQUENCY cosine pairs over the token space via an
    * inverted-index join — the sparse-vector sibling of
    * [[Similarity.cosinePairs]] (which is dense-embedding): pairs at
    * or above `threshold` on `cos = Σ tf_a·tf_b / (‖tf_a‖·‖tf_b‖)`.
    * Numerator and both squared norms are EXACT LONGS (raw tf counts
    * — deliberately NOT tf-idf: an idf weight would put an
    * engine-divergent double sum inside a groupBy, the q116 hazard;
    * with integer sufficient sums the score is two exact sqrt's and
    * one division, bit-equal in any engine), so the boundary rule
    * `round(cos, 4) >= threshold` is reproducible.
    *
    * Plan: one token explode + tf count, token-keyed self-join of the
    * posting lists (never all-pairs), combinable Σ tf_a·tf_b per pair,
    * norm join. `maxTokenDf` prunes stopword postings before the join
    * (quadratic-clique rule, see [[maxShingleDf]]) — NOTE the score
    * then measures similarity over the SURVIVING vocabulary (norms are
    * recomputed over kept tokens, so the metric stays a true cosine of
    * the pruned vectors; the [[maxShingleDf]] semantics).
    *
    * IDENTICAL-VECTOR COLLAPSE (r18 — the q165/q93 class machinery in
    * its tf form; q194 was the heaviest sf10 spiller left, 78–138 GB a
    * pass, after those two were fixed): docs with equal surviving
    * (term, tf) multisets form one CLASS keyed by the sorted struct
    * array; the posting self-join runs over ONE representative per
    * class and class pairs expand back as a pure projection —
    * identical vectors have identical dots with any third vector and
    * identical norms, so a class pair's cos holds verbatim for every
    * member pair. Within a class every pair scores exactly 1.0:
    * dot = ‖v‖² as longs, and round(n2/(sqrt(n2)·sqrt(n2)), 4) = 1.0
    * for any n2 ≥ 1 (the ≤2-ulp sqrt round-trip error is invisible at
    * 4 decimals — in both engines, so the emitted literal matches the
    * oracle's computed value). On the 100× replica corpus (~3.85
    * identical copies per doc) the replica-quadratic pair mass that
    * WAS the spill leaves the join entirely. Output is exactly the
    * uncollapsed relation.
    */
  def tfCosinePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxTokenDf: Long = 1000L,
      ngram: Int = 1): DataFrame = {
    require(ngram >= 1, "ngram must be >= 1")
    // `ngram` picks the TERM granularity: 1 = unigram tf (classic),
    // k>1 = k-token grams — the right choice when the unigram vocab is
    // small relative to the corpus (measured on the testdata docs: a
    // ~31-word vocab makes every unigram tf vector point the same way,
    // cos ≈ 0.9 background; trigrams live in a ~30k-term space where
    // background overlap is a few shared grams)
    val toks = TextFunctions.tokensWs(TextFunctions.normalizeText(col(textCol)))
    // r18: terms ride as their xxhash64 gram hashes (SketchExprs.
    // NgramHashes — the n<k guard and the sequence(1,0)-descends hazard
    // live inside the kernel), not as gram STRINGS: the term never
    // reaches the output — only term EQUALITY feeds the tf groupBy, the
    // df prune, the posting join and the class key — so an 8-byte key
    // is output-identical up to 64-bit gram collisions (~n²/2⁶⁵: zero
    // expected below billions of distinct grams — the q119 sketch-item
    // precedent; the 4-SF oracle gates would catch any drift) and the
    // per-gram slice+concat allocations plus the string shuffle keys
    // leave the pipeline.
    val terms = graft.functions.SketchExprs.ngram_hashes(toks, ngram)
    // r19 (guide §2.4): tf aggregation, term-df derivation and the
    // stopword prune FUSED into one term-partitioned pass — one
    // repartition(__t) up front satisfies the clustering of the
    // (id, t) groupBy, the df window AND the prune, so the r18 shape's
    // second full-width exchange (tf → groupBy(__t) df → anti-join)
    // and its second corpus-sized checkpoint disappear (sf10 probe:
    // tf 3.2 s + prune 18.8 s → one 7-9 s pass). Row content is
    // IDENTICAL (same (id, t, tf) rows with term df ≤ maxTokenDf;
    // map-side partial tf aggregation was worthless here anyway —
    // mean tf ≈ 1.07).
    val grams = df.select(col(idCol).as("__id"), explode(terms).as("__t"))
    val kept = (if (maxTokenDf > 0) {
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__t"))
      grams.repartition(col("__t"))
        .groupBy(col("__id"), col("__t"))
        .agg(count(lit(1)).as("__tf"))
        .withColumn("__df", sum(lit(1L)).over(wT))
        .filter(col("__df") <= maxTokenDf)
        .drop("__df")
    } else
      grams.groupBy(col("__id"), col("__t"))
        .agg(count(lit(1)).as("__tf"))
    ).localCheckpoint() // feeds norms (via docMap) AND both join sides
    // class structure over identical surviving tf vectors: equal — and
    // only equal — vectors share a class; rep = min id (__n2 rides
    // along: members share the rep's norm by identity). r19: the class
    // window partitions by a 96-bit (xxhash64, murmur3) pair of the
    // sorted (term, tf) array instead of the array itself — the array
    // averaged ~800 B as a shuffle sort key; the hash pair is 12 B.
    // Distinct vectors colliding on BOTH hashes would merge two
    // classes (wrong cos values), bounded by n²/2⁹⁷ ≈ 2e-18 at 550k
    // docs — five orders below the accepted 64-bit gram-key bound
    // (r18 precedent), and the 4-SF oracle + parity spec gate it.
    val wCls = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__ck"))
    val docMap = kept.groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__t"), col("__tf"))))
          .as("__vec"),
        sum(col("__tf") * col("__tf")).as("__n2"))
      .select(col("__id"), col("__n2"),
        struct(xxhash64(col("__vec")), hash(col("__vec"))).as("__ck"))
      .select(col("__id"), col("__n2"),
        min(col("__id")).over(wCls).as("__rep"),
        count(lit(1)).over(wCls).as("__m"))
      .localCheckpoint() // consumers: rep postings, norms, 2 expansions
    val reps = docMap.filter(col("__id") === col("__rep"))
    val keptR = kept.join(reps.select(col("__id")), Seq("__id"))
    val norms = reps.select(col("__id"), col("__n2"))
    val a = keptR.select(col("__t"), col("__id").as("id_a"),
      col("__tf").as("__fa"))
    val b = keptR.select(col("__t"), col("__id").as("id_b"),
      col("__tf").as("__fb"))
    val repPairs = a.join(b, Seq("__t")).filter(col("id_a") < col("id_b"))
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
    // cross-class expansion: every member pair inherits the class
    // pair's cos (identical vectors ⇒ identical dot and norms, same
    // double arithmetic on the same longs)
    val members = docMap.select(col("__rep"), col("__id"))
    val cross = repPairs
      .join(members.select(col("__rep").as("id_a"), col("__id").as("__ma")),
        Seq("id_a"))
      .join(members.select(col("__rep").as("id_b"), col("__id").as("__mb")),
        Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("cos"))
    // within-class pairs: cos exactly 1.0, no posting join at all
    val within = docMap.filter(col("__m") >= 2 && lit(1.0 >= threshold))
      .select(col("__rep"), col("__id").as("id_a"))
      .join(docMap.select(col("__rep"), col("__id").as("id_b")), Seq("__rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("cos"))
    cross.unionByName(within)
  }
}
