package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Sketch/dedup family: exact and near-duplicate detection built on
  * [[graft.operators.Dedup]] and the shared dedup relations
  * ([[NearDupGraph]], [[ContainmentRel]]), plus the sketch kernels of
  * `SketchExprs` (HLL, MinHash, SimHash).
  */
object DedupQueries {

  /* Sketch-based queries (MinHash, SimHash) are deterministic but depend on
   * xxhash64, which DuckDB can't reproduce → no oracle (driver records
   * rows-only). Their semantics are cross-checked instead by
   * q30_jaccard_pairs (exact, oracled) + ScalaTest recall assertions.
   */

  /** exact word-3-gram Jaccard near-dup pairs (the oracled ground truth
    * that validates the MinHash/SimHash sketch paths). Routed through the
    * LSH-gated plan — candidates from MinHash banding, exact verification
    * per candidate — the shape that survives 100 TB; results are identical
    * to the ungated plans (band recall at 0.5 is 1-1e-8, and the oracle
    * would catch any miss). [[Dedup.jaccardPairs]] stays available as
    * the sparse ungated plan.
    */
  def q30_jaccard_pairs(s: SparkSession, dir: String): DataFrame =
    // r19: served from the shared per-process NearDupGraph build — the
    // same jaccardPairsLsh(0.5, 3) relation q51/q83/q169 consume,
    // derived once per process instead of four times (guide §2.4).
    NearDupGraph.pairs05(s, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** MinHash + LSH near-dup pairs (the 100 TB dedup path; rows-only check,
    * recall vs q30 asserted in ScalaTest).
    */
  def q31_minhash_neardup(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
        threshold = 0.7)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_j"))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs over the PLANTED corpus (rows-only check).
    * The raw documents hold no exact duplicates at the oracle SFs, which
    * made the old "simhash recovers exact dups" assertion vacuous
    * (round-10 verdict) — [[QueryFixtures.plantedDocuments]] plants
    * exact duplicates, token-rotated copies (identical signature, NOT
    * exact text), and adversarially-close appended-token variants, so
    * the Verify assertion now checks recovery of known ground truth AND
    * full equivalence with a driver brute-force hamming filter.
    */
  def q32_simhash_neardup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(
        QueryFixtures.plantedDocuments(
          Tables(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** exact dedup keep-first on a real key (min line per order). */
  def q43_dedup_first(s: SparkSession, dir: String): DataFrame =
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // tie-break through the remaining columns for a deterministic pick
    Dedup.exact(Tables(s, dir, "lineitem"), Seq("l_orderkey"),
        "l_linenumber", "l_quantity", "l_partkey", "l_suppkey")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 4).as("qty"))
      .orderBy(col("l_orderkey"))

  /** Dedup clustering: LSH-gated exact-Jaccard pairs → connected
    * components → canonical selection (`keep` = cluster minimum). The
    * full "keep one per near-dup cluster" pipeline of a training-data
    * dedup pass, oracled against a DuckDB recursive-CTE transitive
    * closure.
    */
  def q51_dedup_clusters(s: SparkSession, dir: String): DataFrame =
    // r19: labels from the shared per-process NearDupGraph build (the
    // identical jaccardPairsLsh(0.5) + connectedComponents pipeline,
    // derived once per process for q51/q83/q169 — guide §2.4)
    NearDupGraph.labels05(s, dir)
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        when(col("id") === col("comp"), 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))

  /** span-level exact-substring duplication: per doc, how many word
    * 10-gram positions repeat anywhere in the corpus (the substring-dedup
    * signal). Post-explode everything is (id, hash, count) — gram strings
    * never shuffle.
    */
  def q71_repeated_spans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .repeatedSpans(Tables(s, dir, "documents"), "doc_id", "text", k = 10)
      .select(col("doc_id"), col("total_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double") /
          greatest(col("total_spans"), lit(1L)), 4).as("dup_ratio"))
      .orderBy(col("doc_id"))

  /** cross-table fuzzy join (record linkage): even-id documents matched
    * against odd-id documents by shingle Jaccard ≥ 0.5 through the
    * LSH-gated path; oracled against DuckDB's exhaustive exact cross
    * Jaccard — so the gate's recall is itself under the hash check.
    */
  def q75_fuzzy_join(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    graft.operators.Dedup.fuzzyJoin(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** keep-BEST near-dup dedup: q51's LSH-gated Jaccard clusters, but the
    * survivor is the cluster's longest document (tie → smallest id)
    * instead of the smallest id — the canonical-selection policy of a
    * real curation pass.
    */
  def q83_cluster_canonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // r19: labels from the shared per-process NearDupGraph build (the
    // identical jaccardPairsLsh(0.5) + CC pipeline q51/q169 also
    // consume — guide §2.4); only the canonical policy differs.
    val labels = NearDupGraph.labels05(s, dir)
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
    Dedup.canonicalPerCluster(labels, "doc_id", "cluster",
        docs.select(col("doc_id"), col("n_chars")), "doc_id", col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** semantic dedup over the embedding space, through the SCALE path:
    * hyperplane-banded candidate pairs with exact round(cos,4) >= 0.9
    * rescore ([[Similarity.cosinePairsLshAuto]] — NO CartesianProduct in
    * the plan) → connected components → keep the min-id representative
    * per cluster. The raw testdata embeddings contain no semantic near-dups
    * (max background pair cos ≈ 0.51 at every SF — measured round 6), so
    * the query PLANTS them the way q113 plants corpus versions: every
    * %10 == 0 vector gets a deterministic low-amplitude jittered copy
    * (cos ≈ 0.997 to its source, mirrored element-for-element in the
    * oracle), putting the threshold squarely in the gateable regime —
    * per-pair band-miss ~1e-7 vs the 0.51 background ceiling.
    */
  def q92_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // deterministic jitter (QueryFixtures.plantedEmbeddings): e[i] +=
    // 0.005 * (((vec_id*31 + i) % 7) - 3); pure double arithmetic,
    // identical left-to-right in both engines — the oracle SQL below
    // mirrors it element-for-element
    val v = QueryFixtures.plantedEmbeddings(base)
    // 12-bit × 12-band hand geometry: the 10× rehearsal measured the
    // 7-bit default going quadratic in candidates (buckets ~n/128);
    // 2^12 band values keep buckets ≤16 through sf1 (22k vectors), and
    // 12 bands hold the planted-pair (cos ≈ 0.9967, p ≈ 0.974) miss
    // rate at ~1.5e-7. Round 8: the knee routing is CODE, not scaladoc
    // — the auto dispatcher keeps 12×12 while occupancy n/2^12 ≤ 16
    // (every oracle SF: 0.13 → 5.4 at sf1, so the oracled plan never
    // changes) and switches to scaledLshGeometry past it, carrying the
    // hand geometry's own 1.5e-7 design miss across the switch. The
    // cap is the MEASURED crossover on decorrelated rehearsal data:
    // scaled wins 13.3→11.1 s at occ 18 (sf3) and 141→48 s at occ 54
    // (sf10); hand wins 1.9 vs 5.3 s at occ 0.5 (sf0.1).
    val pairs = Similarity.cosinePairsLshAuto(v, "vec_id", "e", 0.9,
      dim = 64, planesPerBand = 12, bands = 12, targetCos = 0.9967,
      maxMiss = 1.5e-7)
    Dedup.connectedComponents(v.select(col("vec_id")), "vec_id",
        pairs, "id_a", "id_b")
      .select(col("id").as("vec_id"), col("comp"),
        (col("id") === col("comp")).cast("long").as("keep"))
      .orderBy(col("vec_id"))
  }

  /** shingle containment pairs: inter / min(|A|,|B|) >= 0.6 — catches a
    * short doc fully embedded in a longer one, which Jaccard dilutes.
    * Round 8: rides [[Dedup.containmentPairsPrefix]] (pigeonhole prefix
    * filter — EXACT, recall 1 by construction, so the oracle is
    * unchanged) instead of the co-shingled self-join, whose Σ df² cost
    * the 100× sweep measured at 261 s (hot cross-replica shingles);
    * the prefix probe is candidate-proportional.
    */
  def q93_containment_pairs(s: SparkSession, dir: String): DataFrame =
    // r19: served from the shared per-process ContainmentRel build —
    // the per-doc sets + class window + pigeonhole candidate + verify
    // stages are derived once per process for q93/q165 (guide §2.4);
    // only the cheap expansion + threshold filter runs here. Output
    // identical to the inline containmentPairsPrefix.
    Dedup.containmentPairsPrefixFrom(ContainmentRel.docMap(s, dir),
        ContainmentRel.repPairs(s, dir), threshold = ContainmentRel.Threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))

  /** incremental ingestion dedup: the doc_id % 10 == 0 slice arrives as
    * a new batch; survivors are batch docs whose content fingerprint is
    * unseen in the rest of the corpus AND first (min id) within the
    * batch itself.
    */
  def q106_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val fp = TextFunctions.fingerprint(col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), fp.as("fp"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).select(fp.as("fp"))
    Dedup.incrementalExact(batch, "fp", "doc_id", corpus)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** per-source distinct-trigram panel via mergeable HLL sketches, plus
    * the corpus-wide union row — the vocabulary-size dashboard shape
    * where an exact global distinct would shuffle every n-gram. Sketches
    * are built per group (one map-side-combinable agg) and UNIONED for
    * the corpus row — the second aggregate merges 20 sketch buffers, not
    * data. The sketch item is `xxhash64(trigram)` — a fixed-width long —
    * not the UTF8 trigram: HLL++ re-hashes every update, and hashing 8
    * bytes beats hashing a variable-length string on the heaviest
    * catalog query; distinct(hash) == distinct(trigram) up to 64-bit
    * collisions (~n²/2⁶⁵ — zero expected below billions of grams, and
    * the exact-distinct assertion would catch drift). Rows-only (HLL++
    * estimates aren't DuckDB-reproducible); the hard gate is
    * [[VerifyAssertions]]' ≤ 3 % relative-error check against exact
    * distinct counts (lgK 14 → ~0.8 % RSE; measured ≤ 0.6 % at
    * sf0.001/0.01/0.1).
    */
  def q119_distinct_sketch(s: SparkSession, dir: String): DataFrame = {
    // ngram_hashes kernel == xxhash64(ngrams(...)) bit-for-bit
    // (spec-pinned): the HOF chain allocated a slice array, a concat
    // string and a 32-hex digest per gram through interpreted
    // transform(); estimates are unchanged because the hash VALUES are
    val tg = Tables(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        explode(graft.functions.SketchExprs.ngram_hashes(
          TextFunctions.tokensWs(col("text")), 3)).as("h"))
    val per = tg.groupBy(col("source"))
      .agg(hll_sketch_agg(col("h"), lit(14)).as("__hll"))
      .localCheckpoint() // feeds the per-source rows AND the union row
    per.select(col("source"),
        hll_sketch_estimate(col("__hll")).as("est_distinct"))
      .unionAll(per.agg(hll_union_agg(col("__hll")).as("__u"))
        .select(lit("__ALL__").as("source"),
          hll_sketch_estimate(col("__u")).as("est_distinct")))
      .orderBy(col("source"))
  }

  /** Incremental near-dup admission: every-7th document arrives as the
    * batch, the rest are the standing corpus; each batch doc is admitted
    * or flagged against its smallest near-duplicate (exact shingle
    * Jaccard ≥ 0.5 through the LSH gate). Oracled against DuckDB's
    * exhaustive exact cross Jaccard — the gate's recall is itself under
    * the hash check, as in q75.
    */
  def q129_incremental_neardup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    graft.operators.Dedup.incrementalNearDup(
        d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        threshold = 0.5)
      .orderBy(col("doc_id"))
  }

  /** Cross-source duplication matrix over vocab fingerprints (q88's
    * word-shuffle-invariant dedup key): which source pairs share how
    * many distinct fingerprints — the "what should dedup against what"
    * curation panel. See [[graft.operators.Dedup.dupMatrix]] for the
    * no-self-join scale shape.
    */
  def q142_dup_matrix(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables(s, dir, "documents").select(col("source"),
      TextFunctions.vocabFingerprint(col("text")).as("fp"))
    Dedup.dupMatrix(fp, col("source"), col("fp"))
      .orderBy(col("n_shared").desc, col("src_a"), col("src_b"))
  }

  /** Per-doc containment summary at the q93 threshold: is the doc the
    * smaller side of any pair with round(containment,4) >= 0.6, its best
    * score, and the containing partner (ties → smallest partner id) —
    * see [[graft.operators.Dedup.containmentSummaryFrom]]. |docs| rows.
    */
  def q165_containment_summary(s: SparkSession, dir: String): DataFrame =
    // r19: served from the shared per-process ContainmentRel build
    // (see q93 — guide §2.4); only the class-level best aggregation
    // and per-doc expansion run here. Output identical to building the
    // same relations inline.
    Dedup.containmentSummaryFrom(Tables(s, dir, "documents"), "doc_id",
        ContainmentRel.docMap(s, dir), ContainmentRel.repPairs(s, dir),
        threshold = ContainmentRel.Threshold)
      .orderBy(col("doc_id"))

  /** Near-dup cluster SIZE panel over the q51 clustering (LSH-gated
    * jaccard 0.5 pairs → connected components): how many clusters of
    * each size, how many docs they hold, and how many a keep-one-per-
    * cluster pass drops — the dedup-report a pipeline run ends with.
    * Everything after the CC is |clusters|-row aggregates.
    */
  def q169_cluster_sizes(s: SparkSession, dir: String): DataFrame = {
    // r19: labels from the shared per-process NearDupGraph build (the
    // identical jaccardPairsLsh(0.5) + CC pipeline q51/q83 also
    // consume — guide §2.4); everything below is |clusters|-row aggs.
    NearDupGraph.labels05(s, dir)
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
      .orderBy(col("cluster_size"))
  }

  /** Customer-name near-collision audit: all name pairs within
    * Levenshtein distance 1 ([[Dedup.editDistancePairCounts]] —
    * lossless deletion-neighborhood blocking, exact verify, copy
    * counts instead of id expansion), summarized as a histogram over
    * the POSITION of the differing character (the digit-position
    * fingerprint of an id-collision pattern). Pair mass is real
    * (~262k id pairs at sf0.1, ~1B at sf10) but flows as
    * count-weighted TEXT pairs; the panel is |positions| rows.
    */
  def q170_name_collisions(s: SparkSession, dir: String): DataFrame =
    // count-weighted text pairs (editDistancePairCounts): the histogram
    // only needs Σ copies(a)·copies(b) per position, so the id-level
    // expansion (~1B rows at the sf10 census — 512 s, 22% of the r14
    // full sweep) is never materialized; numbers are EXACTLY the
    // id-pair counts (spec-pinned, oracle unchanged)
    Dedup.editDistancePairCounts(
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", maxDist = 1)
      .filter(col("dist") === 1)
      // first_diff_pos = the filter(sequence(...substr...))[0] HOF chain
      // as one codegen byte walk (bit-identical incl. the exhausted-side
      // "" semantics; spec-pinned) — the chain was ~2 s of q170's 6.4 s
      .select(graft.functions.TextExprs.first_diff_pos(
          col("text_a"), col("text_b")).as("pos"),
        col("n_pairs"))
      .groupBy(col("pos")).agg(sum(col("n_pairs")).as("n_pairs"))
      .orderBy(col("pos"))

  /** The shared q193/q194 corpus: raw docs plus, for every `%20 == 0`
    * non-empty doc, an EXACT duplicate (+1e7) and an 80%-prefix
    * truncation (+2e7) — near-dup structure that is fully
    * SQL-expressible, so both queries stay hash-oracled (the
    * simhash/append plant is argmin-over-signatures and is NOT; q32
    * carries that one under its brute-force assertion instead).
    */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    val planted = base.filter(col("doc_id") % 20 === 0 &&
      length(trim(col("text"))) > 0)
    val dup = planted.select((col("doc_id") + lit(10000000L)).as("doc_id"),
      col("text"))
    val trunc = planted.select((col("doc_id") + lit(20000000L)).as("doc_id"),
      array_join(slice(toks, lit(1),
        greatest(floor(size(toks) * 0.8).cast("int"), lit(1))), " ")
        .as("text"))
    base.unionByName(dup).unionByName(trunc)
  }

  /** Winnowing fingerprint near-dup pairs ([[Dedup.winnowingPairs]],
    * k=4 w=4 minShared=2) over the planted corpus: exact dups share
    * every fingerprint (score 1), prefix truncations most — the MOSS
    * local-fingerprinting middle ground between whole-doc hashing and
    * full shingle Jaccard, at ~2/(w+1) of the gram density.
    */
  def q193_winnowing_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingPairs(nearDupCorpus(s, dir), "doc_id", "text",
        k = 4, w = 4, minShared = 2)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact TRIGRAM tf-cosine pairs at round(cos,4) ≥ 0.85
    * ([[Dedup.tfCosinePairs]], ngram=3): integer sufficient sums make
    * the score engine-exact; trigram terms because the testdata's
    * ~31-word vocabulary makes unigram tf vectors near-collinear
    * (background cos ≈ 0.9 — measured; trigram space ~30k terms).
    */
  def q194_tf_cosine_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.tfCosinePairs(nearDupCorpus(s, dir), "doc_id", "text",
        threshold = 0.85, ngram = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Winnowing dedup CLUSTER report: the q193 pair graph closed into
    * connected components ([[Dedup.connectedComponents]]) and reduced
    * to the per-cluster-size histogram + the docs a keep-one-per-
    * cluster policy would drop — the end-to-end fingerprint-dedup
    * pipeline (fingerprint → pair → component → report) a curation
    * stage actually ships, composed from verified pieces (q51/q169's
    * CC + q193's pairs) and ORACLED end-to-end via the recursive-CTE
    * closure.
    */
  def q196_winnowing_clusters(s: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(s, dir)
      .localCheckpoint() // feeds the pair pipeline AND the universe
    val pairs = Dedup.winnowingPairs(corpus, "doc_id", "text",
      k = 4, w = 4, minShared = 2)
    Dedup.connectedComponents(corpus.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b")
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
      .orderBy(col("cluster_size"))
  }

  // ------------------------------------------------------ span dedup (q210)

  /** The span-dedup corpus: every non-empty document, plus — for ids
    * ≡ 0 mod 17 — a PLANTED doc under id+6e7 whose text is tokens 4..23
    * of the source (a 20-token exact span copy). The copy makes the
    * covered-span removal fire on BOTH sides (source and plant) at
    * every SF; the corpus's natural repeated 8-grams (~5% of gram mass
    * at sf0.01) exercise the un-planted path. Both engines replay this
    * construction (the q129 discipline).
    */
  private[graft] def spanCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"), col("text"))
    QueryFixtures.requirePlantResidue("q210", "+6e7", d, dir)
    val w = graft.functions.TextFunctions.tokensWs(col("text"))
    val planted = d.filter(col("id") % 17 === 0)
      .select((col("id") + lit(60000000L)).as("id"),
        array_join(slice(w, 4, 20), " ").as("text"))
    d.unionByName(planted)
  }

  /** Corpus-wide exact-substring span dedup over the planted corpus
    * ([[graft.operators.Dedup.dedupSpans]], k = 8) — FULLY ORACLED:
    * DuckDB replays the construction and the whole definition (grams →
    * global multiplicity → covered positions → surviving text)
    * exhaustively. The engine buckets grams by xxhash64 where the
    * oracle compares exact strings — collision-free at any testable
    * corpus (~n²/2^65 expected colliding pairs).
    */
  def q210_span_dedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dedupSpans(spanCorpus(s, dir), "id", "text",
        k = 8)
      .orderBy(col("id"))

  val entries: Seq[Entry] = Seq(
    Entry("q30_jaccard_pairs", q30_jaccard_pairs, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, inter,
        |  round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
        |FROM pairs
        |JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
        |JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
        |WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),
    Entry("q31_minhash_neardup", q31_minhash_neardup, None),
    Entry("q32_simhash_neardup", q32_simhash_neardup, None),
    Entry("q43_dedup_first", q43_dedup_first, Some(
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS qty
        |FROM lineitem
        |QUALIFY row_number() OVER
        |  (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_quantity, l_partkey, l_suppkey) = 1
        |ORDER BY l_orderkey""".stripMargin)),
    Entry("q51_dedup_clusters", q51_dedup_clusters, Some(
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |  WHERE round(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) >= 0.5
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |)
        |SELECT d.doc_id,
        |  least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster,
        |  CASE WHEN least(d.doc_id, coalesce(min(r.b), d.doc_id)) = d.doc_id
        |       THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    Entry("q71_repeated_spans", q71_repeated_spans, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), grams AS (
        |  SELECT doc_id, array_to_string(t[g:g+9], ' ') AS gram
        |  FROM toks, unnest(generate_series(1, len(t) - 9)) AS u(g)
        |), gc AS (SELECT gram, count(*) AS c FROM grams GROUP BY gram),
        |per AS (
        |  SELECT doc_id, count(*) AS total_spans,
        |         count(CASE WHEN c > 1 THEN 1 END) AS dup_spans
        |  FROM grams JOIN gc USING (gram) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(total_spans, 0) AS total_spans,
        |       coalesce(dup_spans, 0) AS dup_spans,
        |       round(CAST(coalesce(dup_spans, 0) AS DOUBLE) /
        |             greatest(coalesce(total_spans, 0), 1), 4) AS dup_ratio
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    Entry("q75_fuzzy_join", q75_fuzzy_join, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s = b.s
        |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, inter,
        |  round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard
        |FROM pairs
        |JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
        |JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
        |WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),
    Entry("q83_cluster_canonical", q83_cluster_canonical, Some(
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |  WHERE round(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) >= 0.5
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |), cl AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id
        |), sel AS (
        |  SELECT c.doc_id, c.cluster,
        |    first_value(c.doc_id) OVER (PARTITION BY c.cluster
        |      ORDER BY d.n_chars DESC, c.doc_id) AS canonical
        |  FROM cl c JOIN documents d USING (doc_id)
        |)
        |SELECT doc_id, cluster, canonical,
        |  CAST(CASE WHEN doc_id = canonical THEN 1 ELSE 0 END AS BIGINT)
        |    AS keep
        |FROM sel ORDER BY doc_id""".stripMargin)),
    Entry("q92_semantic_dedup", q92_semantic_dedup, Some(
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), jit AS (
        |  SELECT vec_id + 10000000 AS vec_id,
        |    list(x + 0.005 * (((vec_id * 31 + i - 1) % 7) - 3)
        |      ORDER BY i) AS e
        |  FROM (SELECT vec_id, generate_subscripts(e, 1) AS i,
        |          unnest(e) AS x
        |        FROM base WHERE vec_id % 10 = 0)
        |  GROUP BY vec_id
        |), v AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM jit
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b
        |  ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.9
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |), cl AS (
        |  SELECT x.vec_id,
        |    least(x.vec_id, coalesce(min(r.b), x.vec_id)) AS comp
        |  FROM v x LEFT JOIN reach r ON r.a = x.vec_id
        |  GROUP BY x.vec_id
        |)
        |SELECT vec_id, comp,
        |  CAST(CASE WHEN vec_id = comp THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cl ORDER BY vec_id""".stripMargin)),
    Entry("q93_containment_pairs", q93_containment_pairs, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, i AS inter,
        |  round(i / CAST(least(sa.n, sb.n) AS DOUBLE), 4) AS containment
        |FROM inter
        |JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |WHERE round(i / CAST(least(sa.n, sb.n) AS DOUBLE), 4) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin)),
    Entry("q106_incremental_dedup", q106_incremental_dedup, Some(
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |), batch AS (
        |  SELECT * FROM fp WHERE doc_id % 10 = 0
        |), first AS (
        |  SELECT doc_id, fp FROM batch
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        |)
        |SELECT f.doc_id, f.fp FROM first f
        |WHERE NOT EXISTS (SELECT 1 FROM fp c
        |  WHERE c.doc_id % 10 <> 0 AND c.fp = f.fp)
        |ORDER BY f.doc_id""".stripMargin)),
    Entry("q119_distinct_sketch", q119_distinct_sketch, None),
    Entry("q129_incremental_neardup", q129_incremental_neardup, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> array_to_string(t[i:i+2],' '))) AS shingles FROM toks),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        |       WHERE len(shingles) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s = b.s
        |  WHERE a.doc_id % 7 = 0 AND (b.doc_id % 7 <> 0 OR b.doc_id < a.doc_id)
        |  GROUP BY 1,2),
        |j AS (
        |  SELECT id_a, id_b, (id_b % 7 <> 0) AS is_corpus
        |  FROM pairs
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa
        |    ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb
        |    ON sb.doc_id = id_b
        |  WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 4) >= 0.5),
        |cm AS (SELECT id_a, min(id_b) AS m FROM j WHERE is_corpus GROUP BY 1),
        |bm AS (SELECT id_a, min(id_b) AS m FROM j WHERE NOT is_corpus
        |       GROUP BY 1)
        |SELECT d.doc_id,
        |  CASE WHEN cm.m IS NOT NULL THEN 'corpus_dup'
        |       WHEN bm.m IS NOT NULL THEN 'batch_dup'
        |       ELSE 'keep' END AS status,
        |  coalesce(cm.m, bm.m) AS match_id
        |FROM documents d
        |LEFT JOIN cm ON cm.id_a = d.doc_id
        |LEFT JOIN bm ON bm.id_a = d.doc_id
        |WHERE d.doc_id % 7 = 0
        |ORDER BY d.doc_id""".stripMargin)),
    Entry("q142_dup_matrix", q142_dup_matrix, Some(
      """WITH fp AS (
        |  SELECT DISTINCT source,
        |    md5(array_to_string(list_sort(list_distinct(
        |      regexp_split_to_array(trim(lower(text)), '\s+'))), ' ')) AS f
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS n_shared
        |FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY n_shared DESC, src_a, src_b""".stripMargin)),
    Entry("q165_containment_summary", q165_containment_summary, Some(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b,
        |    round(i / CAST(least(sa.n, sb.n) AS DOUBLE), 4) AS c
        |  FROM inter
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |  WHERE round(i / CAST(least(sa.n, sb.n) AS DOUBLE), 4) >= 0.6
        |), sides AS (
        |  SELECT id_a AS id, id_b AS partner, c FROM pairs WHERE n_a <= n_b
        |  UNION ALL
        |  SELECT id_b AS id, id_a AS partner, c FROM pairs WHERE n_b <= n_a
        |), best AS (
        |  SELECT id, partner, c FROM sides
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, partner) = 1
        |)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN best.id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS is_contained,
        |  coalesce(best.c, 0.0) AS max_containment,
        |  best.partner AS container_id
        |FROM documents d LEFT JOIN best ON d.doc_id = best.id
        |ORDER BY d.doc_id""".stripMargin)),
    Entry("q169_cluster_sizes", q169_cluster_sizes, Some(
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |  WHERE round(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) >= 0.5
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |), clusters AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id
        |), sizes AS (
        |  SELECT cluster, count(*) AS sz FROM clusters GROUP BY 1)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * count(*) AS BIGINT) AS n_dropped
        |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin)),
    Entry("q170_name_collisions", q170_name_collisions, Some(
      """WITH c AS (
        |  SELECT c_custkey id, c_name s FROM customer
        |  WHERE c_name IS NOT NULL AND len(c_name) > 0
        |), v AS (
        |  SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, len(s) + 1),
        |      i -> s[1:i-1] || s[i+1:]), s))) AS var
        |  FROM c
        |), cand AS (
        |  SELECT DISTINCT a.id ia, a.s sa, b.id ib, b.s sb
        |  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
        |), pairs AS (
        |  SELECT sa, sb FROM cand WHERE levenshtein(sa, sb) = 1
        |)
        |SELECT list_filter(range(1, greatest(len(sa), len(sb)) + 1),
        |    i -> sa[i:i] <> sb[i:i])[1] AS pos,
        |  count(*) AS n_pairs
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin)),
    Entry("q193_winnowing_pairs", q193_winnowing_pairs, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 20 = 0 AND length(trim(text)) > 0
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    array_to_string(rt[1:greatest(floor(len(rt)*0.8)::INT, 1)], ' ')
        |  FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(text), '\s+') AS rt, text
        |    FROM documents)
        |  WHERE doc_id % 20 = 0 AND length(trim(text)) > 0),
        | tok AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) = 0
        |      THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')),
        |        '\s+') END AS t
        |  FROM corpus),
        | grams AS (
        |  SELECT doc_id, list_transform(
        |      range(1, greatest(len(t)-3, 0)+1),
        |      i -> substr(md5(array_to_string(t[i:i+3], '')), 1, 15)) AS g
        |  FROM tok),
        | fp AS (
        |  SELECT DISTINCT doc_id, f
        |  FROM grams, UNNEST(list_distinct(list_transform(
        |    range(1, greatest(len(g)-3, 0)+1),
        |    i -> list_min(g[i:i+3])))) AS u(f)),
        | hot AS (SELECT f FROM fp GROUP BY f HAVING count(*) > 1000),
        | kept AS (SELECT * FROM fp WHERE f NOT IN (SELECT f FROM hot)),
        | sizes AS (SELECT doc_id, count(*)::BIGINT nfp FROM kept GROUP BY 1),
        | pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT shared
        |  FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.id_a, p.id_b, p.shared,
        |  round(p.shared::DOUBLE / least(sa.nfp, sb.nfp)::DOUBLE, 6) AS score
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
        |  JOIN sizes sb ON sb.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin)),
    Entry("q194_tf_cosine_pairs", q194_tf_cosine_pairs, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 20 = 0 AND length(trim(text)) > 0
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    array_to_string(rt[1:greatest(floor(len(rt)*0.8)::INT, 1)], ' ')
        |  FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(text), '\s+') AS rt, text
        |    FROM documents)
        |  WHERE doc_id % 20 = 0 AND length(trim(text)) > 0),
        | tok AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) = 0
        |      THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')),
        |        '\s+') END AS t
        |  FROM corpus),
        | terms AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t)-2, 0)+1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS term
        |  FROM tok),
        | tf AS (SELECT doc_id, term, count(*)::BIGINT tf
        |  FROM terms GROUP BY 1, 2),
        | hot AS (SELECT term FROM tf GROUP BY term HAVING count(*) > 1000),
        | kept AS (SELECT * FROM tf WHERE term NOT IN (SELECT term FROM hot)),
        | norms AS (SELECT doc_id, sum(tf*tf)::BIGINT n2 FROM kept GROUP BY 1),
        | pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    sum(a.tf*b.tf)::BIGINT AS dot
        |  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | scored AS (
        |  SELECT id_a, id_b,
        |    round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)),
        |      4) AS cos
        |  FROM pairs JOIN norms na ON na.doc_id = id_a
        |    JOIN norms nb ON nb.doc_id = id_b)
        |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.85
        |ORDER BY id_a, id_b""".stripMargin)),
    Entry("q196_winnowing_clusters", q196_winnowing_clusters, Some(
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 20 = 0 AND length(trim(text)) > 0
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    array_to_string(rt[1:greatest(floor(len(rt)*0.8)::INT, 1)], ' ')
        |  FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(text), '\s+') AS rt, text
        |    FROM documents)
        |  WHERE doc_id % 20 = 0 AND length(trim(text)) > 0),
        | tok AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) = 0
        |      THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')),
        |        '\s+') END AS t
        |  FROM corpus),
        | grams AS (
        |  SELECT doc_id, list_transform(
        |      range(1, greatest(len(t)-3, 0)+1),
        |      i -> substr(md5(array_to_string(t[i:i+3], '')), 1, 15)) AS g
        |  FROM tok),
        | fp AS (
        |  SELECT DISTINCT doc_id, f
        |  FROM grams, UNNEST(list_distinct(list_transform(
        |    range(1, greatest(len(g)-3, 0)+1),
        |    i -> list_min(g[i:i+3])))) AS u(f)),
        | hot AS (SELECT f FROM fp GROUP BY f HAVING count(*) > 1000),
        | kept AS (SELECT * FROM fp WHERE f NOT IN (SELECT f FROM hot)),
        | pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |), clusters AS (
        |  SELECT c.doc_id,
        |    least(c.doc_id, coalesce(min(r.b), c.doc_id)) AS cluster
        |  FROM corpus c LEFT JOIN reach r ON r.a = c.doc_id
        |  GROUP BY c.doc_id
        |), sizes AS (
        |  SELECT cluster, count(*) AS sz FROM clusters GROUP BY 1)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * count(*) AS BIGINT) AS n_dropped
        |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin)),
    Entry("q210_span_dedup", q210_span_dedup, Some(
      """WITH uni AS (
        |  SELECT doc_id AS id, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |tk AS (
        |  SELECT id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM uni),
        |planted AS (
        |  SELECT id + 60000000 AS id, array_to_string(w[4:23], ' ') AS t
        |  FROM tk WHERE id % 17 = 0),
        |corpus AS (
        |  SELECT id, w FROM tk
        |  UNION ALL
        |  SELECT id,
        |         CASE WHEN length(trim(t)) = 0 THEN []
        |              ELSE regexp_split_to_array(trim(t), '\s+') END AS w
        |  FROM planted),
        |g AS (
        |  SELECT id, u.s AS s, array_to_string(w[u.s:u.s+7], ' ') AS gram
        |  FROM corpus, unnest(generate_series(1, greatest(len(w)-7, 0))) AS u(s)),
        |freq AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |ds AS (SELECT g.id, g.s FROM g JOIN freq USING (gram)),
        |cov AS (
        |  SELECT DISTINCT id, s + v.o AS p
        |  FROM ds, unnest(generate_series(0, 7)) AS v(o)),
        |tok AS (
        |  SELECT id, u.p AS p, w[u.p] AS tokn
        |  FROM corpus, unnest(generate_series(1, len(w))) AS u(p)),
        |kept AS (
        |  SELECT tok.id, tok.p, tok.tokn
        |  FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.p = cov.p
        |  WHERE cov.p IS NULL),
        |agg AS (
        |  SELECT id, string_agg(tokn, ' ' ORDER BY p) AS text_dedup,
        |         count(*) AS kept_tokens
        |  FROM kept GROUP BY id),
        |tot AS (SELECT id, len(w) AS total_tokens FROM corpus)
        |SELECT tot.id AS id,
        |       coalesce(agg.text_dedup, '') AS text_dedup,
        |       CAST(tot.total_tokens AS BIGINT) AS total_tokens,
        |       CAST(coalesce(agg.kept_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM tot LEFT JOIN agg USING (id)
        |ORDER BY id""".stripMargin)))
}
