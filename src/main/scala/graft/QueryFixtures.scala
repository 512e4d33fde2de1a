package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic near-dup planting shared by the semantic-similarity
  * catalog queries (q49/q92) and their Verify assertions.
  *
  * The raw testdata embeddings contain NO semantic near-dups (max
  * background pair cos ≈ 0.51 at every SF — measured round 6), which
  * puts any similarity threshold in the measured UNGATEABLE regime
  * ([[operators.Similarity.topPairs]]). The queries therefore PLANT
  * near-dups the way q113 plants corpus versions: every `%10 == 0`
  * vector gets a deterministic low-amplitude jittered copy
  * (cos ≈ 0.9967 to its source), so the near-dup structure scales with
  * the corpus and stays mirrorable element-for-element in a DuckDB
  * oracle (q92) or an in-Spark exact twin (q49's Verify assertion).
  */
private[graft] object QueryFixtures {

  /** Input: `(vec_id: long, e: array<double>)`. Output: the input plus
    * one jittered copy per `%10 == 0` row, ids offset by 10,000,000.
    * Jitter: `e[i] += 0.005 * (((vec_id*31 + i) % 7) - 3)` — pure double
    * arithmetic, identical left-to-right in any engine.
    *
    * TESTDATA FIXTURE, not a production operator: the fixed offset is
    * mirrored literally in q92's oracle SQL, so input ids must stay
    * below 10,000,000 (testdata max is ~1.8M at the 30× rehearsal
    * scale). A production planting would offset by `max(id)+1`.
    */
  def plantedEmbeddings(base: DataFrame): DataFrame = {
    val jit = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"),
        transform(col("e"), (x, i) =>
          x + lit(0.005) *
            (((col("vec_id") * 31 + i.cast("long")) % 7) - 3)).as("e"))
    base.unionAll(jit)
  }

  /** Deterministic near-dup planting for the SimHash query (q32) and its
    * Verify assertion — the text-corpus analogue of [[plantedEmbeddings]].
    * The raw documents contain no exact duplicates at the oracle SFs
    * (round-10 verdict: `exact_dups=0` made the old q32 check vacuous),
    * so every `%10 == 0` doc gets three planted companions:
    *
    *  - `+10,000,000`: an EXACT text duplicate — identical normalized
    *    token multiset ⇒ identical 64-bit signature ⇒ hamming 0,
    *    recovery GUARANTEED by the band pigeonhole;
    *  - `+20,000,000`: the doc's whitespace tokens ROTATED by one —
    *    SimHash votes depend only on the token multiset, so the
    *    signature is identical (hamming 0, guaranteed recovery) while
    *    the TEXT is not an exact duplicate (shingle Jaccard < 1): the
    *    order-invariant near-dup class the md5 fingerprint (q29)
    *    misses by construction;
    *  - `+30,000,000`: the ADVERSARIALLY CLOSEST appended-token
    *    variant — among 16 candidate one-token appends `nd0`…`nd15`
    *    the plan picks (argmin via `array_min` over (hamming, k)
    *    structs) the one whose signature lands NEAREST the original
    *    without equalling it, seeding the hamming 1–3 band the
    *    assertion's brute-force histogram must populate. A one-token
    *    append flips only the signature bits whose token-vote sum sits
    *    within ±1 of zero (expected ~64/√(2πn) bits for an n-token
    *    doc), so the min over 16 draws concentrates at hamming 1–3;
    *    if every candidate collides at hamming 0 the first one is
    *    kept (still a guaranteed-recovery plant).
    *
    * TESTDATA FIXTURE, not a production operator: the +10/20/30M
    * shifted copies of every `%10 == 0` id must land on UNOCCUPIED ids
    * — true for testdata (base ids in [0, 5e5)) and for ScaleUp
    * corpora (replica r occupies [r·1e8, r·1e8 + 5e5), far below the
    * next replica's offset). A production planting would offset by
    * `max(id)+1`-derived strides. Input: `(doc_id: long, text: string)`.
    */
  def plantedDocuments(base: DataFrame): DataFrame = {
    import graft.functions.{SketchExprs, TextFunctions}
    val src = base.filter(col("doc_id") % 10 === 0)
    val dup = src.select((col("doc_id") + lit(10000000L)).as("doc_id"),
      col("text"))
    val rawToks = TextFunctions.tokensWs(col("text"))
    val rot = src.select((col("doc_id") + lit(20000000L)).as("doc_id"),
      array_join(concat(
        slice(rawToks, lit(2), greatest(size(rawToks) - 1, lit(0))),
        slice(rawToks, lit(1), lit(1))), " ").as("text"))
    // signature-space argmin over the 16 candidate appends: votes are a
    // function of the normalized token multiset, so appending the token
    // to the normalized token ARRAY equals appending " ndK" to the text
    val normToks =
      TextFunctions.tokensWs(TextFunctions.normalizeText(col("text")))
    val baseSig = SketchExprs.simhash_array(normToks)
    val cands = array((0 until 16).map { k =>
      struct(
        bit_count(SketchExprs.simhash_array(
            concat(normToks, array(lit(s"nd$k"))))
          .bitwiseXOR(baseSig)).as("h"),
        lit(k).as("k"))
    }: _*)
    val moved = filter(cands, s => s.getField("h") >= 1)
    val chosen =
      when(size(moved) > 0, array_min(moved)).otherwise(array_min(cands))
    val app = src.select((col("doc_id") + lit(30000000L)).as("doc_id"),
      concat_ws(" ", col("text"),
        concat(lit("nd"), chosen.getField("k").cast("string"))).as("text"))
    base.select(col("doc_id"), col("text"))
      .unionAll(dup).unionAll(rot).unionAll(app)
  }

  private val residueChecked = scala.collection.mutable.Set[(String, String)]()

  /** Planted-duplicate families shift real ids by multiples of 1e7, so
    * they stay collision-free only while every real id's residue mod
    * 1e8 is below 1e7. A RESIDUE bound, not an absolute one (the r15
    * sf10 lesson): ScaleUp corpora carry ids k·1e8 + base, and plant
    * residues then land in their own [j·1e7, (j+1)·1e7) bands, disjoint
    * from real residues [0, 1e7) and from each other, without crossing
    * into the next 1e8 block. A corpus past the bound would silently
    * corrupt the planted semantics (oracle parity would still hold —
    * both sides replay the same construction — but the families would
    * stop testing what they plant). `d` carries the corpus ids as
    * `id`; checked once per (process, label, dir), and the message
    * names the query `label` and its `offsets`.
    */
  def requirePlantResidue(label: String, offsets: String, d: DataFrame,
      dir: String): Unit =
    synchronized {
      if (!residueChecked.contains((label, dir))) {
        val mx = d.agg(max(pmod(col("id"), lit(100000000L)))).head.getLong(0)
        require(mx < 10000000L,
          s"$label planted-duplicate offsets ($offsets) collide with real " +
            s"doc ids: max(doc_id % 1e8)=$mx >= 1e7 in $dir")
        residueChecked.add((label, dir)): Unit
      }
    }
}
