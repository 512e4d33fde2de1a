package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared near-dup pair/cluster relations for the jaccard-0.5 family —
  * ONE build per (process, sfDir), the [[CoPurchase]]/[[TradeGraph]]
  * discipline applied to the document dedup graph: before this, FOUR
  * queries independently re-derived the identical
  * `Dedup.jaccardPairsLsh(documents, 0.5, shingle 3)` pipeline (q30
  * emits the pairs themselves; q51/q83/q169 additionally each re-ran
  * `Dedup.connectedComponents` over them — measured ~2.3/2.3/2.7 s
  * steady EACH at sf0.1, the full shingle+minhash+band+verify+CC cost
  * paid four times per catalog pass; corpus-proportional at every
  * scale). Built through [[TmpDirs.buildOnce]].
  *
  * Contents (both deterministic, so the parquet round-trip is exact):
  *  - `pairs`: the jaccardPairsLsh(0.5) relation verbatim —
  *    (id_a, id_b, inter, jaccard) with exact integer inter/sizes and
  *    round(·,4) jaccard;
  *  - `labels`: connectedComponents over those pairs with the full doc
  *    id set as vertices — (id, comp), comp = component min id,
  *    singletons labelled by themselves.
  */
object NearDupGraph {

  private def ensure(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("neardup_graph", dir) { root =>
      val docs = Tables(s, dir, "documents")
      operators.Dedup
        .jaccardPairsLsh(docs, "doc_id", "text", threshold = 0.5,
          shingleWords = 3)
        .write.mode("overwrite").parquet(s"$root/pairs")
      // CC consumes the WRITTEN pairs (a hard job barrier — the LSH
      // verify machinery never re-executes under the CC branches)
      operators.Dedup
        .connectedComponents(docs.select(col("doc_id")), "doc_id",
          s.read.parquet(s"$root/pairs"), "id_a", "id_b")
        .write.mode("overwrite").parquet(s"$root/labels")
  }

  /** (id_a, id_b, inter, jaccard) — exact LSH-gated jaccard ≥ 0.5 pairs. */
  def pairs05(s: SparkSession, dir: String): DataFrame =
    Tables.artifact(s, s"${ensure(s, dir)}/pairs")

  /** (id, comp) — connected-component labels over [[pairs05]], one row
    * per document.
    */
  def labels05(s: SparkSession, dir: String): DataFrame =
    Tables.artifact(s, s"${ensure(s, dir)}/labels")
}
