package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared containment-0.6 relations for the q93/q165 pair — ONE build
  * per (process, sfDir), the [[NearDupGraph]] discipline applied to the
  * prefix-filter containment machinery: before this, q93
  * (containmentPairsPrefix) and q165 (the per-doc containment verdict)
  * each re-ran the identical heavy stages — per-doc surviving shingle sets
  * (explode + global-df join + sort_array(collect_list)), the
  * identical-set class window, and the pigeonhole candidate +
  * merge-scan verify over class representatives at
  * alphaCoef = 0.6 − 1e-4 (measured 2.56 / 1.92 s steady at sf0.1,
  * the shared stages ~80% of each).
  *
  * Built through [[TmpDirs.buildOnce]]. Both relations are
  * exact-integer-valued, so the parquet round-trip is bit-lossless:
  *  - `docmap`: (id, __n, __rep, __m, __second) — the class-annotated
  *    per-doc set relation MINUS the __byRarity payload (only the pair
  *    machinery reads it, and that runs inside the build);
  *  - `reppairs`: (id_a, id_b, inter, n_a, n_b) — one row per CLASS
  *    pair admitted by the pigeonhole bound (threshold 0.6 semantics).
  */
object ContainmentRel {

  /** The q93/q165 catalog geometry the build is keyed to. */
  val Threshold = 0.6
  val ShingleWords = 3

  private def ensure(s: SparkSession, dir: String): String =
    TmpDirs.buildOnce("containment_rel", dir) { root =>
      val docs = Tables(s, dir, "documents")
      val docMap = operators.Dedup.perDocSetsWithClasses(docs, "doc_id",
          "text", ShingleWords, operators.Dedup.DefaultMaxShingleDf)
        .localCheckpoint()
      operators.Dedup
        .repPairsFromDocMap(docMap, alphaCoef = Threshold - 1e-4)
        .write.mode("overwrite").parquet(s"$root/reppairs")
      docMap.select(col("id"), col("__n"), col("__rep"), col("__m"),
          col("__second"))
        .write.mode("overwrite").parquet(s"$root/docmap")
      // release the corpus-sized __byRarity checkpoint blocks before
      // any consumer executes (the CoPurchase footprint lesson)
      docMap.unpersist(blocking = true)
  }

  /** (id, __n, __rep, __m, __second) — class-annotated per-doc sets. */
  def docMap(s: SparkSession, dir: String): DataFrame =
    Tables.artifact(s, s"${ensure(s, dir)}/docmap")

  /** (id_a, id_b, inter, n_a, n_b) — class-representative pairs at the
    * 0.6 pigeonhole bound.
    */
  def repPairs(s: SparkSession, dir: String): DataFrame =
    Tables.artifact(s, s"${ensure(s, dir)}/reppairs")
}
