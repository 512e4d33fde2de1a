package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Similarity}

/** Round-18 batch: STREAMING refresh for the model-backed index-store
  * kinds (r17 verdict item 4 — q211 proved the foreachBatch pattern
  * for the `sig` kind; the ANN/lexical stores refreshed only via batch
  * append queries q199/q201/q209). q212 drives the `ivf2` kind through
  * [[graft.streaming.Streams.ivf2AppendStream]]: a REAL file-source
  * stream delivers the arriving vectors in three staged chunks, each
  * trigger assigns its micro-batch with the LOADED frozen hierarchy
  * and appends, and serving over the streamed store must equal q209's
  * single-shot batch append row-for-row (assignment is per-row pure
  * given a frozen index, so chunking cannot change any code row — the
  * 22nd Verify hard gate pins it).
  *
  * The hierarchy is NOT retrained here: q212's store copies the frozen
  * index out of q209's store (two separately-fitted k-means models
  * differ by shuffle-arrival ulps and boundary rows flip — the
  * r17 fitCached lesson), so the gate compares two append PATHS under
  * ONE model, never two models.
  */
object Queries28 {

  /** Build-once (per process/sfDir): a fresh store seeded with the
    * resident assignment under q209's LOADED hierarchy, then the
    * arriving rows streamed in as three parquet-staged micro-batches
    * through [[graft.streaming.Streams.ivf2AppendStream]].
    */
  private[graft] def ivf2StreamStore(s: SparkSession, dir: String): String = {
    val root = TmpDirs.buildOnce("ivf2_stream_store", dir) { root =>
      val batchStore = Queries27.ivf2AppendStore(s, dir)
      val (idx, kSup, kChild, _) = IndexStore.loadIvf2(s, batchStore)
      val (_, resident, arriving) = Queries23.appendParts(s, dir)
      val store = s"$root/store"
      IndexStore.saveIvf2(s, store, idx,
        Similarity.ivf2Assign(resident, "vec_id", "e", idx),
        "vec_id", kSup, kChild)
      val watched = s"$root/in"
      new java.io.File(watched).mkdirs(): Unit
      val src = s.readStream.schema("vec_id LONG, e ARRAY<DOUBLE>")
        .parquet(watched)
      val q = graft.streaming.Streams.ivf2AppendStream(
        src, store, "vec_id", "e")
      // three staged chunks = three triggers; processAllAvailable
      // between stages so each chunk is its own micro-batch and
      // every append commits before the next arrives (the q211
      // staging discipline)
      try (0 until 3).foreach { k =>
        arriving.filter(pmod(col("vec_id"), lit(3)) === k)
          .select(col("vec_id"), col("e"))
          .coalesce(1).write.mode("append").parquet(watched)
        q.processAllAvailable()
      } finally q.stop()
    }
    s"$root/store"
  }

  /** Two-level IVF ANN served from the STREAM-refreshed store — must
    * equal [[Queries27.q209_ivf2_append_topk]] (the single-shot batch
    * append of the same arrivals under the same frozen hierarchy)
    * row-for-row; the Verify gate compares them. Rows-only (k-means
    * books aren't DuckDB-reproducible — the q209 precedent).
    */
  def q212_ivf2_stream_topk(s: SparkSession, dir: String): DataFrame = {
    val (corpus, _, _) = Queries23.appendParts(s, dir)
    val store = ivf2StreamStore(s, dir)
    val (idx, kSup, kChild, assigned) = IndexStore.loadIvf2(s, store)
    Similarity.ivf2TopK(
        corpus.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500),
        corpus, "vec_id", "e", k = 5, idx, assigned, kSup, kChild)
      .select(col("query_id"), col("match_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q212_ivf2_stream_topk" -> q212_ivf2_stream_topk _)

  val oracles: Map[String, String] = Map.empty
}
