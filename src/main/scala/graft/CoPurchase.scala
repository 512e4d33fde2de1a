package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared co-purchase item-graph builder — ONE build per (process,
  * sfDir) for the whole graph tail (q166 pair mining, q172 triangle
  * census, q183 BFS reach, q184 brand modularity). Before this,
  * each of the four queries independently re-derived the same
  * distinct (order, part) → order-keyed self-join → pair-count
  * relation from lineitem; at the 100× rehearsal that builder is
  * ~80 s of each query's total, paid four times per catalog pass.
  * Built through [[TmpDirs.buildOnce]] (parquet scratch, see there).
  *
  * Contents: one row per unordered part pair (`pa` < `pb`) that
  * shares at least one order, with `n_orders` = the number of
  * DISTINCT orders containing both. Fan-out is C(lines_per_order, 2)
  * ≤ 21 at the TPC-H max of 7 lines — linear in orders at any scale.
  * Consumers derive their variants by filter/projection only:
  * the ≥1 unweighted edge list (q172), the ≥2 confirmed-affinity
  * graph (q183/q184), the top-k pair report (q166).
  */
object CoPurchase {

  /** The weighted pair relation (pa, pb, n_orders), built at most once
    * per process per sfDir and served from parquet thereafter.
    */
  def pairCounts(s: SparkSession, dir: String): DataFrame =
    Tables.artifact(s, TmpDirs.buildOnce("copurchase_rel", dir) { out =>
      val op = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        // corpus-sized (57M rows at 100×) and feeding both self-join
        // sides — DISK_ONLY checkpoint (the q172 unroll-cliff lesson)
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val a = op.select(col("o"), col("p").as("pa"))
      val b = op.select(col("o"), col("p").as("pb"))
      a.join(b, Seq("o")).filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_orders"))
        .write.mode("overwrite").parquet(out)
      // The write above is a hard job barrier — the relation now
      // lives in parquet and NOTHING may keep the builder's footprint
      // alive into the consumer's execution (r13 verdict item 4: the
      // standalone q172 census OOMed a 24 GB heap because the
      // builder's checkpoint blocks + uncollected shuffle state
      // overlapped the census peak in one JVM; the catalog run only
      // survived because q166 paid the build in a separate query).
      // Release eagerly: drop the checkpoint blocks, then force a GC
      // so the ContextCleaner reclaims the build's shuffle files and
      // broadcasts NOW instead of whenever a driver GC happens to
      // land mid-census.
      op.unpersist(blocking = true)
      System.gc()
    })
}
