package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoize analyzed plans per (session, path): a reopened path pays no
  // file listing and no parquet footer-inference job. Base tables and
  // the build-once artifacts graft writes itself ([[artifact]]) are both
  // read through this memo. This caches PLANS, not data — each query
  // still scans.
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      _ => load(spark, sfDir, name))

  /** A parquet artifact graft wrote and never appends to (the
    * [[TmpDirs.buildOnce]] relations, the write-once status files under
    * a [[StableStores]] dir), read once per session. A store that grows
    * after it is opened (an `IndexStore` `codes.parquet`) must not come
    * through here: its memoized file listing would miss the appends.
    */
  def artifact(spark: SparkSession, path: String): DataFrame =
    planCache.computeIfAbsent((spark, path), _ => spark.read.parquet(path))

  /** Drop every memoized plan at or under `root` — called before a build
    * (re)writes that dir, so no session keeps a stale listing of it.
    */
  private[graft] def forget(root: String): Unit =
    planCache.keySet.removeIf { case (_, p) =>
      p == root || p.startsWith(root + "/")
    }: Unit

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in THREE physical forms across driver
      // regenerations, and Tables must normalize all of them to
      // TimestampType (µs, session-tz) so unix_micros/date functions bind:
      //  - TIMESTAMP(NANOS) (early driver data): Spark rejects it outright;
      //    read raw int64 nanos and truncate to µs with INTEGER division
      //    (a double division would lose precision above 2^53 ns) —
      //    matching DuckDB's own ns→µs truncation so oracles agree.
      //  - µs isAdjustedToUTC=true (ScaleUp rehearsal data): already
      //    TimestampType — pass through.
      //  - µs isAdjustedToUTC=false (pandas-written driver regen, round 9):
      //    Spark reads TIMESTAMP_NTZ; cast to TimestampType. Every entry
      //    point pins spark.sql.session.timeZone=UTC, so the cast
      //    reinterprets the naive wall-clock as UTC — value-preserving and
      //    identical to DuckDB's naive read of the same file.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(s"$sfDir/$name.parquet"))
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize an events `ts` column of any of the three shipped physical
    * forms to TimestampType (µs, session-tz) — see the comment above.
    * Works on batch and streaming DataFrames alike (pure projection).
    * Callers reading raw parquet must set
    * spark.sql.legacy.parquet.nanosAsLong first for the NANOS form. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
