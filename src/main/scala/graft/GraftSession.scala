package graft

import org.apache.spark.sql.SparkSession

/** One-stop session factory: recommended configs (AQE, UTC, sane shuffle
  * partitioning for the master) + all graft custom functions registered so
  * they are callable from `spark.sql` as well as the Column API. Every
  * main builds its session through [[builder]]; only `cli.Main` keeps its
  * own (`GRAFT_MASTER`/`GRAFT_SHUFFLE_PARTITIONS`, and a live host
  * session is reused untouched).
  */
object GraftSession {

  /** Entries in Spark's JVM-wide cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`, a static conf read at the
    * first codegen; Spark's default is 100). One pass over the catalog
    * uses about 2,500 distinct classes, and an LRU cache smaller than
    * a cyclic working set misses on nearly every access, so at 100 (or
    * 2,000) every pass recompiles most of them. PLANS.md "Codegen
    * cache" has the counts this is sized from.
    */
  val CodegenCacheEntries: Int = 4096

  def builder(master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)

  /** Register every graft kernel ([[functions.Kernels]]: vector, sketch,
    * text, sketch-gate, range-bucket and aggregate functions, plus
    * `asof_marker` with its optimizer rule/strategy so SQL text can spell
    * an as-of join) in the session for SQL use. Idempotent.
    */
  def init(spark: SparkSession): SparkSession = {
    functions.Kernels.register(spark)
    spark
  }
}
