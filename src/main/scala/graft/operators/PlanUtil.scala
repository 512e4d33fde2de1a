package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** Shared plan-shaping helpers. */
object PlanUtil {

  /** Widen a narrower-than-cluster input before a compute-bound
    * per-row stage (n-gram explode, sketching): a small corpus arriving
    * as one parquet file plans as ONE partition and serializes the whole
    * scan. Decided from optimizer STATISTICS (~4 MB/core), never from
    * `toRdd` partition counts — under AQE, touching `toRdd` at
    * DataFrame-construction time eagerly executes upstream shuffles that
    * the real action then repeats. At real scale the source is already
    * split and this is a no-op.
    */
  def widenIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= 0 && size < BigInt(target) * (4L << 20))
      df.repartition(target)
    else df
  }

  /** `df.localCheckpoint()` (eager, at `level` when given) together with
    * its row count. The count is an Observation on the checkpointing
    * action itself, so it costs no second action over the materialized
    * partitions (a `count()` after the checkpoint is one more SQL
    * execution of two jobs).
    */
  def checkpointCounted(df: DataFrame,
      level: Option[StorageLevel] = None): (DataFrame, Long) = {
    val rows = Observation()
    val observed = df.observe(rows, count(lit(1)).as("rows"))
    val ck = level match {
      case Some(l) => observed.localCheckpoint(eager = true, l)
      case None => observed.localCheckpoint()
    }
    (ck, rows.get("rows").asInstanceOf[Long])
  }
}
