package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data synthesizer: replicate an sf directory `factor`×
  * with consistent id offsets, so catalog queries can be timed at 10× to
  * measure their SCALING SHAPE before any real 100× run (PLANS.md records
  * the factors).
  *
  * Replication model — chosen so the scaled corpus keeps the ORIGINAL's
  * duplicate/join structure instead of planting artifacts:
  *  - dimensions (region, nation) copy verbatim: facts grow faster than
  *    dimensions in real warehouses, and replicated dims would break FKs;
  *  - every entity key gets `k * 100_000_000` per replica, applied to the
  *    SAME key on every table that carries it, so FK joins land within a
  *    replica and fan-outs match the original's;
  *  - document text is rotated through a per-replica lowercase Caesar
  *    cipher: replicas are NOT near-duplicates of each other (exact copies
  *    would plant 10-cliques in every dedup query), while each replica
  *    preserves the original's internal dup structure and exact lengths
  *    (n_chars stays valid);
  *  - events keep their timestamps (densification: 10× events/day — how
  *    traffic actually grows) with ts written as a µs TIMESTAMP (the
  *    Tables ns→µs truncation applied up front, so the DuckDB oracle
  *    binds date functions on the scaled data too);
  *  - embeddings get hash-decorrelated per-(vector, replica) noise so
  *    replica copies are neither exact ties nor near-dups (details at
  *    the replicate block below).
  */
object ScaleUp {

  private[tools] val Off = 100000000L

  /** One embeddings replica (k = 0 verbatim): id offset + the
    * hash-decorrelated per-(vector, element, replica) noise documented
    * at the call site below. Shared with [[ScaleUpEmbeddings]] so the
    * big-vector-count rehearsal corpora use the SAME replication model
    * as the full ScaleUp dirs.
    */
  private[tools] def embReplica(d: DataFrame, k: Int): DataFrame = {
    val emb =
      if (k == 0) col("embedding")
      else transform(col("embedding"), (x, i) =>
        (x.cast("double") + lit(0.018) *
          (pmod(xxhash64(col("vec_id"), i, lit(k)), lit(17)) - 8))
          .cast("float"))
    d.select((col("vec_id") + lit(k * Off)).as("vec_id"),
      emb.as("embedding"), col("label"))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def replicate(df: DataFrame, name: String)(
        tx: (DataFrame, Int) => DataFrame): Unit =
      write((0 until factor).map(k => tx(df, k)).reduce(_ unionAll _), name)

    def off(c: String, k: Int) = (col(c) + lit(k * Off)).as(c)

    // verbatim dimensions
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$src/$t.parquet"), t)

    replicate(spark.read.parquet(s"$src/customer.parquet"), "customer") {
      (d, k) => d.select(off("c_custkey", k), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    replicate(spark.read.parquet(s"$src/supplier.parquet"), "supplier") {
      (d, k) => d.select(off("s_suppkey", k), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }
    replicate(spark.read.parquet(s"$src/part.parquet"), "part") {
      (d, k) => d.select(off("p_partkey", k), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }
    replicate(spark.read.parquet(s"$src/orders.parquet"), "orders") {
      (d, k) => d.select(off("o_orderkey", k), off("o_custkey", k),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    replicate(spark.read.parquet(s"$src/lineitem.parquet"), "lineitem") {
      (d, k) => d.select(off("l_orderkey", k), off("l_partkey", k),
        off("l_suppkey", k), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }
    // events: write ts as a µs TIMESTAMP (the Tables ns→µs truncation
    // applied at synthesis time). Raw int64 output (round 6) broke the
    // DuckDB oracle at scale — date_trunc/epoch_us can't bind a BIGINT —
    // so the 10× gate silently skipped every events query. Tables
    // passes a TimestampType ts through unchanged.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // schema-adaptive via Tables.normalizeEventTs: driver testdata may be
    // raw int64 nanos, µs NTZ (pandas regen), or a previous ScaleUp
    // output's µs TIMESTAMP — all normalize to TimestampType on write so
    // rehearsal data always carries the canonical form.
    val ev = graft.Tables.normalizeEventTs(
      spark.read.parquet(s"$src/events.parquet"))
    replicate(ev, "events") {
      (d, k) => d.select(off("event_id", k), col("ts"),
        off("user_id", k), col("event_type"), col("value"), col("props"))
    }
    val lower = "abcdefghijklmnopqrstuvwxyz"
    replicate(spark.read.parquet(s"$src/documents.parquet"), "documents") {
      (d, k) =>
        val rot = lower.drop(k % 26) + lower.take(k % 26)
        d.select(off("doc_id", k),
          (if (k == 0) col("text")
           else translate(col("text"), lower, rot)).as("text"),
          col("lang"), col("source"), col("n_chars"))
    }
    // per-(vector, replica) deterministic noise for k > 0: verbatim
    // copies would plant exact-tie 10-cliques (cos 1.0) in every
    // similarity/dedup query — an artifact, not growth. ~0.018-scale
    // noise on unit vectors puts cos(same vec, two replicas) ≈ 0.67,
    // far below every gate threshold, while within-replica structure
    // is preserved up to a uniform ~1/1.5 cosine shrink.
    // HASH-mixed noise (round 7): the round-6 modular form
    // ((vec_id*7 + i*13 + k*31) % 17) was the SAME cyclic pattern
    // per replica, shifted — shift-aligned replica pairs correlated
    // at ρ high enough to lift cos(same vec, two replicas) above
    // 0.9, which the exact all-pairs q92 oracle sees and a
    // 0.9967-tuned LSH gate legitimately misses. xxhash64 per
    // (vec, element, replica) decorrelates replicas completely.
    // (Transform lives in embReplica, shared with ScaleUpEmbeddings.)
    replicate(spark.read.parquet(s"$src/embeddings.parquet"),
      "embeddings")(embReplica)
    println(s"""{"scaled":"$dst","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
