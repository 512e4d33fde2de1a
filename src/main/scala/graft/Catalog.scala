package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, the plan it builds over `(spark, sfDir)`,
  * and the DuckDB SQL its rows must equal. Queries without a
  * DuckDB-reproducible form have no oracle; [[VerifyAssertions]] checks
  * them instead.
  */
final case class Entry(name: String,
    run: (SparkSession, String) => DataFrame, oracle: Option[String])

/** The Verify/bench query catalog, filed by operator family. A query
  * lives in the family of the graft operator module its body is built
  * on; one that calls no operator module is relational.
  *
  * Conventions (driver contract):
  *  - every query takes (spark, sfDir) and reads only Tables parquet;
  *  - output is made deterministic with a total ORDER BY in BOTH engines;
  *  - double-typed aggregates are rounded to 4 decimals in BOTH engines so
  *    bit-level summation-order differences can't flip the hash;
  *  - column names match the oracle exactly (driver sorts columns by name).
  */
object Catalog {

  /** Each family's name and entries. */
  val families: Seq[(String, Seq[Entry])] = Seq(
    "relational" -> RelationalQueries.entries,
    "timeseries" -> TimeSeriesQueries.entries,
    "curation" -> CurationQueries.entries,
    "dedup" -> DedupQueries.entries,
    "retrieval" -> RetrievalQueries.entries,
    "graph" -> GraphQueries.entries,
    "stores" -> StoreQueries.entries)

  val entries: Seq[Entry] = families.flatMap(_._2)
}
