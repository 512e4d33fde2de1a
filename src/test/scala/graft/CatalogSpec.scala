package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's registry ([[Catalog]]): each query is registered
  * once, in the family object that defines it, and the driver's views
  * ([[SparkEntry.queries]], [[SparkEntry.oracleSql]]) hold every entry.
  */
class CatalogSpec extends AnyFunSuite {

  private val names = Catalog.entries.map(_.name)

  private val objects: Map[String, AnyRef] = Map(
    "relational" -> RelationalQueries, "timeseries" -> TimeSeriesQueries,
    "curation" -> CurationQueries, "dedup" -> DedupQueries,
    "retrieval" -> RetrievalQueries, "graph" -> GraphQueries,
    "stores" -> StoreQueries)

  test("query names are unique across families") {
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"registered more than once: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every query sits in exactly one family: the object that defines it") {
    assert(Catalog.families.map(_._1).sorted == objects.keys.toSeq.sorted)
    for ((family, entries) <- Catalog.families) {
      // the `_rebuild` twins are Verify's comparison plans, not entries
      val defined = objects(family).getClass.getMethods.toSeq
        .filter(m => m.getName.matches("q\\d+_\\w+") &&
          !m.getName.endsWith("_rebuild") && m.getParameterCount == 2)
        .map(_.getName).toSet
      assert(entries.map(_.name).toSet == defined, family)
    }
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("the catalog holds its 212 queries, 193 of them oracled") {
    assert(SparkEntry.queries.size == 212)
    assert(SparkEntry.oracleSql.size == 193)
  }
}
