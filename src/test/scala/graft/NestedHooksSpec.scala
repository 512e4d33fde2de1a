package graft

import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Nested}
import graft.operators.Ops._

/** flatten/unflatten, custom aggregate closures, transform/chunk hooks,
  * URL scan (FIXTURES.md §5 nested + SURVEY §2.10 UDF surface).
  */
class NestedHooksSpec extends SparkSpec {
  import spark.implicits._

  test("flatten structs to dot-notation and back") {
    val df = Seq((1, ("ada", 36), ("paris", "75001")))
      .toDF("id", "user", "address")
      .select(col("id"),
        col("user").cast("struct<name:string,age:int>"),
        col("address").cast("struct<city:string,zip:string>"))
    val flat = Nested.flatten(df)
    assert(flat.columns.toSeq ==
      Seq("id", "user.name", "user.age", "address.city", "address.zip"))
    val back = Nested.unflatten(flat)
    assert(back.columns.toSeq == Seq("id", "user", "address"))
    val r = back.collect()(0)
    assert(r.getStruct(1).getString(0) == "ada")
    assert(r.getStruct(2).getString(1) == "75001")
  }

  test("deeply nested unflatten (a.b.c)") {
    val df = Seq(("x", "y")).toDF("a.b.c", "a.b.d")
    val out = Nested.unflatten(df)
    assert(out.schema.treeString.contains("b"))
    val r = out.collect()(0)
    assert(r.getStruct(0).getStruct(0).getString(0) == "x")
  }

  test("custom aggregate closure over group values (reference custom fn)") {
    val df = Seq(("a", 2.0), ("a", 3.0), ("b", 10.0)).toDF("g", "v")
    val range = Aggregates.customAggDouble("v", xs => xs.max - xs.min)
    val out = df.groupBy("g").agg(range.as("range")).orderBy("g").collect()
    assert(out(0).getDouble(1) == 1.0 && out(1).getDouble(1) == 0.0)
  }

  test("typed Aggregator is the scale-safe custom-agg path") {
    val out = Seq(1.0, 100.0).toDF("v")
      .agg(udaf(NestedHooksSpec.GeoMean).apply(col("v"))).collect()(0).getDouble(0)
    assert(math.abs(out - 10.0) < 1e-9)
  }

  test("transformValues hook applies per-column") {
    val df = Seq(("a", "b")).toDF("x", "y")
    val out = df.transformValues(c => upper(c), Seq("x")).collect()(0)
    assert(out.getString(0) == "A" && out.getString(1) == "b")
  }

  test("foreachChunk delivers rows in chunks") {
    val df = spark.range(25).toDF("i")
    var sizes = List.empty[Int]
    df.foreachChunk(10)(rows => sizes ::= rows.size)
    assert(sizes.sum == 25 && sizes.max <= 10)
  }

  test("schema coercion: types, defaults, non-nullable errors") {
    import graft.sources.SchemaCoercion
    import graft.sources.SchemaCoercion.ColSpec
    val df = Seq(
      ("$1,299.50", "yes", "50%", "2024-03-01", "7"),
      ("bogus", "n", "x", "notadate", ""))
      .toDF("price", "active", "disc", "day", "qty")
    val out = SchemaCoercion(df, Map(
      "price" -> ColSpec("currency"),
      "active" -> ColSpec("boolean"),
      "disc" -> ColSpec("percent"),
      "day" -> ColSpec("date"),
      "qty" -> ColSpec("integer", nullable = false, default = Some("0"))))
    val rows = out.df.collect()
    assert(rows(0).getDouble(0) == 1299.50)
    assert(rows(0).getBoolean(1))
    assert(rows(0).getDouble(2) == 0.5)
    assert(rows(0).getTimestamp(3).toString.startsWith("2024-03-01"))
    assert(rows(0).getLong(4) == 7L)
    assert(rows(1).isNullAt(0) && !rows(1).getBoolean(1) && rows(1).isNullAt(2))
    assert(rows(1).getLong(4) == 0L) // default applied
    // non-nullable WITHOUT default errors
    val strict = SchemaCoercion(df, Map("day" -> ColSpec("date", nullable = false)))
    val errs = strict.errors.collect()
    assert(errs.length == 1 && errs(0).getString(1) == "InvalidCast")
  }

  test("GraftSession.init exposes custom functions to SQL") {
    // a fresh session: nothing registered by earlier Column-helper calls
    val ns = spark.newSession()
    GraftSession.init(ns)
    val r = ns.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
      "vec_l2norm(array(3.0D, 4.0D)) AS n").collect()(0)
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0)
    // one call per kernel family
    def hex(b: Array[Byte]): String = b.map(x => f"$x%02X").mkString
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.01, 0.99, 1)
    cms.add("a")
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100)
    bloom.putString("a")
    val k = ns.sql(
      "SELECT size(minhash_array(array('a', 'b'), 4)) AS mh, " +
      "first_diff_pos('abc', 'abc') AS fd, " +
      s"cms_estimate(X'${hex(cms.toByteArray)}', 'a') AS cms, " +
      "bloom_contains(X'" +
      hex(graft.functions.SketchGate.serializeBloom(bloom)) + "', 'a') AS bf, " +
      "range_bucket(1, '1', 5, 3, 7) AS rb").collect()(0)
    assert(k.getInt(0) == 4 && k.isNullAt(1) && k.getLong(2) >= 1L &&
      k.getBoolean(3) && k.getInt(4) == 1)
    val agg = ns.sql(
      "SELECT vec_sum_agg(v, 2) AS s, gramian_agg(v, 2) AS g " +
      "FROM VALUES (array(1.0D, 2.0D)), (array(3.0D, 4.0D)) AS t(v)")
      .collect()(0)
    assert(agg.getSeq[Double](0) == Seq(2.0, 4.0, 6.0))
    assert(agg.getSeq[Double](1) == Seq(2.0, 4.0, 6.0, 10.0, 14.0, 20.0))
    assert(ns.catalog.functionExists("asof_marker"))
    assert(ns.experimental.extraStrategies
      .contains(graft.plans.AsOfJoin.AsOfJoinStrategy))
  }

  test("entry() flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("URL scan over file:// (driver fetch then buffer parse)") {
    val p = writeTmp("url.csv", "a,b\n1,2\n")
    val scan = graft.sources.CsvReader.readUrl(spark, s"file://$p")
    assert(scan.df.collect()(0).getString(0) == "1")
  }
}

object NestedHooksSpec {
  import org.apache.spark.sql.{Encoder, SparkSession}
  import org.apache.spark.sql.expressions.Aggregator

  /** standalone (serializable) geometric-mean Aggregator. */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double) = (b._1 + math.log(a), b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)) = (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)) = math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] =
      SparkSession.active.implicits.newProductEncoder
    def outputEncoder: Encoder[Double] =
      SparkSession.active.implicits.newDoubleEncoder
  }
}
