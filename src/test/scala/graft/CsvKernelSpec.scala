package graft

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.CsvExprs

/** The CSV byte-loop kernels against the Column formulas they replaced
  * (kept here as the oracle): `csv_line_check` vs the regex field count
  * and quote check, `csv_cell_class` vs `lower(v).isin` / `v.rlike`, on
  * generated lines and cells — through generated code (an RDD-backed
  * frame) and interpreted (a local relation, folded by the optimizer).
  */
class CsvKernelSpec extends SparkSpec {

  // raw-scalacheck harness (scalatestplus bridge not in the offline
  // cache): deterministic seeded samples
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  import spark.implicits._

  private def oracleFieldCount(line: Column, sep: String, quote: String): Column = {
    val q = Pattern.quote(quote)
    val s = Pattern.quote(sep)
    size(split(regexp_replace(line, s"$q(?:[^$q]|$q$q)*$q", ""), s, -1))
  }

  private def oracleBadQuote(line: Column, sep: String, quote: String): Column = {
    val q = Pattern.quote(quote)
    val s = Pattern.quote(sep)
    val cnt = length(line) - length(regexp_replace(line, q, ""))
    cnt % 2 === 1 && line.rlike(s"(^|$s)$q")
  }

  private val numRe = "^-?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  private def oracleCellClass(v: Column): Column = {
    val present = v.isNotNull && v =!= ""
    when(present, CsvExprs.Present).otherwise(0) +
      when(present && !lower(v).isin("true", "false"), CsvExprs.NotBoolean)
        .otherwise(0) +
      when(present && !v.rlike(numRe), CsvExprs.NotNumeric).otherwise(0)
  }

  /** `values` as a one-column frame: local (interpreted) or RDD-backed
    * (generated code). */
  private def frame(values: Seq[String], codegen: Boolean): DataFrame =
    if (codegen) spark.sparkContext.parallelize(values, 2).toDF("v")
    else values.toDF("v")

  private def mismatches(df: DataFrame, got: Column, want: Column) =
    df.select(col("v"), got.as("got"), want.as("want"))
      .filter(!(col("got") <=> col("want"))).collect()

  private val lineAtoms = Gen.frequency(
    6 -> Gen.oneOf("\"", "\"\"", ",", ";", "§", "'"),
    4 -> Gen.oneOf("a", "bc", "é", "東京", "😀", " ", "1", ".", "e", "+", "-",
      "TRUE", "fAlSe"),
    1 -> Gen.oneOf("\r", "\n", "\u2028", "\r\n"))
  private val lineGen: Gen[String] =
    Gen.choose(0, 24).flatMap(Gen.listOfN(_, lineAtoms)).map(_.mkString)

  private val seps = Seq(",", ";", ";;", ",;", "§")
  private val quotes = Seq("\"", "'")

  test("csv_line_check equals the regex field count and quote check") {
    val lines = samples(lineGen, 1500) ++ Seq("", "\"", "\"\"", "\"\"\"",
      "a,\"b", "\"a\"\"b", "\"a\"\"b\"\"c,d", "x;\"y;\"z", "a;\"q\";b",
      ",\"", "\"a\",\"b\",\"c")
    for (codegen <- Seq(true, false); sep <- seps; quote <- quotes) {
      val df = frame(lines, codegen)
      val k = CsvExprs.csv_line_check(spark, col("v"), sep, quote)
      val fc = mismatches(df, CsvExprs.fieldCount(k),
        oracleFieldCount(col("v"), sep, quote))
      assert(fc.isEmpty, s"field count, sep '$sep' quote '$quote' " +
        s"codegen $codegen: ${fc.take(5).toSeq}")
      val bad = mismatches(df, CsvExprs.badQuote(k),
        oracleBadQuote(col("v"), sep, quote))
      assert(bad.isEmpty, s"quote check, sep '$sep' quote '$quote' " +
        s"codegen $codegen: ${bad.take(5).toSeq}")
    }
  }

  private val cellAtoms = Gen.frequency(
    8 -> Gen.oneOf("0", "7", "42", ".", "-", "+", "e", "E"),
    3 -> Gen.oneOf("TRUE", "fAlSe", "true", "t", "rue", "x", " "),
    2 -> Gen.oneOf("\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029",
      "\u00e9", "\u0130", "\u212A", "\u0663", "\u6771"))
  private val cellGen: Gen[String] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, cellAtoms)).map(_.mkString)

  test("csv_cell_class equals the lower/isin and rlike classification") {
    val cells = samples(cellGen, 3000) ++ Seq(null, "", "1", "-1.5e+10",
      ".5", "1.", "-", "1e", "1\n", "1\r\n", "1\n\n", "1\r\r", "1\u0085",
      "1\u2028\n", "TRUE", "False", "true\n",
      "\uFF34\uFF32\uFF35\uFF25", "\u0130rue", "-.5E-3", "\u212Aalse")
    for (codegen <- Seq(true, false)) {
      val df = frame(cells, codegen)
      val bad = mismatches(df, CsvExprs.csv_cell_class(spark, col("v")),
        oracleCellClass(col("v")))
      assert(bad.isEmpty, s"codegen $codegen: ${bad.take(5).toSeq}")
    }
  }
}
