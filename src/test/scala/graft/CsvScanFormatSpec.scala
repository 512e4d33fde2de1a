package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CsvExprs
import graft.sources.{CsvLineTokenizer, CsvOptions, CsvReader, CsvScanFormat}

/** The byte tokenizer inside Spark's CSV file format
  * ([[graft.sources.CsvScanFormat]]) against a plain `spark.read.csv`
  * with the same options and schema, on generated files that span at
  * least 3 splits: quoted separators, doubled quotes, quotes inside
  * fields, unclosed quotes, ragged rows, invalid UTF-8, 3- and 4-byte
  * characters, NUL bytes, LF/CR/CRLF line ends, comment lines, blank
  * lines before the header and header-less files. Every line the
  * tokenizer declines is Spark's parser's, so each frame must match
  * row for row, `_corrupt_record` included.
  *
  * The generator writes no whitespace-only line: Spark's reader drops
  * those, graft keeps them as records (checked on their own below).
  */
class CsvScanFormatSpec extends SparkSpec {
  import CsvScanFormatSpec.Shape

  private val Corrupt = "_corrupt_record"
  private val Pruning = "spark.sql.csv.parser.columnPruning.enabled"
  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"

  private val fileShapes = Seq(
    Shape("LF, header, # comments", "\n", header = true, comments = true, ',', '"', 1),
    Shape("CRLF, header", "\r\n", header = true, comments = false, ',', '"', 2),
    Shape("CR, no header, # comments", "\r", header = false, comments = true, ',', '"', 3),
    Shape("LF, no header, ; and '", "\n", header = false, comments = false, ';', '\'', 4))

  private val width = 4

  /** One generated file of more than 2 split floors (3 splits on any
    * core count), as bytes. */
  private def generate(s: Shape): Array[Byte] = {
    val rnd = new Random(s.seed)
    val out = new ByteArrayOutputStream()
    def put(str: String): Unit = out.write(str.getBytes(UTF_8))
    val q = s.quote.toString
    val sep = s.sep.toString
    val words = Seq("a", "bc", "x y", "é", "東京", "😀", "7", "-1.5", "true",
      "FALSE", "#", "\u0000", " lead", "trail ", "\t")
    def word = words(rnd.nextInt(words.length))
    def text(n: Int) = Seq.fill(n)(word).mkString
    def field: String = rnd.nextInt(40) match {
      case 0 => ""
      case 1 => q + q
      case 2 | 3 => q + text(2) + sep + text(1) + q                // quoted sep
      case 4 | 5 => q + text(1) + q + q + text(1) + q + q + q      // doubled
      case 6 => text(1) + q + text(1)                              // mid quote
      case 7 => q + text(2)                                        // unclosed
      case 8 => q + text(1) + q + text(1)                          // junk after
      case _ => text(1 + rnd.nextInt(3))
    }
    val invalid = Seq(Array(0xff), Array(0xc0, 0x80), Array(0x80),
      Array(0xe2, 0x82), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80))
      .map(_.map(_.toByte))
    if (s.header) {
      put(s.eol * 2) // blank lines before the header
      if (s.comments) put("# a comment before the header" + s.eol)
      put(Seq("id", "name", "city", "note").mkString(sep) + s.eol)
    }
    // the first record is well-formed: a header-less file takes its width
    put((0 until width).map(k => s"r$k").mkString(sep) + s.eol)
    var i = 1
    while (out.size() < 2 * CsvReader.SplitFloorBytes + 300000) {
      rnd.nextInt(60) match {
        case 0 if s.comments => put("#" + text(3))
        case 1 => put(Seq.fill(width - 1)(field).mkString(sep))        // short
        case 2 => put(Seq.fill(width + 1)(field).mkString(sep))        // long
        case 3 => put(s"$i" + sep + field); out.write(invalid(rnd.nextInt(invalid.length)))
          put(sep + field + sep + field)
        case 4 => put("\u0000" + s"$i" + sep + Seq.fill(width - 1)(field).mkString(sep))
        case 5 => // an empty line
        case _ => put((s"$i" +: Seq.fill(width - 1)(field)).mkString(sep))
      }
      put(s.eol)
      i += 1
    }
    out.toByteArray
  }

  private def write(name: String, bytes: Array[Byte]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graftspec")
    SparkSpec.cleanupAtExit(dir.toFile)
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  private lazy val files: Map[Shape, String] = fileShapes.map { s =>
    val bytes = generate(s)
    // no whitespace-only line (Spark drops them; graft keeps them)
    val text = new String(bytes, UTF_8)
    assert(!text.split("\r\n|\r|\n").exists(l => l.nonEmpty && l.trim.isEmpty))
    s -> write(s"${s.seed}.csv", bytes)
  }.toMap

  private def csvOpts(s: Shape): CsvOptions =
    CsvOptions(delimiter = Some(s.sep.toString), quote = s.quote.toString,
      header = s.header, comments = if (s.comments) Some("#") else None)

  /** `CsvReader`'s Spark options for shape `s`, with Spark's one-char
    * `comment`. */
  private def sparkOpts(s: Shape): Map[String, String] = Map(
    "sep" -> s.sep.toString, "quote" -> s.quote.toString,
    "escape" -> s.quote.toString, "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> Corrupt, "nullValue" -> "",
    "emptyValue" -> "\u0000", "header" -> s.header.toString) ++
    (if (s.comments) Map("comment" -> "#") else Map.empty)

  private def schemaOf(headers: Seq[String]) = StructType(
    headers.map(StructField(_, StringType)) :+ StructField(Corrupt, StringType))

  private def plain(s: Shape, headers: Seq[String]): DataFrame =
    spark.read.options(sparkOpts(s)).schema(schemaOf(headers)).csv(files(s))

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }.get

  /** `df`'s relation bound to the byte tokenizer, graft's comment option
    * in place of Spark's. */
  private def kernel(df: DataFrame, s: Shape): DataFrame = {
    val rel = relationOf(df)
    val opts = rel.options.filter(_._1 != "comment") ++
      (if (s.comments) Map(CsvScanFormat.CommentPrefix -> "#") else Map.empty)
    spark.baseRelationToDataFrame(
      rel.copy(fileFormat = new CsvScanFormat, options = opts)(spark))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Equal row multisets; on failure, the first rows only one side has. */
  private def assertRows(ours: Seq[String], theirs: Seq[String], clue: Any): Unit =
    if (ours != theirs)
      fail(s"$clue: ${ours.size} vs ${theirs.size} rows; only ours " +
        s"${ours.diff(theirs).take(5)}, only theirs ${theirs.diff(ours).take(5)}")

  /** CsvReader's post-processing of the parse: the quoted-empty sentinel
    * back to "", the corrupt-record column dropped. */
  private def finished(df: DataFrame, headers: Seq[String]): DataFrame =
    df.select(headers.map(h =>
      when(col(s"`$h`") === "\u0000", lit("")).otherwise(col(s"`$h`")).as(h)): _*)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  for (s <- fileShapes) test(s"tokenizer frames equal Spark's parser's: ${s.name}") {
    val path = files(s)
    val headers = CsvReader.read(spark, path, csvOpts(s)).headers
    assert(headers.length == width)
    for (on <- Seq(true, false)) withConf(Pruning -> on.toString,
        MaxPartitionBytes -> CsvReader.SplitFloorBytes.toString) {
      val spark0 = plain(s, headers)
      val ours = kernel(spark0, s)
      assert(relationOf(ours).fileFormat.isInstanceOf[CsvScanFormat])
      assert(ours.rdd.getNumPartitions >= 3)
      val all = rows(ours)
      assertRows(all, rows(spark0), s"select(*), pruning $on")
      assert(all.exists(_.contains("�")) && all.exists(_.contains("😀")))
      assert(all.exists(r => !r.endsWith(",null]")), "a _corrupt_record")
      assertRows(rows(ours.select(headers(2))), rows(spark0.select(headers(2))),
        s"one column, pruning $on")
      assert(ours.count() == spark0.count(), s"count(), pruning $on")
    }
  }

  for (s <- fileShapes) test(s"CsvReader shapes equal Spark's parser's: ${s.name}") {
    val path = files(s)
    val opts = csvOpts(s)
    val headers = CsvReader.read(spark, path, opts).headers
    val expected = finished(plain(s, headers), headers)
    for (on <- Seq(true, false)) withConf(Pruning -> on.toString) {
      val scan = CsvReader.read(spark, path, opts)
      assert(scan.df.rdd.getNumPartitions >= 3)
      assertRows(rows(scan.df), rows(expected), s"default, pruning $on")
      assert(rows(scan.df.select(headers(1))) == rows(expected.select(headers(1))))
      assert(scan.df.count() == expected.count())

      // strict: a row stays when the parser found it well-formed or its
      // raw record has the header's field count
      val strict = CsvReader.read(spark, path, opts.copy(skipRecordsWithError = true))
      val raw = plain(s, headers)
      val fc = CsvExprs.fieldCount(CsvExprs.csv_line_check(spark, col(Corrupt),
        s.sep.toString, s.quote.toString))
      val kept = finished(raw.filter(col(Corrupt).isNull || fc === width), headers)
      val keptRows = rows(kept)
      assertRows(rows(strict.df), keptRows, s"strict, pruning $on")
      assert(strict.df.count() == keptRows.size)

      val typed = CsvReader.read(spark, path, opts.copy(dynamicTyping = true))
      assertRows(rows(typed.df), rows(inferred(expected, headers)), s"typed, pruning $on")
    }
  }

  /** `df` with the dynamicTyping casts, inferred by one aggregate. */
  private def inferred(df: DataFrame, headers: Seq[String]): DataFrame = {
    val aggs = headers.map(h => bit_or(CsvExprs.csv_cell_class(spark, col(h))))
    val flags = df.agg(aggs.head, aggs.tail: _*).head()
    df.select(headers.zipWithIndex.map { case (h, i) =>
      val bits = if (flags.isNullAt(i)) 0 else flags.getInt(i)
      def has(bit: Int) = (bits & bit) != 0
      val nz: Column = when(col(h) === "", lit(null)).otherwise(col(h))
      if (has(CsvExprs.Present) && !has(CsvExprs.NotBoolean)) nz.cast(BooleanType).as(h)
      else if (has(CsvExprs.Present) && !has(CsvExprs.NotNumeric)) nz.cast(DoubleType).as(h)
      else col(h)
    }: _*)
  }

  private def formatOf(df: DataFrame) = relationOf(df).fileFormat

  /** Physical lines of `b` (LF, CR or CRLF ends), as byte arrays. */
  private def byteLines(b: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var start = 0
    var i = 0
    while (i < b.length) {
      if (b(i) == '\n' || b(i) == '\r') {
        out += java.util.Arrays.copyOfRange(b, start, i)
        if (b(i) == '\r' && i + 1 < b.length && b(i + 1) == '\n') i += 1
        start = i + 1
      }
      i += 1
    }
    if (start < b.length) out += java.util.Arrays.copyOfRange(b, start, b.length)
    out.result()
  }

  test("the tokenizer settles most generated lines, each as univocity " +
      "parses it") {
    val schema = StructType((0 until width).map(i => StructField(s"c$i", StringType)))
    for (s <- fileShapes) {
      val o = new CSVOptions(sparkOpts(s) - "comment", false, "UTC")
      val parser = new UnivocityParser(schema, schema, o, Seq.empty)
      val tokenizer = new CsvLineTokenizer(s.sep.toByte, s.quote.toByte,
        (0 until width).toArray, width, UTF8String.fromString(o.nullValue),
        UTF8String.fromString(o.emptyValueInRead))
      val lines = byteLines(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(files(s)))).filter(l => l.nonEmpty && l(0) != '#')
      var settled = 0
      for (l <- lines if tokenizer.tokenize(l, l.length)) {
        settled += 1
        val want = parser.parse(new String(l, UTF_8)).get
        for (i <- 0 until width)
          assert(tokenizer.row.getUTF8String(i) == want.getUTF8String(i),
            s"${s.name}: field $i of ${new String(l, UTF_8)}")
      }
      assert(settled > lines.length * 6 / 10, s"${s.name}: $settled of ${lines.length}")
    }
  }

  test("every file-path shape reads through CsvScanFormat, also above " +
      "cores × maxPartitionBytes") {
    val path = files(fileShapes.head)
    val shapes = Seq(CsvOptions(), CsvOptions(dynamicTyping = true),
      CsvOptions(skipRecordsWithError = true)).map(_.copy(comments = Some("#")))
    for (opts <- shapes)
      assert(formatOf(CsvReader.read(spark, path, opts).df).isInstanceOf[CsvScanFormat])
    withConf(MaxPartitionBytes -> (256 * 1024).toString) {
      assert(new java.io.File(path).length() >
        spark.sparkContext.defaultParallelism * 256L * 1024)
      for (opts <- shapes) {
        val df = CsvReader.read(spark, path, opts).df
        assert(formatOf(df).isInstanceOf[CsvScanFormat])
        assert(df.rdd.getNumPartitions > spark.sparkContext.defaultParallelism)
      }
    }
  }

  private def sameRows(file: CsvReader.CsvScan, buffer: CsvReader.CsvScan) = {
    assert(file.df.schema == buffer.df.schema)
    assert(rows(file.df) == rows(buffer.df))
  }

  test("a whitespace-only line is a one-field record, as in readString") {
    val content = "a,b\n1,2\n   \n3,4\n"
    val f = writeTmp("ws.csv", content)
    val strict = CsvOptions(skipRecordsWithError = true)
    for (opts <- Seq(CsvOptions(), CsvOptions(dynamicTyping = true), strict,
        strict.copy(relaxColumnCountLess = true)))
      sameRows(CsvReader.read(spark, f, opts), CsvReader.readString(spark, content, opts))
    assert(rows(CsvReader.read(spark, f).df) == Seq("[   ,null]", "[1,2]", "[3,4]"))
    val errors = CsvReader.read(spark, f).errors.collect()
    assert(errors.map(_.getString(1)).toSeq == Seq("TooFewFields"))
  }

  test("a multi-character comment prefix reads on the file path in the " +
      "default, typed and strict shapes") {
    val content = "a,b\n// note, 1\n1,true\n//\n2,false\n3\n//x,y,z\n"
    val f = writeTmp("slash.csv", content)
    for (opts <- Seq(CsvOptions(), CsvOptions(dynamicTyping = true),
        CsvOptions(skipRecordsWithError = true))) {
      val o = opts.copy(comments = Some("//"))
      val scan = CsvReader.read(spark, f, o)
      assert(formatOf(scan.df).isInstanceOf[CsvScanFormat])
      sameRows(scan, CsvReader.readString(spark, content, o))
    }
  }

  test("a multi-character comment prefix outside the tokenizer's shapes " +
      "reads on the line path") {
    val content = "a;b\n// note\n1;2\n3;4\n"
    val f = writeTmp("trim.csv", content)
    val o = CsvOptions(delimiter = Some(";"), comments = Some("//"),
      trimWhitespace = true)
    sameRows(CsvReader.read(spark, f, o), CsvReader.readString(spark, content, o))
  }

  test("greedy skipEmptyLines drops lines of spaces on the file path") {
    val content = "a,b\n1,2\n   \n3,4\n"
    val f = writeTmp("greedy.csv", content)
    val o = CsvOptions(skipEmptyLines = "greedy")
    sameRows(CsvReader.read(spark, f, o), CsvReader.readString(spark, content, o))
    assert(CsvReader.read(spark, f, o).errors.count() == 0)
  }

  test("declined lines and option shapes outside the grammar keep Spark's " +
      "parser") {
    val lines = Seq("1,\"a\"b", "2,a\"b", "3,\"open", "4", "5,x,y",
      "\u00006,x", "7,\"\",", "8,\"q\"\"\"", "9,é😀")
    val content = ("id,v" +: lines).mkString("\n") + "\n"
    val f = writeTmp("declined.csv", content)
    def read(opts: Map[String, String]) = {
      val base = spark.read.options(opts).option("header", "true")
        .schema(schemaOf(Seq("id", "v"))).csv(f)
      (rows(kernel(base, fileShapes(1))), rows(base))
    }
    val rfc = sparkOpts(fileShapes(1)) - "header"
    for (opts <- Seq(rfc, rfc + ("escape" -> "\\"), rfc + ("multiLine" -> "true"),
        rfc + ("ignoreLeadingWhiteSpace" -> "true"), rfc + ("lineSep" -> "\n"),
        rfc + ("encoding" -> "ISO-8859-1"))) {
      val (ours, theirs) = read(opts)
      assert(ours == theirs, opts)
    }
  }
}

object CsvScanFormatSpec {
  private final case class Shape(name: String, eol: String, header: Boolean,
      comments: Boolean, sep: Char, quote: Char, seed: Long)
}
