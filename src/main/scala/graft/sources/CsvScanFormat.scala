package graft.sources

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, FailureSafeParser}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{Metadata, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark's CSV file format with a byte-level line tokenizer in its reader
  * (the reference's single-pass scan kernel, parser.zig). Plans, splits,
  * pruning and filter pushdown are `CSVFileFormat`'s; only the per-line
  * parse changes.
  *
  * The reader walks each line's UTF-8 bytes once and writes the required
  * columns' `UTF8String`s straight into the row. A line the byte grammar
  * cannot settle goes to Spark's own `FailureSafeParser(UnivocityParser)`,
  * built from the same `CSVOptions`, so every row, null, empty-value
  * sentinel and `_corrupt_record` is Spark's. The kernel declines a line
  * on:
  *  - invalid UTF-8 (Spark decodes it with replacement characters);
  *  - a quote that does not start a field, or a closing quote not followed
  *    by the separator or the end of the line;
  *  - an unclosed quote;
  *  - a field count other than the data schema's width;
  *  - a leading NUL (univocity's default comment character), or a NUL
  *    inside a quoted field (univocity drops it).
  *
  * Option shapes outside the grammar keep `super.buildReader`: multiLine,
  * charsets other than UTF-8, a separator or quote that is not one ASCII
  * byte, an escape other than the quote, whitespace trimming, a custom
  * `lineSep`, Spark's own `comment`, a column cap or a schema that is not
  * all nullable plain strings.
  *
  * Line visibility is graft's, not Spark's: the reader drops empty lines
  * and lines starting with the [[CommentPrefix]] option (any length), and
  * under [[SkipEmptyLines]] `greedy` also lines of spaces only; a
  * whitespace-only line otherwise stays a record, as in the reference.
  * The file-start header skip uses the same rule. On `super.buildReader`
  * a one-character prefix becomes Spark's `comment`.
  */
class CsvScanFormat extends CSVFileFormat {

  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String], path: Path): Boolean =
    SQLConf.withExistingConf(sparkSession.sessionState.conf)(
      super.isSplitable(sparkSession, options, path))

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val graftOpts = CaseInsensitiveMap(options)
    val prefix = graftOpts.get(CsvScanFormat.CommentPrefix).filter(_.nonEmpty)
    val greedy = graftOpts.get(CsvScanFormat.SkipEmptyLines).contains("greedy")
    val sqlConf = sparkSession.sessionState.conf
    val parsed = CsvScanFormat.csvOptions(options, sqlConf)
    val corrupt = parsed.columnNameOfCorruptRecord
    def spark(opts: Map[String, String]) = SQLConf.withExistingConf(sqlConf)(
      super.buildReader(sparkSession, dataSchema, partitionSchema,
        requiredSchema, filters, opts, hadoopConf))
    // a scan of the corrupt-record column alone is Spark's error to raise
    if (requiredSchema.length == 1 && requiredSchema.head.name == corrupt)
      return spark(options)
    if (!CsvScanFormat.serves(parsed) || !CsvScanFormat.servesSchema(dataSchema, parsed))
      return spark(options ++ prefix.map("comment" -> _))
    ExprUtils.verifyColumnNameOfCorruptRecord(dataSchema, corrupt)
    val actualFilters = filters.filterNot(_.references.contains(corrupt))
    val actualDataSchema = StructType(dataSchema.filterNot(_.name == corrupt))
    val actualRequiredSchema = StructType(requiredSchema.filterNot(_.name == corrupt))
    val conf = sparkSession.sparkContext.broadcast(new SerializableWritable(hadoopConf))
    val filter = new LineFilter(prefix.map(_.getBytes(StandardCharsets.UTF_8)), greedy)
    // UnivocityParser.parse's own shortcut: no tokenizing, one empty row
    // per line
    val emptyRows = actualRequiredSchema.isEmpty &&
      parsed.isColumnPruningEnabled(actualRequiredSchema)
    // data column -> row position, matched as UnivocityParser matches them
    val ordinals = Array.fill(actualDataSchema.length)(-1)
    requiredSchema.zipWithIndex.foreach { case (f, o) =>
      val j = actualDataSchema.indexOf(f)
      if (j >= 0) ordinals(j) = o
    }
    (file: PartitionedFile) => {
      val parser = new UnivocityParser(actualDataSchema, actualRequiredSchema,
        parsed, actualFilters)
      val safe = new FailureSafeParser[String](parser.parse(_),
        parsed.parseMode, requiredSchema, corrupt)
      val headerChecker = new CSVHeaderChecker(
        if (parsed.isColumnPruningEnabled(actualRequiredSchema)) actualRequiredSchema
        else actualDataSchema,
        parsed, s"CSV file: ${file.urlEncodedPath}", file.start == 0)
      val lines = new HadoopFileLinesReader(file, None, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      val tokenizer = new CsvLineTokenizer(parsed.delimiter.charAt(0).toByte,
        parsed.quote.toByte, ordinals, requiredSchema.length,
        UTF8String.fromString(parsed.nullValue),
        UTF8String.fromString(parsed.emptyValueInRead))
      val body = if (parsed.headerFlag && file.start == 0) {
        val rest = lines.dropWhile(t => !filter.visible(t.getBytes, t.getLength))
        if (rest.hasNext) {
          val h = rest.next()
          headerChecker.checkHeaderColumnNames(
            new String(h.getBytes, 0, h.getLength, StandardCharsets.UTF_8))
        }
        rest
      } else lines
      new KernelRows(body, filter, tokenizer, emptyRows, safe)
    }
  }
}

object CsvScanFormat {

  /** Relation option: drop lines starting with this prefix (any length). */
  val CommentPrefix = "graft.commentPrefix"

  /** Relation option: `greedy` also drops lines of spaces only. */
  val SkipEmptyLines = "graft.skipEmptyLines"

  /** Spark's `CSVOptions` for a relation's options, as `CSVFileFormat`
    * builds them, but under `conf`: `CSVOptions` checks its charset
    * through `SQLConf.get`, and the relation's own session (which carries
    * [[CsvReader]]'s scan settings) must decide, not the session that runs
    * the query. `buildReader` and `isSplitable` run Spark's own builds
    * under the relation's session for the same reason. */
  private[sources] def csvOptions(options: Map[String, String],
      conf: SQLConf): CSVOptions =
    SQLConf.withExistingConf(conf)(new CSVOptions(options,
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord))

  private def asciiByte(c: Char): Boolean = c > 0 && c < 0x80

  /** Whether the byte tokenizer serves this option shape. */
  private[sources] def serves(o: CSVOptions): Boolean =
    !o.multiLine && Charset.forName(o.charset) == StandardCharsets.UTF_8 &&
      o.lineSeparator.isEmpty && o.delimiter.length == 1 &&
      asciiByte(o.delimiter.charAt(0)) && asciiByte(o.quote) &&
      o.delimiter.charAt(0) != o.quote && o.escape == o.quote &&
      o.charToEscapeQuoteEscaping.isEmpty && !o.isCommentSet &&
      !o.ignoreLeadingWhiteSpaceInRead && !o.ignoreTrailingWhiteSpaceInRead &&
      o.maxCharsPerColumn < 0 && o.singleVariantColumn.isEmpty

  /** Whether every data column is a nullable plain string the tokenizer
    * can write, within univocity's column cap. */
  private def servesSchema(schema: StructType, o: CSVOptions): Boolean =
    schema.length <= o.maxColumns && schema.forall(f =>
      f.dataType == StringType && f.nullable && f.metadata == Metadata.empty)
}

/** Which lines are records: not empty, not starting with `prefix`, and
  * under `greedy` not all spaces. */
private final class LineFilter(prefix: Option[Array[Byte]], greedy: Boolean)
    extends Serializable {
  def visible(b: Array[Byte], n: Int): Boolean =
    n > 0 && !prefix.exists(CsvLineTokenizer.startsWith(b, n, _)) &&
      !(greedy && CsvLineTokenizer.allSpaces(b, n))
}

/** Rows of the visible `lines`: the tokenizer's row when it settles the
  * line, else the fallback parser's rows for the decoded line. */
private final class KernelRows(lines: Iterator[Text], filter: LineFilter,
    tokenizer: CsvLineTokenizer, emptyRows: Boolean,
    fallback: FailureSafeParser[String]) extends Iterator[InternalRow] {

  private var pending: Iterator[InternalRow] = Iterator.empty
  private var nextRow: InternalRow = null

  override def hasNext: Boolean = {
    while (nextRow == null && (pending.hasNext || lines.hasNext)) {
      if (pending.hasNext) nextRow = pending.next()
      else {
        val t = lines.next()
        val b = t.getBytes
        val n = t.getLength
        if (filter.visible(b, n)) {
          if (emptyRows) nextRow = InternalRow.empty
          else if (tokenizer.tokenize(b, n)) nextRow = tokenizer.row
          else pending = fallback.parse(new String(b, 0, n, StandardCharsets.UTF_8))
        }
      }
    }
    nextRow != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException("end of CSV split")
    val r = nextRow
    nextRow = null
    r
  }
}

/** One line's RFC-4180 fields, on its UTF-8 bytes: `field (sep field)*`
  * where a field is unquoted bytes without separator or quote, or
  * `quote (byte | quote quote)* quote`. [[tokenize]] fills [[row]] and
  * returns true when the line is exactly `ordinals.length` such fields of
  * valid UTF-8, else false (the row is then garbage).
  *
  * Values follow univocity as Spark configures it: an unquoted empty
  * field is null, a quoted empty one is `emptyValue`, and a value equal to
  * `nullValue` is null. `ordinals(j)` is data column j's position in the
  * row, or -1 when it is not required.
  */
private[graft] final class CsvLineTokenizer(sep: Byte, quote: Byte,
    ordinals: Array[Int], rowWidth: Int, nullValue: UTF8String,
    emptyValue: UTF8String) {

  val row = new GenericInternalRow(rowWidth)
  private val width = ordinals.length

  private def put(field: Int, v: UTF8String): Unit = {
    val o = ordinals(field)
    if (o >= 0) row.update(o, if (v == null || v == nullValue) null else v)
  }

  def tokenize(b: Array[Byte], n: Int): Boolean = {
    if (n > 0 && b(0) == 0) return false
    var i = 0
    var field = 0
    var more = true
    while (more) {
      if (field == width) return false
      if (i < n && b(i) == quote) {
        val start = i + 1
        var pairs = 0
        i = start
        var closed = false
        while (!closed) {
          if (i >= n) return false
          val c = b(i)
          if (c == quote) {
            if (i + 1 < n && b(i + 1) == quote) { pairs += 1; i += 2 }
            else closed = true
          } else if (c > 0) i += 1
          else if (c == 0) return false
          else {
            val k = CsvLineTokenizer.utf8Length(b, i, n)
            if (k < 0) return false
            i += k
          }
        }
        val end = i
        i += 1
        if (i < n && b(i) != sep) return false
        if (ordinals(field) >= 0)
          put(field,
            if (end == start) emptyValue
            else if (pairs == 0) UTF8String.fromBytes(b, start, end - start)
            else CsvLineTokenizer.unescape(b, start, end, pairs, quote))
      } else {
        val start = i
        while (i < n && b(i) != sep) {
          val c = b(i)
          if (c == quote) return false
          if (c >= 0) i += 1
          else {
            val k = CsvLineTokenizer.utf8Length(b, i, n)
            if (k < 0) return false
            i += k
          }
        }
        if (ordinals(field) >= 0)
          put(field, if (i == start) null else UTF8String.fromBytes(b, start, i - start))
      }
      field += 1
      // here i is at a separator or at the end of the line
      if (i < n) i += 1 else more = false
    }
    field == width
  }
}

private[graft] object CsvLineTokenizer {

  @inline private def cont(b: Array[Byte], i: Int, n: Int, lo: Int, hi: Int): Boolean =
    i < n && { val v = b(i) & 0xff; v >= lo && v <= hi }

  /** Byte length of the well-formed UTF-8 sequence (Unicode Table 3-7) at
    * `i`, whose lead byte is not ASCII; -1 when ill-formed. */
  def utf8Length(b: Array[Byte], i: Int, n: Int): Int = {
    val lead = b(i) & 0xff
    if (lead < 0xc2) -1
    else if (lead < 0xe0) { if (cont(b, i + 1, n, 0x80, 0xbf)) 2 else -1 }
    else if (lead < 0xf0) {
      val lo = if (lead == 0xe0) 0xa0 else 0x80
      val hi = if (lead == 0xed) 0x9f else 0xbf
      if (cont(b, i + 1, n, lo, hi) && cont(b, i + 2, n, 0x80, 0xbf)) 3 else -1
    } else if (lead < 0xf5) {
      val lo = if (lead == 0xf0) 0x90 else 0x80
      val hi = if (lead == 0xf4) 0x8f else 0xbf
      if (cont(b, i + 1, n, lo, hi) && cont(b, i + 2, n, 0x80, 0xbf) &&
        cont(b, i + 3, n, 0x80, 0xbf)) 4 else -1
    } else -1
  }

  /** Bytes `start until end` with each doubled quote made one. */
  def unescape(b: Array[Byte], start: Int, end: Int, pairs: Int,
      quote: Byte): UTF8String = {
    val out = new Array[Byte](end - start - pairs)
    var i = start
    var o = 0
    while (i < end) {
      out(o) = b(i)
      o += 1
      i += (if (b(i) == quote) 2 else 1)
    }
    UTF8String.fromBytes(out)
  }

  def startsWith(b: Array[Byte], n: Int, prefix: Array[Byte]): Boolean =
    n >= prefix.length && {
      var k = 0
      while (k < prefix.length && b(k) == prefix(k)) k += 1
      k == prefix.length
    }

  def allSpaces(b: Array[Byte], n: Int): Boolean = {
    var k = 0
    while (k < n && b(k) == ' ') k += 1
    k == n
  }
}
