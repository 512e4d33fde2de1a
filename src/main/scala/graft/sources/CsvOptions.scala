package graft.sources

/** Scan options mirroring the reference's PapaParse-compatible option
  * surface (reference: src/ts/parser.ts:40-230). Names are the reference's;
  * the Spark lowering is in [[CsvReader]].
  */
final case class CsvOptions(
    /** None → auto-detect over [[delimitersToGuess]] (reference detect.zig). */
    delimiter: Option[String] = Some(","),
    /** candidate delimiters for auto-detection (reference
      * `delimitersToGuess`, parser.ts:62-63). */
    delimitersToGuess: Seq[Char] = CsvLineParser.DefaultDelimiterCandidates,
    quote: String = "\"",
    /** escape char; None → same as quote (RFC-4180 doubled quotes) —
      * reference parser.ts:287-293. */
    escape: Option[String] = None,
    header: Boolean = true,
    /** rename duplicate headers name, name_1, name_2… (parser.ts:530-552);
      * false → error. */
    renameDuplicateHeaders: Boolean = true,
    transformHeader: Option[(String, Int) => String] = None,
    /** per-value type inference → engine-level schema inference
      * (row.ts:442-458). */
    dynamicTyping: Boolean = false,
    /** per-column opt-in form (reference record/predicate variants,
      * row.ts:423-436): None → all columns when dynamicTyping is set. */
    dynamicTypingCols: Option[Set[String]] = None,
    /** predicate form of dynamicTyping (reference
      * `typeof this.dynamicTyping === "function"`, row.ts:423-436):
      * decides per header name; takes precedence over dynamicTypingCols. */
    dynamicTypingPred: Option[String => Boolean] = None,
    /** per-column cast hook applied AFTER dynamicTyping (reference
      * CastConfig record form, row.ts:59-70) — Column-transform per
      * header, codegen-friendly (no UDF). */
    castFns: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Map.empty,
    comments: Option[String] = None,
    /** stop after N data rows, header excluded (parser.zig:345-353). */
    preview: Int = 0,
    /** advance past N raw lines before parsing (parser.zig:277-285). */
    skipFirstNLines: Int = 0,
    /** "false" | "true" (skip zero-length) | "greedy" (also whitespace-only)
      * — parser.ts:72-73,1308-1316. */
    skipEmptyLines: String = "true",
    trimWhitespace: Boolean = false,
    ltrim: Boolean = false,
    rtrim: Boolean = false,
    /** 1-based inclusive data-row window (parser.ts:170-181). */
    fromLine: Int = 0,
    toLine: Int = 0,
    /** error (or skip) rows above this byte budget (parser.ts:130-135). */
    maxRecordSize: Int = 0,
    /** short rows → missing fields null (parser.ts:142-147). */
    relaxColumnCountLess: Boolean = false,
    /** long rows → extras into __parsed_extra (row.ts:516-523). */
    relaxColumnCountMore: Boolean = false,
    /** drop malformed rows, still report errors (parser.ts:119-124). */
    skipRecordsWithError: Boolean = false,
    /** quoted fields may contain newlines — delegates to the file-scan path
      * (Spark multiLine). */
    multiLine: Boolean = false,
    /** charset for the file-scan path; None + detectEncoding=true →
      * heuristic detection (iconv.zig BOM + UTF-8-validity rules). */
    encoding: Option[String] = None,
    detectEncoding: Boolean = false,
    /** no quote machinery, naive split (parser.ts:1332-1475). */
    fastMode: Boolean = false,
    /** raw-content pre-pass before parsing (reference beforeFirstChunk,
      * parser.ts:209,350-415): receives the WHOLE input as one string and
      * may return replacement content (None → unchanged). Driver-side by
      * contract — the reference likewise buffers the full input to run this
      * hook; at scale prefer a distributed transform after the scan. */
    beforeFirstChunk: Option[String => Option[String]] = None,
    /** per-record transform/drop hook (reference onRecord, parser.ts:216):
      * (fields, index, columns) → Some(replacement fields) | None to skip
      * the record. Runs DISTRIBUTED over the string frame before
      * dynamicTyping (the reference applies it to raw string records);
      * the function must be serializable. */
    onRecord: Option[(Seq[String], Long, Seq[String]) => Option[Seq[String]]] =
      None) {
  def relaxBoth: CsvOptions =
    copy(relaxColumnCountLess = true, relaxColumnCountMore = true)
}

/** Structured error model (reference src/ts/errors.ts:6-37). */
final case class CsvError(
    errType: String, // Quotes | Delimiter | FieldMismatch | RecordSize | ...
    code: String,    // TooFewFields | TooManyFields | MaxRecordSize | ...
    message: String,
    row: Option[Long])

object CsvErrorCodes {
  val TooFewFields = "TooFewFields"
  val TooManyFields = "TooManyFields"
  val MaxRecordSize = "MaxRecordSize"
  val UndetectableDelimiter = "UndetectableDelimiter"
  val InvalidQuotes = "InvalidQuotes"
  val DuplicateHeader = "DuplicateHeader"
  val InvalidOption = "InvalidOption"
}

/** Driver-side single-record RFC-4180 parsing + delimiter/encoding
  * detection. Used ONLY for header rows and 8 KB detection samples — never
  * on data paths (those go through Spark's CSV parser).
  */
object CsvLineParser {

  /** the reference's delimitersToGuess default (parser.ts:62-63) — the
    * single source for both CsvOptions and detectDelimiter. */
  val DefaultDelimiterCandidates: Seq[Char] = Seq(',', '\t', '|', ';')

  /** Encoding detection on a byte sample (reference src/zig/iconv.zig:
    * 42-74,150-221): BOM sniff for UTF-8/16/32, else UTF-8 validity check
    * with windows-1252 fallback.
    */
  def detectEncoding(bytes: Array[Byte]): String = {
    def b(i: Int): Int = bytes(i) & 0xff
    if (bytes.length >= 3 && b(0) == 0xef && b(1) == 0xbb && b(2) == 0xbf) "UTF-8"
    else if (bytes.length >= 4 && b(0) == 0xff && b(1) == 0xfe && b(2) == 0 && b(3) == 0) "UTF-32LE"
    else if (bytes.length >= 4 && b(0) == 0 && b(1) == 0 && b(2) == 0xfe && b(3) == 0xff) "UTF-32BE"
    else if (bytes.length >= 2 && b(0) == 0xff && b(1) == 0xfe) "UTF-16LE"
    else if (bytes.length >= 2 && b(0) == 0xfe && b(1) == 0xff) "UTF-16BE"
    else {
      // no BOM: strict UTF-8 validation; malformed → windows-1252
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try { dec.decode(java.nio.ByteBuffer.wrap(bytes)); "UTF-8" }
      catch { case _: java.nio.charset.CharacterCodingException => "windows-1252" }
    }
  }

  /** Detect the encoding of a local file from its first 8 KB. */
  def detectFileEncoding(path: String): String = {
    val in = new java.io.FileInputStream(path)
    try detectEncoding(in.readNBytes(8192)) finally in.close()
  }

  /** Parse one CSV record (no embedded newlines) into fields; `sep` may be
    * longer than one character. */
  def parseLine(line: String, sep: String, quote: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == quote) {
          if (i + 1 < line.length && line.charAt(i + 1) == quote) {
            cur.append(quote); i += 1
          } else inQ = false
        } else cur.append(c)
      } else {
        if (c == quote && cur.isEmpty) inQ = true
        else if (line.startsWith(sep, i)) {
          out += cur.result(); cur.clear(); i += sep.length - 1
        }
        else cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.toArray
  }

  /** Delimiter detection: score candidates by avg field count ×
    * row-consistency over up to 10 sample rows (reference
    * src/zig/detect.zig:32-144 scoring shape).
    */
  def detectDelimiter(sample: Seq[String], quote: Char = '"',
      candidates: Seq[Char] = DefaultDelimiterCandidates): Option[Char] = {
    val rows = sample.filter(_.nonEmpty).take(10)
    if (rows.isEmpty) return None
    val scored = candidates.map { c =>
      val counts = rows.map(r => parseLine(r, c.toString, quote).length)
      val avg = counts.sum.toDouble / counts.length
      val mode = counts.groupBy(identity).maxBy(_._2.length)._1
      val consistency = counts.count(_ == mode).toDouble / counts.length
      val score = if (mode <= 1) 0.0 else avg * consistency
      c -> score
    }
    val (best, bestScore) = scored.maxBy(_._2)
    if (bestScore > 0.0) Some(best) else None
  }

  /** Detect the linebreak of a text sample (reference meta.linebreak,
    * parser.ts:222-230): first of CRLF / CR / LF found; LF default.
    */
  def detectLinebreak(sample: String): String =
    if (sample.contains("\r\n")) "\r\n"
    else if (sample.contains("\r")) "\r"
    else "\n"

  /** Duplicate-header rename: name, name_1, name_2… (parser.ts:530-552). */
  def dedupeHeaders(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { n =>
      val base = if (n == null || n.isEmpty) null else n
      val name = if (base == null) null else base
      if (name == null) null
      else seen.get(name) match {
        case None => seen(name) = 0; name
        case Some(k) =>
          var i = k + 1
          var cand = s"${name}_$i"
          while (seen.contains(cand)) { i += 1; cand = s"${name}_$i" }
          seen(name) = i
          seen(cand) = 0
          cand
      }
    }
  }
}
