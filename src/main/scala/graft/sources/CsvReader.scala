package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.functions.CsvExprs

/** CSV scan with the reference's semantics (SURVEY.md §2.1-§2.2), lowered
  * Spark-first.
  *
  * Two physical paths, chosen per options:
  *
  *  - FILE path (default): `spark.read.csv` — parallel file splits,
  *    predicate/column pushdown, limit handling. Used whenever no
  *    line-number-dependent option is set. This is the 100 TB path: the
  *    scan parallelizes like any Spark file source. Its relation is bound
  *    to [[CsvScanFormat]], Spark's CSV format with a byte-level line
  *    tokenizer (the reference's scan kernel, parser.zig): each line's
  *    UTF-8 bytes are walked once into the row, and a line the tokenizer
  *    cannot settle (a malformed quote, a ragged row, invalid UTF-8) falls
  *    back, on its own, to Spark's `FailureSafeParser(UnivocityParser)`.
  *    Comment lines (any prefix length) and empty lines are dropped there
  *    on bytes; a whitespace-only line stays a record. Every file
  *    scan planned here (this parse, the line path's text scan and the
  *    `errors` scan) is cut into splits sized per read — see
  *    [[splitBytes]] — so an input smaller than cores × the session's
  *    `maxPartitionBytes` still spreads over every core (the reference's
  *    size-based thread autotune, parser.zig:1504-1514). The caller's
  *    session is left exactly as found: the derived split settings live
  *    on a private session the scan's relation is bound to, and the
  *    returned frames still belong to the caller's session.
  *    The strict shape (`skipRecordsWithError` alone) reads here too: a
  *    row is kept when the parser found it well-formed, or when the
  *    quote-aware field count of its raw record passes the header-width
  *    rule; its `errors` frame is the line path's, built on first access.
  *  - LINE path: `spark.read.text` + zipWithIndex + `from_csv`, for
  *    order-dependent options (skipFirstNLines / fromLine / toLine /
  *    maxRecordSize / fastMode / relaxColumnCountMore, and strict reads
  *    combined with any of them or a non-default skipEmptyLines), and for
  *    a multi-character comment prefix in an option shape the tokenizer
  *    does not serve.
  *    Line order is made explicit with a contiguous index; parsing still
  *    distributes, only the tiny header/detection reads touch the driver.
  *
  * Per-line and per-cell checks (field counts, quote validity, type
  * inference) are byte-loop kernels ([[graft.functions.CsvExprs]]), and
  * each `errors` frame is planned only when first asked for, so `read`
  * itself starts no job beyond dynamicTyping's inference.
  *
  * Reference semantic parity handled here:
  *  - unquoted empty → null, quoted "" → empty string (row.ts:318-322)
  *  - escape char defaults to the QUOTE char (RFC-4180 doubled quotes),
  *    not Spark's backslash default (parser.ts:287-293)
  *  - duplicate headers renamed name, name_1, … (parser.ts:530-552)
  *  - missing headers → col0..colN (row.ts:524-528)
  *  - relaxColumnCountLess/More, __parsed_extra (row.ts:507-523)
  *  - delimiter auto-detect on an 8 KB driver-side sample (detect.zig)
  *  - dynamicTyping → per-column inference with the reference's value
  *    rules (row.ts:442-458)
  */
object CsvReader {

  /** Parse metadata (reference ParseMeta / CSVMeta, parser.ts:39-45,
    * 222-230): the delimiter actually used (detected or given), the
    * linebreak found in the data, whether a preview/toLine limit may have
    * truncated output, and the resolved header fields. `aborted` is false
    * for batch scans — the step API ([[graft.operators.Ops]] `stepRows`)
    * reports aborted consumption in its own result.
    */
  final case class CsvMeta(
      delimiter: String = ",",
      linebreak: String = "\n",
      aborted: Boolean = false,
      truncated: Boolean = false,
      fields: Seq[String] = Nil)

  /** Scan statistics (reference CSVStats, types.ts:34-42). Rows and
    * errors are computed from the scan's frames on demand; the
    * bytes/throughput members of the native parser's readout are engine
    * internals here (Spark task metrics own them) and are not replicated.
    */
  final case class CsvStats(rowsEmitted: Long, errorCount: Long)

  /** Source-file identity captured when a file scan is opened
    * (reference `checkFileModified`, src/zig/parser.zig:407-414: the
    * stat's mtime + size vs the values captured at open). JVM mtime
    * resolution is filesystem-dependent (often millis) vs the
    * reference's nanos — same contract, coarser tick, which the size
    * comparison usually covers.
    */
  final case class FileSnapshot(path: String, mtimeMillis: Long,
      size: Long)

  object FileSnapshot {
    /** Single local files only (the reference's file handle is one fd):
      * a directory/glob/non-local input returns None, so its scan has no
      * file handle and `fileModified` stays false — track a changing
      * DIRECTORY with the structured-streaming file source, whose whole
      * contract is new-file discovery.
      */
    def capture(path: String): Option[FileSnapshot] = {
      val f = new java.io.File(path)
      if (f.isFile) Some(FileSnapshot(path, f.lastModified(), f.length()))
      else None
    }
  }

  /** A scan result: the data frame, the error frame (errType, code,
    * message, row) — built by `mkErrors` on first access of `errors` —
    * the resolved header names, and the parse metadata.
    */
  final case class CsvScan(df: DataFrame, mkErrors: () => DataFrame,
      headers: Seq[String], meta: CsvMeta = CsvMeta(),
      source: Option[FileSnapshot] = None) {
    lazy val errors: DataFrame = mkErrors()

    /** Count rows + errors (two actions — call after the scan is set up,
      * like the reference reads `parser.stats` after iterating). NOTE:
      * `errorCount` covers the WHOLE input — under preview/toLine
      * truncation it is a superset of the reference's readout, which
      * stops counting where parsing stopped.
      */
    def stats(): CsvStats = CsvStats(df.count(), errors.count())

    /** Reference parser.zig:407-414 `checkFileModified`: true when the
      * source file's mtime or size changed since the scan was opened —
      * or the file can no longer be statted (the reference also returns
      * true on stat failure); always false for buffer/stream scans (no
      * file handle). Spark scans are LAZY — they re-read the file on
      * every action — so a true here means later actions may see
      * different data than already-consumed ones: re-run `read` (or use
      * the structured-streaming file source, which tails changes as a
      * first-class contract).
      */
    def fileModified: Boolean = source.exists { s =>
      val f = new java.io.File(s.path)
      !f.isFile || f.lastModified() != s.mtimeMillis || f.length() != s.size
    }
  }

  private val Corrupt = "_corrupt_record"
  private val LineNo = "__lineno"

  def read(spark: SparkSession, path: String, opts0: CsvOptions = CsvOptions()): CsvScan = {
    // stat the source at open (reference parser.zig captures mtime/size
    // when the file handle is acquired) so fileModified has a baseline
    val snap = FileSnapshot.capture(stripScheme(path))
    readImpl(spark, path, opts0).copy(source = snap)
  }

  private def readImpl(spark: SparkSession, path: String,
      opts0: CsvOptions): CsvScan = {
    // beforeFirstChunk re-inits from the (possibly modified) buffer, exactly
    // like the reference (parser.ts:350-360): whole content in, re-parse.
    if (opts0.beforeFirstChunk.isDefined)
      return readWithPrePass(spark, path, opts0)
    val opts =
      if (opts0.detectEncoding && opts0.encoding.isEmpty)
        opts0.copy(encoding =
          Some(CsvLineParser.detectFileEncoding(stripScheme(path))))
      else opts0
    val linePathOpts = Seq(
      "skipFirstNLines" -> (opts.skipFirstNLines > 0),
      "fromLine" -> (opts.fromLine > 0),
      "toLine" -> (opts.toLine > 0),
      "maxRecordSize" -> (opts.maxRecordSize > 0),
      "fastMode" -> opts.fastMode,
      "relaxColumnCountMore" -> opts.relaxColumnCountMore,
      "skipRecordsWithError" -> opts.skipRecordsWithError)
      .collect { case (name, true) => name }
    if (opts.multiLine && linePathOpts.nonEmpty)
      // these options count PHYSICAL lines; records with quoted newlines
      // make line numbers ambiguous — error loudly instead of silently
      // ignoring them (they used to fall through to the file path)
      throw new IllegalArgumentException(
        s"${CsvErrorCodes.InvalidOption}: multiLine=true cannot be combined " +
          s"with line-oriented option(s) ${linePathOpts.mkString(", ")}")
    // the strict shape alone takes its field counts from the file parse
    val strictOnly = linePathOpts == Seq("skipRecordsWithError") &&
      opts.skipEmptyLines == CsvOptions().skipEmptyLines
    if (opts.multiLine || linePathOpts.isEmpty || strictOnly)
      filePath(spark, path, opts)
    else linePathFile(spark, path, opts)
  }

  /** Scan settings for `opts`' charset: Spark 4 whitelists CSV charsets
    * (utf-8/16/32, iso-8859-1, us-ascii); the reference's windows-1252
    * heuristic needs the full Java set. Set on the scan's private session
    * ([[sized]]), never on the caller's. */
  private def charsetConf(opts: CsvOptions): Map[String, String] =
    opts.encoding.map(_ => "spark.sql.legacy.javaCharsets" -> "true").toMap

  /** The line path over the file at `path`. */
  private def linePathFile(spark: SparkSession, path: String,
      opts: CsvOptions): CsvScan = {
    // the header sample comes from the driver-side window when its line
    // split matches readLines' (UTF-8; the other charsets split on \n)
    val window =
      if (opts.encoding.forall(_.equalsIgnoreCase("UTF-8")))
        localWindow(path, opts.encoding)
      else None
    linePath(spark, readLines(spark, path, opts), opts,
      detectFileLinebreak(stripScheme(path)), window)
  }

  /** beforeFirstChunk file lowering (reference parser.ts:350-360): read the
    * whole content (honoring encoding detection), run the hook, re-init
    * from the resulting buffer. Driver-side by the reference's own
    * contract — it buffers the full input to run this hook.
    */
  private def readWithPrePass(
      spark: SparkSession, path: String, opts0: CsvOptions): CsvScan = {
    val f = opts0.beforeFirstChunk.get
    val p = stripScheme(path)
    val enc = opts0.encoding.getOrElse(
      if (opts0.detectEncoding) CsvLineParser.detectFileEncoding(p) else "UTF-8")
    val raw = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.Charset.forName(enc)).stripPrefix("\uFEFF")
    val content = f(raw).getOrElse(raw)
    val rest = opts0.copy(beforeFirstChunk = None,
      encoding = None, detectEncoding = false)
    if (opts0.multiLine) bufferViaTempFile(spark, content, rest)
    else readString(spark, content, rest)
  }

  /** Round-trip a decoded buffer through a temp file so it takes the
    * file-scan (multiLine-capable) parser — quoted newlines need quote
    * state kept across lines, which the buffer line-split path cannot do.
    * deleteOnExit, not eager delete: the scan reads the file lazily at
    * action time. Buffers are driver-sized by contract (the reference
    * buffers the whole input too), so accumulation until JVM exit is
    * bounded by the session's buffer-scan count.
    */
  private def bufferViaTempFile(
      spark: SparkSession, content: String, opts: CsvOptions): CsvScan = {
    val tmp = java.nio.file.Files.createTempFile("graft-buf", ".csv")
    tmp.toFile.deleteOnExit()
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the buffer is already a decoded string — no encoding re-detection.
    // Drop the snapshot read() captures: this is a BUFFER scan (the temp
    // file is an internal vehicle, not the caller's source) and
    // fileModified must stay false for it — monitoring the temp file
    // would flip true when a tmp cleaner removes it
    read(spark, tmp.toString,
      opts.copy(encoding = None, detectEncoding = false))
      .copy(source = None)
  }

  /** linebreak of a local file's first 8 KB; "\n" when unreadable
    * (non-local scheme). Driver-side, detection-sample-sized.
    */
  private def detectFileLinebreak(path: String): String =
    try {
      val in = new java.io.FileInputStream(path)
      val bytes = try in.readNBytes(8192) finally in.close()
      CsvLineParser.detectLinebreak(
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1))
    } catch { case _: java.io.IOException => "\n" }

  private def stripScheme(path: String): String =
    if (path.startsWith("file:")) path.stripPrefix("file:") else path

  /** Smallest split [[splitBytes]] cuts a scan into. A split costs one
    * task launch: ~0.7 ms in local mode on a 4-vCPU box (400 empty tasks
    * against 4). One core of that box parses the default scan shape,
    * fully materialized, at 12–20 MB/s, so a 1 MiB split is 50–90 ms of
    * parse work and its launch adds about 1%. A larger floor leaves
    * cores idle on the few-MB files the reference's autotune still
    * spreads over threads; a smaller one adds launches to shorten a
    * scan by less than one floor-sized split's parse. Inputs up to this
    * size (every test fixture) scan in one task.
    */
  private[graft] val SplitFloorBytes: Long = 1L << 20

  /** Bytes per split for a scan over `totalBytes` of input: one split per
    * core, at least [[SplitFloorBytes]], at most the caller's
    * `maxPartitionBytes` — so inputs above cores × `maxPartitionBytes`
    * plan exactly as Spark plans them.
    */
  private[graft] def splitBytes(totalBytes: Long, cores: Int,
      maxPartitionBytes: Long): Long =
    math.min(maxPartitionBytes,
      math.max(SplitFloorBytes, (totalBytes + cores - 1) / cores))

  /** `df` — a plain file-source read — with its files cut into
    * [[splitBytes]] splits (unless `split` is false) and a CSV relation
    * bound to [[CsvScanFormat]], the byte tokenizer. Spark reads split
    * settings from the RELATION's session when the scan executes, so the
    * relation is rebound to a fresh session carrying the caller's SQL conf
    * plus the derived settings, and handed back through the caller's
    * session: the caller's conf is never written, and the frame, its plan
    * (FileScan, pruning, pushdown) and its results are what `df` would
    * give.
    *
    * On the private session, `maxPartitionBytes` is the split size;
    * `minPartitionNum` 1 makes Spark cut exactly that size (its own
    * formula divides by cores again and would shrink sub-floor inputs
    * below the floor); the open cost keeps the caller's ratio to
    * `maxPartitionBytes`, so a directory of small files still packs
    * several files per task. `scanConf` is set on the private session
    * too, for settings the relation reads at execution. Frames whose plan
    * is not a bare file relation come back unchanged; inputs the caller's
    * settings already spread over every core keep the caller's session
    * when there is no `scanConf`.
    */
  private def sized(spark: SparkSession, df: DataFrame,
      scanConf: Map[String, String] = Map.empty,
      split: Boolean = true): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case rel: HadoopFsRelation =>
          val conf = spark.sessionState.conf
          val maxBytes = conf.filesMaxPartitionBytes
          val bytes = splitBytes(rel.location.sizeInBytes,
            spark.sparkContext.defaultParallelism, maxBytes)
          val splitConf =
            if (!split || bytes >= maxBytes) Map.empty[String, String]
            else Map(
              SQLConf.FILES_MAX_PARTITION_BYTES.key -> bytes.toString,
              SQLConf.FILES_MIN_PARTITION_NUM.key -> "1",
              SQLConf.FILES_OPEN_COST_IN_BYTES.key -> math.max(1L,
                conf.filesOpenCostInBytes * bytes / maxBytes).toString)
          val format = rel.fileFormat match {
            case _: CSVFileFormat => new CsvScanFormat
            case f => f
          }
          val session =
            if (splitConf.isEmpty && scanConf.isEmpty) spark
            else {
              val scanSession = spark.newSession()
              spark.conf.getAll.foreach { case (k, v) =>
                if (spark.conf.isModifiable(k)) scanSession.conf.set(k, v)
              }
              (splitConf ++ scanConf).foreach { case (k, v) =>
                scanSession.conf.set(k, v)
              }
              scanSession
            }
          if ((session eq spark) && (format eq rel.fileFormat)) df
          else spark.baseRelationToDataFrame(rel.copy(fileFormat = format)(session))
        case _ => df
      }
      case _ => df
    }

  /** One string column `line` per physical line of `path` (UTF-8), as a
    * split-sized scan.
    */
  private def textLines(spark: SparkSession, path: String): DataFrame =
    sized(spark, spark.read.text(path)).select(col("value").as("line"))

  /** The local file's first ≤256 KB split into raw lines, and whether
    * that window holds the whole file; None for non-local schemes and
    * directories. A truncated trailing line is dropped unless the whole
    * file fit in the window. Driver-side, no Spark job.
    */
  private def localWindow(path: String,
      encoding: Option[String]): Option[(Seq[String], Boolean)] = {
    val p = stripScheme(path)
    try {
      val f = new java.io.File(p)
      val in = new java.io.FileInputStream(p)
      val bytes = try in.readNBytes(262144) finally in.close()
      val full = f.length() <= bytes.length
      val text = new String(bytes,
        java.nio.charset.Charset.forName(encoding.getOrElse("UTF-8")))
      val lines = text.split("\r\n|\r|\n", -1)
      val usable =
        if (full) { if (lines.nonEmpty && lines.last.isEmpty) lines.init else lines }
        else lines.init // last line may be cut mid-record
      Some((usable.toSeq, full))
    } catch { case _: java.io.IOException => None }
  }

  /** First ≤n raw lines for detection/header resolution. LOCAL files are
    * read directly ([[localWindow]] — a scan's fixed latency was
    * dominated by a sample job); non-local schemes and directories fall
    * back to a distributed text scan.
    */
  private def sampleLines(spark: SparkSession, path: String, n: Int,
      encoding: Option[String]): Seq[String] =
    localWindow(path, encoding) match {
      case Some((lines, _)) => lines.take(n)
      case None => spark.read.textFile(path).limit(n).collect().toSeq
    }

  /** text lines honoring a non-UTF-8 charset (spark.read.text is UTF-8
    * only; other charsets go through the csv reader in text mode).
    */
  private def readLines(spark: SparkSession, path: String, opts: CsvOptions): DataFrame =
    opts.encoding match {
      case Some(enc) if !enc.equalsIgnoreCase("UTF-8") =>
        sized(spark, spark.read
          .option("encoding", enc)
          .option("lineSep", "\n")
          .schema(StructType(Seq(StructField("line", StringType))))
          .option("sep", "\u0001").option("quote", "\u0000")
          .csv(path), charsetConf(opts))
          .select(regexp_replace(col("line"), "\r$", "").as("line"))
      case _ => textLines(spark, path)
    }

  /** Credential policy for [[readUrl]] — the JVM mapping of the
    * reference's browser-fetch credentials option (parser.ts:105-118:
    * `withCredentials` true ⇒ fetch "include", false ⇒ "same-origin").
    * The JVM has no browser origin, so the server-visible effects map
    * onto request headers and a driver-side cookie jar:
    *
    *  - [[UrlCredentials.SameOrigin]] (default, = reference default
    *    `withCredentials: false`): send exactly the explicit `headers`;
    *    no ambient cookies attach.
    *  - [[UrlCredentials.Include]] (= `withCredentials: true`): attach
    *    cookies stored for the URL in the process cookie jar and store
    *    `Set-Cookie` responses back into it — the fetch cookie-jar
    *    round-trip.
    *  - [[UrlCredentials.Omit]] (= fetch "omit"): strip ambient
    *    credentials — `Cookie`/`Authorization` are removed even when
    *    present in `headers`, and nothing is stored.
    *  - [[UrlCredentials.Bearer]]: Authorization-bearing fetch —
    *    `Authorization: Bearer <token>` without hand-writing the header.
    */
  sealed trait UrlCredentials
  object UrlCredentials {
    case object Omit extends UrlCredentials
    case object SameOrigin extends UrlCredentials
    case object Include extends UrlCredentials
    final case class Bearer(token: String) extends UrlCredentials
  }

  /** Process cookie jar backing [[UrlCredentials.Include]] fetches.
    * Exposed within the package so specs can seed/inspect it.
    */
  private[graft] val cookieJar = new java.net.CookieManager()

  /** Request headers after applying the credential policy — pure, so the
    * policy is spec-checkable without a live server.
    */
  private[graft] def effectiveHeaders(
      headers: Map[String, String], credentials: UrlCredentials,
      uri: java.net.URI): Map[String, String] = credentials match {
    case UrlCredentials.Omit =>
      headers.filterNot { case (k, _) =>
        k.equalsIgnoreCase("Cookie") || k.equalsIgnoreCase("Authorization")
      }
    case UrlCredentials.SameOrigin => headers
    case UrlCredentials.Bearer(token) =>
      headers + ("Authorization" -> s"Bearer $token")
    case UrlCredentials.Include =>
      import scala.jdk.CollectionConverters._
      val stored = cookieJar.getCookieStore.get(uri).asScala
        .map(c => s"${c.getName}=${c.getValue}")
      if (stored.isEmpty) headers
      else {
        // explicit Cookie header entries keep precedence (listed first)
        val explicit = headers.find(_._1.equalsIgnoreCase("Cookie"))
        val merged = (explicit.map(_._2).toSeq ++ stored).mkString("; ")
        headers.filterNot(_._1.equalsIgnoreCase("Cookie")) +
          ("Cookie" -> merged)
      }
  }

  /** URL scan — driver-side fetch (custom headers + credential modes),
    * then buffer parse (reference src/ts/parser.ts:447-500). Works for
    * any java.net-resolvable scheme incl. file:// ; at scale prefer
    * mounting the data and using `read` (a URL body is inherently
    * single-stream).
    */
  def readUrl(spark: SparkSession, url: String,
      opts: CsvOptions = CsvOptions(),
      headers: Map[String, String] = Map.empty,
      credentials: UrlCredentials = UrlCredentials.SameOrigin): CsvScan = {
    val uri = java.net.URI.create(url)
    val conn = uri.toURL.openConnection()
    effectiveHeaders(headers, credentials, uri)
      .foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val scan = readInputStream(spark, conn.getInputStream, opts)
    if (credentials == UrlCredentials.Include)
      cookieJar.put(uri, conn.getHeaderFields) // stores Set-Cookie replies
    scan
  }

  /** ReadableStream scan (reference src/ts/parser.ts:472-497): drain an
    * arbitrary InputStream to EOF, then buffer-parse — the JVM mapping
    * of the reference's stream reader and the path [[readUrl]] rides.
    * `readAllBytes` loops over short reads, so a slow or chunky
    * producer (a pipe, a socket) parses identically to a one-shot
    * buffer; the stream is always closed. Driver-side by nature (a
    * stream is inherently single-reader) — at scale land the data and
    * use [[read]].
    */
  def readInputStream(spark: SparkSession, in: java.io.InputStream,
      opts: CsvOptions = CsvOptions()): CsvScan = {
    val content =
      try new String(in.readAllBytes(), opts.encoding.getOrElse("UTF-8"))
      finally in.close()
    readString(spark, content, opts)
  }

  /** buffer scan — parse CSV held in a string (reference buffer init).
    * multiLine buffers round-trip through a temp file so quoted newlines
    * go through the file-scan parser (the line split below would cut a
    * quoted-newline record in two — the reference's buffer parser keeps
    * quote state across newlines, so must we).
    */
  def readString(spark: SparkSession, content0: String, opts0: CsvOptions = CsvOptions()): CsvScan = {
    import spark.implicits._
    // buffer-input beforeFirstChunk (reference parser.ts:405-411)
    val content = opts0.beforeFirstChunk
      .map(f => f(content0).getOrElse(content0)).getOrElse(content0)
    val opts = opts0.copy(beforeFirstChunk = None)
    if (opts.multiLine) return bufferViaTempFile(spark, content, opts)
    val lines = content.split("\r\n|\r|\n", -1).toSeq match {
      case init :+ "" => init // trailing newline
      case all        => all
    }
    linePath(spark, lines.toDF("line"), opts,
      CsvLineParser.detectLinebreak(content.take(8192)), Some((lines, true)))
  }

  // ------------------------------------------------------------- helpers

  /** (delimiter, detectionFailed): detection failure falls back to comma
    * AND reports an UndetectableDelimiter error row (PapaParse contract).
    */
  private def resolveDelimiter(
      sampleLines: Seq[String], opts: CsvOptions): (String, Boolean) =
    opts.delimiter match {
      case Some(d) => (d, false)
      case None =>
        CsvLineParser
          .detectDelimiter(sampleLines, opts.quote.head, opts.delimitersToGuess)
          .map(c => (c.toString, false))
          .getOrElse((",", true)) // reference falls back to comma
    }

  /** Whether a [[CsvExprs.CsvLineCheck]] value marks malformed quoting: an ODD
    * number of quote chars on a line where some FIELD starts with a quote
    * (line start or right after a delimiter) means an unclosed/invalid
    * quote. Sound for single-line records with doubled-quote escaping —
    * quotes inside unquoted fields (`it's 5"`) are literal per the
    * reference's parser and never flagged, and the check is suppressed
    * entirely when a custom escape char is in play (escaped quotes then
    * break the parity premise). errType Quotes / code InvalidQuotes per
    * reference errors.ts:6-22.
    */
  private def invalidQuote(check: Column, opts: CsvOptions): Column =
    if (opts.escape.exists(_ != opts.quote)) lit(false)
    else CsvExprs.badQuote(check)

  /** One (errType, code, message, row) error. */
  private def errorRow(errType: String, code: Column, message: Column,
      row: Column): Column =
    struct(lit(errType).as("errType"), code.as("code"),
      message.as("message"), row.cast(LongType).as("row"))

  /** The InvalidQuotes error of a line whose quoting is malformed. */
  private def quoteError(row: Column): Column =
    errorRow("Quotes", lit(CsvErrorCodes.InvalidQuotes),
      lit("unclosed or invalid quotes"), row)

  /** The empty (errType, code, message, row) error frame. */
  private def noErrors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(String, String, String, Long)]
      .toDF("errType", "code", "message", "row")
  }

  /** Whether field count `fc` is a FieldMismatch (parser.ts:1270-1302):
    * not the header's `n`, minus the relaxColumnCount exemptions.
    */
  private def fieldMismatch(fc: Column, n: Int, opts: CsvOptions): Column =
    fc =!= n &&
      (if (opts.relaxColumnCountLess) fc > n else lit(true)) &&
      (if (opts.relaxColumnCountMore) fc < n else lit(true))

  /** The FieldMismatch error of a record with field count `fc`. */
  private def mismatchError(fc: Column, n: Int, row: Column): Column =
    errorRow("FieldMismatch",
      when(fc < n, CsvErrorCodes.TooFewFields)
        .otherwise(CsvErrorCodes.TooManyFields),
      concat(lit("expected "), lit(n), lit(" fields, got "), fc), row)

  /** Single driver-side UndetectableDelimiter error row (or empty). */
  private def delimiterErrors(
      spark: SparkSession, undetectable: Boolean): DataFrame = {
    import spark.implicits._
    if (undetectable)
      Seq(("Delimiter", CsvErrorCodes.UndetectableDelimiter,
        "unable to auto-detect delimiting character; defaulted to ','",
        Option.empty[Long]))
        .toDF("errType", "code", "message", "row")
    else noErrors(spark)
  }

  private def resolveHeaders(
      firstLine: Option[String], sep: String, opts: CsvOptions): Seq[String] = {
    firstLine match {
      case Some(h) if opts.header =>
        val raw = CsvLineParser.parseLine(h, sep, opts.quote.head)
        val named = raw.zipWithIndex.map { case (n, i) =>
          val base = if (n == null || n.isEmpty) s"col$i" else n
          opts.transformHeader.map(f => f(base, i)).getOrElse(base)
        }
        if (opts.renameDuplicateHeaders) CsvLineParser.dedupeHeaders(named.toSeq)
        else {
          val dups = named.diff(named.distinct).distinct
          if (dups.nonEmpty)
            throw new IllegalArgumentException(
              s"${CsvErrorCodes.DuplicateHeader}: duplicate header(s) ${dups.mkString(", ")}")
          named.toSeq
        }
      case Some(l) =>
        val n = CsvLineParser.parseLine(l, sep, opts.quote.head).length
        (0 until n).map(i => s"col$i")
      case None => Seq.empty
    }
  }

  private def csvParseOptions(sep: String, opts: CsvOptions): Map[String, String] = Map(
    "sep" -> sep,
    "quote" -> opts.quote,
    "escape" -> opts.escape.getOrElse(opts.quote),
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> Corrupt,
    // Spark applies the nullValue mapping AFTER emptyValue substitution, so
    // emptyValue="" would immediately null out quoted empties again. Use a
    // NUL sentinel here; `finish` rewrites it back to "" per column —
    // preserving the reference's unquoted→null vs quoted→"" distinction.
    "nullValue" -> "",
    "emptyValue" -> "\u0000",
    "ignoreLeadingWhiteSpace" -> (opts.trimWhitespace || opts.ltrim).toString,
    "ignoreTrailingWhiteSpace" -> (opts.trimWhitespace || opts.rtrim).toString)

  // ----------------------------------------------------------- FILE path

  private def filePath(spark: SparkSession, path: String, opts: CsvOptions): CsvScan = {
    // tiny driver-side sample for detection + header resolution — comment
    // and empty lines are invisible to the parser (parser.zig:324-338), so
    // they can't become the header
    def visible(lines: Seq[String]) = lines
      .filterNot(l => l.isEmpty || opts.comments.exists(l.startsWith) ||
        (opts.skipEmptyLines == "greedy" && l.forall(_ == ' ')))
      .take(11)
    val fast = visible(sampleLines(spark, path, 100, opts.encoding))
    val sample =
      if (fast.nonEmpty) fast
      // local sample exhausted (a >256 KB first line, or >100 leading
      // comment/blank lines) — fall back to a bounded distributed scan,
      // which has no line-length limit
      else visible(spark.read.textFile(path).limit(10000).collect().toSeq)
    val (sep, undetectable) = resolveDelimiter(sample, opts)
    val headers = resolveHeaders(sample.headOption, sep, opts)
    val schema = StructType(
      headers.map(h => StructField(h, StringType, nullable = true)) :+
        StructField(Corrupt, StringType, nullable = true))
    // comment lines and greedy blank lines are the format's to drop: Spark's
    // own `comment` takes one character and its blank-line filter drops
    // whitespace-only records
    val readerOpts = csvParseOptions(sep, opts) ++
      Map("header" -> opts.header.toString,
        "multiLine" -> opts.multiLine.toString,
        CsvScanFormat.SkipEmptyLines -> opts.skipEmptyLines) ++
      opts.comments.map(CsvScanFormat.CommentPrefix -> _) ++
      opts.encoding.map("encoding" -> _)
    val sqlConf = spark.sessionState.conf.clone()
    charsetConf(opts).foreach { case (k, v) => sqlConf.setConfString(k, v) }
    if (opts.comments.exists(_.length > 1) && !CsvScanFormat.serves(
        CsvScanFormat.csvOptions(readerOpts, sqlConf)))
      // outside the tokenizer's shapes a comment is Spark's, one character
      if (opts.multiLine)
        throw new IllegalArgumentException(
          s"${CsvErrorCodes.InvalidOption}: multiLine=true takes a " +
            s"one-character comment prefix, got '${opts.comments.get}'")
      else return linePathFile(spark, path, opts)
    val reader = spark.read.options(readerOpts).schema(schema)
    val strict = opts.skipRecordsWithError
    // Spark's CSV column pruning parses only the columns a query needs and
    // then never flags a malformed row: the strict filter below would keep
    // ragged rows under count(). Off for this scan, on its private session.
    val scanConf = charsetConf(opts) ++
      (if (strict) Map(SQLConf.CSV_PARSER_COLUMN_PRUNING.key -> "false")
      else Map.empty[String, String])
    // a multiLine file is one unsplittable split anyway
    val parsed0 = sized(spark, reader.csv(path), scanConf, split = !opts.multiLine)
    val n = headers.length
    val limited = if (opts.preview > 0) parsed0.limit(opts.preview) else parsed0
    val parsed =
      if (!strict || n == 0) limited
      else {
        // a malformed row stays when its raw record's field count passes
        // the header-width rule (the line path's keep rule)
        val fc = CsvExprs.fieldCount(
          CsvExprs.csv_line_check(spark, col(Corrupt), sep, opts.quote))
        val wellFormed = col(Corrupt).isNull || fc === n ||
          (if (opts.relaxColumnCountLess) fc < n else lit(false))
        // A scan that needs ONLY _corrupt_record fails
        // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — count() through this filter
        // would be one. This always-true test keeps a header column
        // required, in a form the optimizer does not fold away.
        val h0 = col(s"`${headers.head}`")
        limited.filter(wellFormed && (h0.isNull || octet_length(h0) >= 0))
      }
    // Errors of the strict shape are the line path's (rows carry physical
    // line numbers). Otherwise one raw text scan (Spark disallows
    // projecting ONLY the corrupt column off a CSV read): per line, one
    // kernel pass gives the quote check and the quote-aware field count,
    // and each line yields 0-2 error rows. SUPPRESSED under multiLine: a
    // quoted-newline record spans several raw lines, so per-line field
    // counts would emit spurious FieldMismatch errors.
    def errors: DataFrame =
      if (strict) linePathFile(spark, path, opts).errors
      else if (opts.multiLine) delimiterErrors(spark, undetectable)
      else {
        var errLines = textLines(spark, path)
        opts.comments.foreach(c =>
          errLines = errLines.filter(!col("line").startsWith(c)))
        errLines = errLines.filter(
          if (opts.skipEmptyLines == "greedy") trim(col("line")) =!= ""
          else col("line") =!= "")
        val checked = errLines.select(
          CsvExprs.csv_line_check(spark, col("line"), sep, opts.quote).as("__k"))
        val fc = CsvExprs.fieldCount(col("__k"))
        val noRow = lit(null)
        // the null filter sits after the generator, so the kernel stays
        // in one projection below it
        val perLine = checked
          .select(explode(array(
            when(invalidQuote(col("__k"), opts), quoteError(noRow)),
            when(fieldMismatch(fc, n, opts), mismatchError(fc, n, noRow))))
            .as("__e"))
          .filter(col("__e").isNotNull)
          .select("__e.*")
        delimiterErrors(spark, undetectable).union(perLine)
      }
    val meta = CsvMeta(delimiter = sep,
      linebreak = detectFileLinebreak(stripScheme(path)),
      truncated = opts.preview > 0, fields = headers)
    finish(parsed, headers, opts, lineNo = None, errors, meta)
  }

  // ----------------------------------------------------------- LINE path

  /** `window` is the input's first raw lines and whether they are all of
    * it (see [[localWindow]]); the header sample is taken from it when it
    * settles the sample, else from a distributed scan.
    */
  private def linePath(spark: SparkSession, linesDf: DataFrame, opts: CsvOptions,
      linebreak: String, window: Option[(Seq[String], Boolean)]): CsvScan = {
    // contiguous global line index (narrow; no shuffle)
    val schema0 = linesDf.schema.add(LineNo, LongType, nullable = false)
    val indexed = spark.createDataFrame(
      linesDf.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema0)
    val afterSkip = indexed.filter(col(LineNo) >= opts.skipFirstNLines)

    // comment + empty rows vanish BEFORE the header is resolved: the zig
    // parser skips both during record emission (parser.zig:324-338), so
    // the header is the first SURVIVING record — a leading `# comment`
    // line is not a header.
    var visible = afterSkip
    opts.comments.foreach(c => visible = visible.filter(!col("line").startsWith(c)))
    visible = opts.skipEmptyLines match {
      case "greedy" => visible.filter(trim(col("line")) =!= "")
      case "false"  => visible
      case _        => visible.filter(col("line") =!= "")
    }
    // the same filters on a driver-side line (Spark's trim strips spaces)
    def isVisible(l: String): Boolean =
      !opts.comments.exists(l.startsWith) && (opts.skipEmptyLines match {
        case "greedy" => !l.forall(_ == ' ')
        case "false"  => true
        case _        => l.nonEmpty
      })

    // first 11 visible (line, lineNo): from the window when it holds 11 or
    // is the whole input, else a distributed sample — a TakeOrdered job
    // over the whole input
    val sampleHead = window
      .map { case (lines, whole) =>
        (lines.zipWithIndex.drop(opts.skipFirstNLines)
          .filter { case (l, _) => isVisible(l) }.take(11), whole) }
      .collect { case (head, whole) if whole || head.length == 11 =>
        head.map { case (l, i) => (l, i.toLong) } }
      .getOrElse(visible.orderBy(col(LineNo)).limit(11).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1))))
    val sampleRows = sampleHead.map(_._1)
    val (sep, undetectable) = resolveDelimiter(sampleRows, opts)
    val headers = resolveHeaders(sampleRows.headOption, sep, opts)
    val headerLineNo = sampleHead.headOption.map(_._2)
      .getOrElse(opts.skipFirstNLines.toLong)

    var data =
      if (opts.header) visible.filter(col(LineNo) > headerLineNo) else visible

    // maxRecordSize errors before parsing (RecordSize, parser.ts:1519-1537)
    val sizeErrors =
      if (opts.maxRecordSize > 0)
        data.filter(length(col("line")) > opts.maxRecordSize)
          .select(lit("RecordSize").as("errType"),
            lit(CsvErrorCodes.MaxRecordSize).as("code"),
            concat(lit("record exceeds "), lit(opts.maxRecordSize), lit(" bytes"))
              .as("message"),
            col(LineNo).as("row"))
      else noErrors(spark)
    if (opts.maxRecordSize > 0)
      data = data.filter(length(col("line")) <= opts.maxRecordSize)

    // 1-based data-row number for fromLine/toLine (second narrow index)
    if (opts.fromLine > 0 || opts.toLine > 0) {
      val reIdx = spark.createDataFrame(
        data.select("line", LineNo).rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1)) },
        data.select("line", LineNo).schema.add("__dataRow", LongType, false))
      val from = if (opts.fromLine > 0) opts.fromLine else 1
      val to = if (opts.toLine > 0) opts.toLine else Long.MaxValue
      data = reIdx.filter(col("__dataRow") >= from && col("__dataRow") <= to)
        .drop("__dataRow")
    }
    if (opts.preview > 0) data = data.orderBy(col(LineNo)).limit(opts.preview)

    val n = headers.length
    val parsed =
      if (opts.fastMode) {
        // naive split — no quote machinery (parser.ts:1332-1475)
        val parts = split(col("line"), java.util.regex.Pattern.quote(sep), -1)
        val cols = headers.zipWithIndex.map { case (h, i) =>
          val v = parts.getItem(i)
          when(v === "", lit(null).cast(StringType)).otherwise(v).as(h)
        }
        data.select(cols :+ lit(null).cast(StringType).as(Corrupt) :+ col(LineNo): _*)
      } else {
        val structType = StructType(
          headers.map(h => StructField(h, StringType, nullable = true)) :+
            StructField(Corrupt, StringType, nullable = true))
        val parseOpts = csvParseOptions(sep, opts)
        data
          .withColumn("__p", from_csv(col("line"), structType, parseOpts))
          .select((headers.map(h => col(s"__p.`$h`").as(h)) :+
            col(s"__p.$Corrupt").as(Corrupt) :+ col(LineNo)): _*)
      }

    val withFc = parsed.withColumn("__fc",
      when(col(Corrupt).isNull, lit(n))
        .otherwise(CsvExprs.fieldCount(
          CsvExprs.csv_line_check(spark, col(Corrupt), sep, opts.quote))))

    def mismatchErrors = withFc
      .filter(fieldMismatch(col("__fc"), n, opts))
      .select(mismatchError(col("__fc"), n, col(LineNo)).as("__e"))
      .select("__e.*")

    // __parsed_extra for long rows (row.ts:516-523)
    val withExtra =
      if (opts.relaxColumnCountMore) {
        val maxFcRow = withFc.agg(max(col("__fc"))).head()
        val maxFc = (if (maxFcRow.isNullAt(0)) n else maxFcRow.getInt(0)).max(n)
        if (maxFc > n) {
          val wide = StructType((0 until maxFc)
            .map(i => StructField(s"__w$i", StringType, nullable = true)))
          val wideParse = from_csv(col(Corrupt), wide,
            csvParseOptions(sep, opts) - "columnNameOfCorruptRecord")
          withFc.withColumn("__parsed_extra",
            when(col(Corrupt).isNotNull && col("__fc") > n,
              slice(array((n until maxFc).map(i =>
                wideParse.getField(s"__w$i")): _*), lit(1),
                (col("__fc") - n).cast(IntegerType)))
              .otherwise(lit(null).cast(ArrayType(StringType))))
        } else withFc.withColumn("__parsed_extra",
          lit(null).cast(ArrayType(StringType)))
      } else withFc

    val keepPred =
      if (opts.skipRecordsWithError)
        col("__fc") === n ||
          (col("__fc") < n && opts.relaxColumnCountLess) ||
          (col("__fc") > n && opts.relaxColumnCountMore)
      else lit(true)

    val outCols = headers.map(h => col(s"`$h`")) ++
      (if (opts.relaxColumnCountMore) Seq(col("__parsed_extra")) else Nil) ++
      Seq(col(LineNo))
    val result = withExtra.filter(keepPred).select(outCols: _*)
    def errors = delimiterErrors(spark, undetectable)
      .union(data
        .filter(invalidQuote(
          CsvExprs.csv_line_check(spark, col("line"), sep, opts.quote), opts))
        .select(quoteError(col(LineNo)).as("__e")).select("__e.*"))
      .union(sizeErrors)
      .union(mismatchErrors)
    val meta = CsvMeta(delimiter = sep, linebreak = linebreak,
      truncated = opts.preview > 0 || opts.toLine > 0, fields = headers)
    finish(result, headers, opts, lineNo = Some(LineNo), errors, meta)
  }

  // -------------------------------------------------------- post-process

  private def finish(parsed: DataFrame, headers: Seq[String],
      opts: CsvOptions, lineNo: Option[String], errors: => DataFrame,
      meta: CsvMeta): CsvScan = {
    val spark = parsed.sparkSession
    var df = parsed
    if (df.columns.contains(Corrupt)) df = df.drop(Corrupt)
    lineNo.foreach(c => df = df.drop(c))
    // rewrite the quoted-empty sentinel back to "" (see csvParseOptions)
    df = df.select(df.columns.toSeq.map { c =>
      if (headers.contains(c))
        when(col(s"`$c`") === "\u0000", lit("")).otherwise(col(s"`$c`")).as(c)
      else col(s"`$c`")
    }: _*)
    // onRecord hook: per-record transform/drop on the RAW string record
    // (reference parser.ts:216 + row assembly — runs before dynamic
    // typing). Distributed flatMap; zipWithIndex supplies the reference's
    // 0-based context.index without a shuffle.
    opts.onRecord.foreach { fn =>
      val hdrs = headers
      val n = hdrs.length
      val allCols = df.columns.toSeq
      val hdrIdx = allCols.map(c => hdrs.indexOf(c)) // -1 for passthroughs
      val hdrPos = hdrs.map(allCols.indexOf)         // header → row ordinal
      val schema = df.schema
      val rdd = df.rdd.zipWithIndex().flatMap { case (r, i) =>
        val rec = hdrPos.map(p => r.getString(p))
        fn(rec, i, hdrs).map { out =>
          val padded = out.padTo(n, null: String).take(n)
          org.apache.spark.sql.Row.fromSeq(allCols.indices.map { k =>
            if (hdrIdx(k) >= 0) padded(hdrIdx(k)) else r.get(k)
          })
        }
      }
      df = spark.createDataFrame(rdd, schema)
    }
    if (opts.dynamicTyping) {
      // predicate form wins over the Set form (reference row.ts:423-436)
      val targets = opts.dynamicTypingPred
        .map(p => headers.filter(p))
        .orElse(opts.dynamicTypingCols.map(sel => headers.filter(sel.contains)))
        .getOrElse(headers)
      if (targets.nonEmpty) df = inferTypes(df, targets)
    }
    // per-column cast hooks run AFTER dynamicTyping (the reference applies
    // castFn to the already-dynamically-typed value, row.ts:59-70)
    opts.castFns.foreach { case (h, f) =>
      if (df.columns.contains(h)) df = df.withColumn(h, f(col(s"`$h`")))
    }
    CsvScan(df, () => errors, headers, meta)
  }

  /** dynamicTyping: per-column inference with the reference's value rules
    * (row.ts:442-458) — all-boolean → boolean, all-numeric → double,
    * else string. One single-stage job over the scan: each partition folds
    * the byte-loop cell classifier ([[CsvExprs.CsvCellClass]]) of every
    * column with a bitwise or, and the driver merges the partitions' bits
    * (an aggregate would plan a second stage and a shuffle).
    * Empty strings (quoted "") coerce to NULL exactly like the
    * reference's `value === "" → null` rule, so they never block a
    * column's numeric/boolean inference.
    */
  private def inferTypes(df: DataFrame, headers: Seq[String]): DataFrame = {
    val k = headers.length
    // quoted: a header such as `a.b` is one column, not a field access
    def column(h: String) = col(s"`$h`")
    val classes = df.select(headers.map(h =>
      CsvExprs.csv_cell_class(df.sparkSession, column(h))): _*)
    val flags = classes.queryExecution.toRdd.mapPartitions { rows =>
      val acc = new Array[Int](k)
      rows.foreach { r =>
        var i = 0
        while (i < k) { acc(i) |= r.getInt(i); i += 1 }
      }
      Iterator.single(acc)
    }.collect().foldLeft(new Array[Int](k)) { (a, b) =>
      a.indices.foreach(i => a(i) |= b(i)); a
    }
    val casts = headers.zipWithIndex.map { case (h, i) =>
      val bits = flags(i)
      def has(bit: Int) = (bits & bit) != 0
      // "" → null BEFORE the cast: reference rule, and an ANSI cast of ""
      // would throw
      def nz = when(column(h) === "", lit(null)).otherwise(column(h))
      if (has(CsvExprs.Present) && !has(CsvExprs.NotBoolean))
        nz.cast(BooleanType).as(h)
      else if (has(CsvExprs.Present) && !has(CsvExprs.NotNumeric))
        nz.cast(DoubleType).as(h)
      else column(h)
    }
    val others = df.columns.filterNot(headers.contains).map(col)
    df.select(casts ++ others: _*)
  }
}
