package graft

import graft.sources.{CsvLineParser, CsvOptions, CsvReader}

/** Reader semantics from FIXTURES.md §§1-6 (reference test suite cases). */
class CsvReaderSpec extends SparkSpec {

  private def rows(scan: CsvReader.CsvScan): Seq[Seq[Any]] =
    scan.df.collect().toSeq.map(r => (0 until r.length).map(r.get))

  test("basic 3-col parse with header") {
    val p = writeTmp("basic.csv", "name,age,city\nAlice,30,NYC\nBob,25,LA\n")
    val scan = CsvReader.read(spark, p)
    assert(scan.headers == Seq("name", "age", "city"))
    assert(rows(scan).toSet == Set(Seq("Alice", "30", "NYC"), Seq("Bob", "25", "LA")))
    // a dotted header is one column, not a field access: file path,
    // typed file path, line path and buffer
    val dotted = "a.b,c\n1,x\n2,y\n"
    val dp = writeTmp("dotted.csv", dotted)
    for (o <- Seq(CsvOptions(), CsvOptions(dynamicTyping = true),
        CsvOptions(relaxColumnCountMore = true));
        s <- Seq(CsvReader.read(spark, dp, o),
          CsvReader.readString(spark, dotted, o))) {
      assert(s.headers == Seq("a.b", "c"))
      assert(s.df.selectExpr("cast(`a.b` AS int)", "c").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet == Set((1, "x"), (2, "y")))
    }
  }

  test("a multi-character delimiter splits the header and the rows on " +
      "the whole delimiter") {
    val content = "a||b\n1||x\n2||y\n"
    val p = writeTmp("multi.csv", content)
    val opts = CsvOptions(delimiter = Some("||"))
    for (s <- Seq(CsvReader.read(spark, p, opts),
        CsvReader.readString(spark, content, opts))) {
      assert(s.headers == Seq("a", "b"))
      assert(rows(s).toSet == Set(Seq("1", "x"), Seq("2", "y")))
      assert(s.errors.count() == 0)
    }
  }

  test("quoted comma, escaped quotes, CRLF") {
    val p = writeTmp("q.csv",
      "name,addr\r\n\"Alice\",\"123 Main St, Apt 4\"\r\nBob,\"He said \"\"Hello\"\"\"\r\n")
    val got = rows(CsvReader.read(spark, p)).toSet
    assert(got == Set(
      Seq("Alice", "123 Main St, Apt 4"),
      Seq("Bob", "He said \"Hello\"")))
  }

  test("unquoted empty is null; quoted empty is empty string") {
    val p = writeTmp("nulls.csv", "a,b,c\nAlice,,NYC\nBob,\"\",LA\n")
    val got = rows(CsvReader.read(spark, p))
    val alice = got.find(_.head == "Alice").get
    val bob = got.find(_.head == "Bob").get
    assert(alice(1) == null)
    assert(bob(1) == "")
  }

  test("duplicate headers renamed name, name_1, ...") {
    val p = writeTmp("dup.csv", "name,age,name,score,age\n1,2,3,4,5\n")
    val scan = CsvReader.read(spark, p)
    assert(scan.headers == Seq("name", "age", "name_1", "score", "age_1"))
  }

  test("duplicate headers error mode") {
    val p = writeTmp("dup2.csv", "a,a\n1,2\n")
    val ex = intercept[IllegalArgumentException] {
      CsvReader.read(spark, p, CsvOptions(renameDuplicateHeaders = false))
    }
    assert(ex.getMessage.contains("DuplicateHeader"))
  }

  test("no header: col0..colN") {
    val p = writeTmp("nohead.csv", "1,2,3\n4,5,6\n")
    val scan = CsvReader.read(spark, p, CsvOptions(header = false))
    assert(scan.headers == Seq("col0", "col1", "col2"))
    assert(rows(scan).toSet == Set(Seq("1", "2", "3"), Seq("4", "5", "6")))
  }

  test("relaxColumnCountLess fills nulls; relaxColumnCountMore collects __parsed_extra") {
    val p = writeTmp("mm.csv", "name,age\nBob,25,extra1,extra2\nCharlie\nOk,1\n")
    val scan = CsvReader.read(spark, p,
      CsvOptions(relaxColumnCountLess = true, relaxColumnCountMore = true))
    val got = scan.df.collect().map(r => (r.getString(0),
      Option(r.get(1)).orNull,
      Option(r.getAs[scala.collection.Seq[String]]("__parsed_extra"))
        .map(_.toList).orNull)).toSet
    assert(got == Set(
      ("Bob", "25", List("extra1", "extra2")),
      ("Charlie", null, null),
      ("Ok", "1", null)))
  }

  test("strict mode records TooFewFields/TooManyFields errors") {
    val p = writeTmp("mm2.csv", "name,age\nBob,25,extra\nCharlie\nOk,1\n")
    val scan = CsvReader.read(spark, p, CsvOptions(skipRecordsWithError = true))
    assert(scan.df.count() == 1)
    val errs = scan.errors.collect().map(r => r.getString(1)).sorted.toSeq
    assert(errs == Seq("TooFewFields", "TooManyFields"))
  }

  test("comments, skipFirstNLines, preview") {
    val p = writeTmp("meta.csv",
      "junk line\nname,age\n# comment row\nA,1\nB,2\nC,3\n")
    val scan = CsvReader.read(spark, p,
      CsvOptions(skipFirstNLines = 1, comments = Some("#"), preview = 2))
    assert(scan.headers == Seq("name", "age"))
    assert(rows(scan).map(_.head).toSet == Set("A", "B"))
  }

  test("fromLine/toLine 1-based inclusive window") {
    val lines = (1 to 10).map(i => s"${('A' + i - 1).toChar},$i").mkString("\n")
    val p = writeTmp("range.csv", "name,val\n" + lines + "\n")
    val scan = CsvReader.read(spark, p, CsvOptions(fromLine = 3, toLine = 5))
    assert(rows(scan).map(_.head).toSet == Set("C", "D", "E"))
  }

  test("greedy skipEmptyLines drops whitespace-only rows") {
    val p = writeTmp("empty.csv", "a,b\n1,2\n   \n\n3,4\n")
    val scan = CsvReader.read(spark, p,
      CsvOptions(skipEmptyLines = "greedy", maxRecordSize = 1000))
    assert(scan.df.count() == 2)
  }

  test("maxRecordSize errors oversized rows") {
    val p = writeTmp("big.csv", "a,b\n1,2\n" + ("x" * 100) + ",3\n4,5\n")
    val scan = CsvReader.read(spark, p,
      CsvOptions(maxRecordSize = 50, skipRecordsWithError = true))
    assert(scan.df.count() == 2)
    assert(scan.errors.collect().map(_.getString(1)).toSeq == Seq("MaxRecordSize"))
  }

  test("delimiter auto-detection: tab, pipe, semicolon") {
    for (sep <- Seq("\t", "|", ";")) {
      val p = writeTmp("det.csv",
        s"a${sep}b${sep}c\n1${sep}2${sep}3\n4${sep}5${sep}6\n")
      val scan = CsvReader.read(spark, p, CsvOptions(delimiter = None))
      assert(scan.headers == Seq("a", "b", "c"), s"sep=<$sep>")
      assert(rows(scan).toSet == Set(Seq("1", "2", "3"), Seq("4", "5", "6")))
    }
  }

  test("dynamicTyping: booleans, numbers incl. scientific, strings") {
    val p = writeTmp("dyn.csv",
      "flag,num,mixed\ntrue,1.5,abc\nfalse,2e3,5\nTRUE,-0.5,x\n")
    val scan = CsvReader.read(spark, p, CsvOptions(dynamicTyping = true))
    val sch = scan.df.schema
    assert(sch("flag").dataType.typeName == "boolean")
    assert(sch("num").dataType.typeName == "double")
    assert(sch("mixed").dataType.typeName == "string")
    val got = scan.df.collect().find(r => r.getBoolean(0)).get
    assert(got.getDouble(1) == 1.5 || got.getDouble(1) == 2000.0)
  }

  test("multiLine: embedded newline in quoted field") {
    val p = writeTmp("ml.csv", "name,addr\nAlice,\"123 Main St\nApt 4\"\n")
    val scan = CsvReader.read(spark, p, CsvOptions(multiLine = true))
    assert(rows(scan) == Seq(Seq("Alice", "123 Main St\nApt 4")))
  }

  test("fastMode: naive split, no quote handling") {
    val p = writeTmp("fast.csv", "a,b\n1,\"x\"\n")
    val scan = CsvReader.read(spark, p, CsvOptions(fastMode = true))
    assert(rows(scan) == Seq(Seq("1", "\"x\"")))
  }

  test("buffer scan (readString) + trim") {
    val scan = CsvReader.readString(spark, "a,b\n  Alice  , 30 \n",
      CsvOptions(trimWhitespace = true, fastMode = false,
        maxRecordSize = 100))
    assert(rows(scan) == Seq(Seq("Alice", "30")))
  }

  test("unicode row survives") {
    val p = writeTmp("uni.csv", "a,b,c\n日本語,中文,한국어\n")
    assert(rows(CsvReader.read(spark, p)) == Seq(Seq("日本語", "中文", "한국어")))
  }

  test("dynamicTyping per-column opt-in leaves other columns strings") {
    val p = writeTmp("dynsel.csv", "a,b\n1,2\n3,4\n")
    val scan = CsvReader.read(spark, p, CsvOptions(
      dynamicTyping = true, dynamicTypingCols = Some(Set("a"))))
    assert(scan.df.schema("a").dataType.typeName == "double")
    assert(scan.df.schema("b").dataType.typeName == "string")
  }

  test("encoding detection: BOMs and windows-1252 heuristic") {
    import graft.sources.CsvLineParser.detectEncoding
    assert(detectEncoding(Array(0xef, 0xbb, 0xbf, 'a').map(_.toByte)) == "UTF-8")
    assert(detectEncoding(Array(0xff, 0xfe, 'a', 0).map(_.toByte)) == "UTF-16LE")
    assert(detectEncoding(Array(0xfe, 0xff, 0, 'a').map(_.toByte)) == "UTF-16BE")
    assert(detectEncoding("plain ascii".getBytes("UTF-8")) == "UTF-8")
    // 0xe9 alone is malformed UTF-8 (latin-1 e-acute)
    assert(detectEncoding(Array('c', 'a', 'f', 0xe9).map(_.toByte)) == "windows-1252")
  }

  test("windows-1252 file parses via detected encoding (line path)") {
    val dir = java.nio.file.Files.createTempDirectory("enc")
    val p = dir.resolve("w.csv")
    java.nio.file.Files.write(p,
      "name,word\nrow1,café\n".getBytes("windows-1252"))
    val scan = CsvReader.read(spark, p.toString, CsvOptions(
      detectEncoding = true, maxRecordSize = 1000))
    assert(rows(scan) == Seq(Seq("row1", "café")))
  }

  test("driver line parser handles nested quotes") {
    val f = CsvLineParser.parseLine("\"say \"\"hello, world\"\"\",x", ",", '"')
    assert(f.toSeq == Seq("say \"hello, world\"", "x"))
  }

  // ------------------------------------------- multiLine option conflicts

  test("multiLine + line-oriented option errors loudly") {
    val p = writeTmp("ml.csv", "a,b\n1,\"x\ny\"\n")
    val e = intercept[IllegalArgumentException] {
      CsvReader.read(spark, p, CsvOptions(multiLine = true, skipFirstNLines = 1))
    }
    assert(e.getMessage.contains("multiLine") &&
      e.getMessage.contains("skipFirstNLines"))
  }

  test("multiLine quoted-newline record parses with NO spurious errors") {
    val p = writeTmp("ml2.csv", "a,b\n1,\"two\nlines\"\n2,plain\n")
    val scan = CsvReader.read(spark, p, CsvOptions(multiLine = true))
    assert(rows(scan).toSet == Set(Seq("1", "two\nlines"), Seq("2", "plain")))
    // the raw-line field-count scan used to emit FieldMismatch for the
    // continuation lines of the quoted record
    assert(scan.errors.count() == 0)
  }

  // --------------------------------------------------------- meta surface

  test("meta reports detected delimiter, linebreak, truncated, fields") {
    val p = writeTmp("meta.csv", "a;b\r\n1;2\r\n3;4\r\n5;6\r\n")
    val scan = CsvReader.read(spark, p,
      CsvOptions(delimiter = None, preview = 2))
    assert(scan.meta.delimiter == ";")
    assert(scan.meta.linebreak == "\r\n")
    assert(scan.meta.truncated)
    assert(!scan.meta.aborted)
    assert(scan.meta.fields == Seq("a", "b"))
    assert(scan.df.count() == 2)
    val full = CsvReader.read(spark, p, CsvOptions(delimiter = None))
    assert(!full.meta.truncated)
  }

  test("delimitersToGuess extends the detection candidates") {
    val p = writeTmp("colon.csv", "a:b\n1:2\n3:4\n")
    val scan = CsvReader.read(spark, p, CsvOptions(delimiter = None,
      delimitersToGuess = Seq(',', ':')))
    assert(scan.meta.delimiter == ":")
    assert(scan.headers == Seq("a", "b"))
    assert(rows(scan).toSet == Set(Seq("1", "2"), Seq("3", "4")))
  }

  // ------------------------------------------------------- error emission

  test("undetectable delimiter falls back to comma and reports the error") {
    val p = writeTmp("onecol.csv", "word\nalpha\nbeta\n")
    val scan = CsvReader.read(spark, p, CsvOptions(delimiter = None))
    assert(scan.meta.delimiter == ",")
    val errs = scan.errors.collect().map(r => (r.getString(0), r.getString(1)))
    assert(errs.contains(("Delimiter", "UndetectableDelimiter")))
    assert(scan.df.count() == 2) // still parses as single column
  }

  test("odd quote count emits InvalidQuotes (file and line paths)") {
    val content = "a,b\n1,\"ok\"\n2,\"bad\n"
    val p = writeTmp("badq.csv", content)
    val fileScan = CsvReader.read(spark, p)
    val fileErrs = fileScan.errors.collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(fileErrs.contains(("Quotes", "InvalidQuotes")), fileErrs.toSeq)
    val lineScan = CsvReader.read(spark, p, CsvOptions(maxRecordSize = 1000))
    val lineErrs = lineScan.errors.collect()
      .filter(_.getString(1) == "InvalidQuotes")
    assert(lineErrs.length == 1 && lineErrs(0).getLong(3) == 2L) // line index
  }

  // ------------------------------------- castFns + dynamicTyping ordering

  test("castFns run per-column AFTER dynamicTyping") {
    import org.apache.spark.sql.functions._
    val p = writeTmp("cast.csv", "x,y\n10,foo\n20,bar\n")
    val scan = CsvReader.read(spark, p, CsvOptions(
      dynamicTyping = true,
      castFns = Map(
        // doubles x: only typed math if dynamicTyping already ran
        "x" -> (c => c * 2),
        "y" -> (c => upper(c)))))
    assert(scan.df.schema("x").dataType.typeName == "double")
    val got = scan.df.collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(got == Set((20.0, "FOO"), (40.0, "BAR")))
  }

  test("dynamicTypingPred selects columns by predicate (wins over Set form)") {
    val p = writeTmp("dtp.csv", "x,y\n1,2\n3,4\n")
    val scan = CsvReader.read(spark, p, CsvOptions(
      dynamicTyping = true,
      dynamicTypingCols = Some(Set("x", "y")),
      dynamicTypingPred = Some(_ == "x")))
    assert(scan.df.schema("x").dataType.typeName == "double")
    assert(scan.df.schema("y").dataType.typeName == "string")
  }

  // ----------------------------------------------------- step/abort hooks

  test("stepRows abort stops the drive; pause/resume continues it") {
    import graft.operators.Ops._
    import spark.implicits._
    val df = (1 to 100).toDF("v").coalesce(1)
    var seen = 0
    val res = df.stepRows { (_, h) =>
      seen += 1
      if (seen == 3) h.abort()
    }
    assert(res.aborted && res.rowsSeen == 3 && seen == 3)

    // pause inside the callback, resume from the callback (re-entrant)
    var n2 = 0
    val res2 = df.stepRows { (_, h) =>
      n2 += 1
      if (n2 == 5) { h.pause(); h.resume() } // sync resume keeps going
    }
    assert(!res2.aborted && res2.rowsSeen == 100 && n2 == 100)
  }

  test("stepRows pause returns control; caller-side resume finishes") {
    import graft.operators.Ops._
    import spark.implicits._
    val df = (1 to 10).toDF("v").coalesce(1)
    var n = 0
    val handle = df.stepper((_, h) => { n += 1; if (n == 4) h.pause() })
    handle.resume()
    assert(handle.isPaused && n == 4 && !handle.isAborted)
    handle.resume()
    assert(n == 10 && handle.rowsSeen == 10)
  }

  test("beforeFirstChunk can modify content; None keeps it unchanged") {
    // reference phase4-features.test.ts:177-213
    val p = writeTmp("bfc.csv",
      "# metadata line\nname,age\nAlice,30\nBob,25\n")
    val stripped = CsvReader.read(spark, p, CsvOptions(beforeFirstChunk =
      Some(c => Some(c.linesIterator.filterNot(_.startsWith("#")).mkString("\n")))))
    assert(stripped.headers == Seq("name", "age"))
    assert(rows(stripped).map(_.head).toSet == Set("Alice", "Bob"))
    var seen = ""
    val unchanged = CsvReader.read(spark, p, CsvOptions(
      comments = Some("#"),
      beforeFirstChunk = Some { c => seen = c; None })) // void → unchanged
    assert(seen.contains("name,age") && seen.contains("Alice,30"))
    assert(rows(unchanged).size == 2)
    // file path: a leading comment line is not a header either
    val direct = CsvReader.read(spark, p, CsvOptions(comments = Some("#")))
    assert(direct.headers == Seq("name", "age"))
    assert(rows(direct).map(_.head).toSet == Set("Alice", "Bob"))
  }

  test("beforeFirstChunk can inject rows; works on buffer input") {
    // reference phase4-features.test.ts:232-249 (inject) + parser.ts:405-411
    val p = writeTmp("bfc2.csv", "name,age\nAlice,30\n")
    val injected = CsvReader.read(spark, p, CsvOptions(beforeFirstChunk =
      Some(c => Some(c.stripLineEnd + "\nEve,40\n"))))
    assert(rows(injected).map(_.head).toSet == Set("Alice", "Eve"))
    val buf = CsvReader.readString(spark, "a,b\n1,2\n", CsvOptions(
      beforeFirstChunk = Some(c => Some(c + "3,4\n"))))
    assert(rows(buf).toSet == Set(Seq("1", "2"), Seq("3", "4")))
  }

  test("onRecord receives (fields, index, columns); can modify or drop") {
    // reference phase4-features.test.ts:256-341
    val p = writeTmp("onrec.csv",
      "name,age,city\nAlice,30,NYC\nBob,25,LA\nCharlie,35,SF\nDiana,28,Boston\n")
    // modify: uppercase names
    val upper = CsvReader.read(spark, p, CsvOptions(onRecord =
      Some((rec, _, _) => Some(rec.head.toUpperCase +: rec.tail))))
    assert(rows(upper).map(_.head) == Seq("ALICE", "BOB", "CHARLIE", "DIANA"))
    // drop: returning None skips the record
    val dropped = CsvReader.read(spark, p, CsvOptions(onRecord =
      Some((rec, _, _) => if (rec.head == "Bob") None else Some(rec))))
    assert(rows(dropped).map(_.head) == Seq("Alice", "Charlie", "Diana"))
    // context: 0-based index and resolved columns
    val tagged = CsvReader.read(spark, p, CsvOptions(onRecord =
      Some((rec, i, cols) =>
        Some(Seq(s"${cols.head}:$i:${rec.head}", rec(1), rec(2))))))
    assert(rows(tagged).map(_.head) ==
      Seq("name:0:Alice", "name:1:Bob", "name:2:Charlie", "name:3:Diana"))
  }

  test("stats reports rows emitted and error count (CSVStats)") {
    val p = writeTmp("stats.csv", "a,b\n1,2\n3,4,5\n6,7\n")
    val st = CsvReader.read(spark, p).stats()
    assert(st.rowsEmitted == 3)  // PERMISSIVE keeps the long row
    assert(st.errorCount == 1)   // TooManyFields on row 2
  }

  test("InvalidQuotes: literal quote mid-field not flagged; custom escape suppresses") {
    // a quote inside an unquoted field is literal per the reference parser
    val p = writeTmp("lonequote.csv", "a,b\nit's 5\" long,x\n")
    val scan = CsvReader.read(spark, p)
    assert(scan.errors.filter(org.apache.spark.sql.functions
      .col("code") === "InvalidQuotes").count() == 0)
    // an actually-unclosed quoted field IS flagged
    val p2 = writeTmp("unclosed.csv", "a,b\n\"oops,x\n")
    val scan2 = CsvReader.read(spark, p2)
    assert(scan2.errors.filter(org.apache.spark.sql.functions
      .col("code") === "InvalidQuotes").count() == 1)
    // custom escape char breaks the odd-count premise — check suppressed
    val scan3 = CsvReader.read(spark, p2, CsvOptions(escape = Some("\\")))
    assert(scan3.errors.filter(org.apache.spark.sql.functions
      .col("code") === "InvalidQuotes").count() == 0)
  }

  test("dynamicTyping: quoted empties coerce to null, don't block numerics") {
    // reference row.ts:444: value === "" → null under dynamicTyping, so a
    // numeric column with quoted empties still types as number
    val p = writeTmp("dynempty.csv", "a,b\n1,x\n\"\",y\n2.5,z\n")
    val scan = CsvReader.read(spark, p, CsvOptions(dynamicTyping = true))
    assert(scan.df.schema("a").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val vals = scan.df.orderBy("b").collect().map(r =>
      if (r.isNullAt(0)) null else r.getDouble(0))
    assert(vals.toSeq == Seq(1.0, null, 2.5))
  }

  test("onRecord runs before dynamicTyping and composes with it") {
    val p = writeTmp("onrec2.csv", "name,value\na,100\nb,7\n")
    val scan = CsvReader.read(spark, p, CsvOptions(
      dynamicTyping = true,
      onRecord = Some((rec, _, _) => // double the raw string value
        Some(Seq(rec.head, (rec(1).toInt * 2).toString)))))
    assert(scan.df.schema("value").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(rows(scan).map(_(1)) == Seq(200.0, 14.0))
  }

  test("fileModified tracks mtime/size changes (ref parser.zig:407-414)") {
    val p = writeTmp("modcheck.csv", "a,b\n1,2\n")
    val scan = CsvReader.read(spark, p)
    assert(!scan.fileModified, "fresh scan must not report modified")
    // size change always trips the check (mtime tick can be coarse)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "a,b\n1,2\n3,4\n")
    assert(scan.fileModified, "appended file must report modified")
    // stat failure reports modified, like the reference
    java.nio.file.Files.delete(java.nio.file.Paths.get(p))
    assert(scan.fileModified, "deleted file must report modified")
    // buffer scans have no file handle → never modified — including the
    // multiLine route, which parses via an INTERNAL temp file whose
    // snapshot must not leak into the scan
    val buf = CsvReader.readString(spark, "x,y\n1,2\n")
    assert(!buf.fileModified)
    val bufMl = CsvReader.readString(spark, "x,y\n\"a\nb\",2\n",
      graft.sources.CsvOptions(multiLine = true))
    assert(bufMl.source.isEmpty && !bufMl.fileModified)
  }

  test("stream scan drains a chunky InputStream to EOF and parses " +
      "identically to a one-shot buffer (ref parser.ts:472-497)") {
    val csv = "a,b\n\"line\nbreak\",2\nCherry,3\n"
    // a producer that never returns more than 3 bytes per read — a
    // drain that trusted one read() would truncate after 3 bytes
    class Chunky(data: Array[Byte]) extends java.io.InputStream {
      private var pos = 0
      var closed = false
      override def read(): Int =
        if (pos >= data.length) -1 else { pos += 1; data(pos - 1) & 0xff }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= data.length) return -1
        val n = math.min(3, math.min(len, data.length - pos))
        System.arraycopy(data, pos, b, off, n); pos += n; n
      }
      override def close(): Unit = closed = true
    }
    val in = new Chunky(csv.getBytes("UTF-8"))
    val opts = graft.sources.CsvOptions(multiLine = true)
    val got = CsvReader.readInputStream(spark, in, opts)
      .df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val exp = CsvReader.readString(spark, csv, opts)
      .df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == exp && got == Set(("line\nbreak", "2"), ("Cherry", "3")))
    assert(in.closed, "the drained stream must be closed")
  }
}
