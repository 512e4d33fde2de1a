package graft.cli

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ops._
import graft.operators.Stats
import graft.sources.{CsvOptions, CsvReader, CsvWriter}

/** CLI — the reference's 11 commands (reference: src/cli/index.ts:48-109,
  * command impls under src/cli/commands/). Config precedence CLI > env
  * (GRAFT_ prefix) > config file (.graftrc, cwd → parents → home), matching
  * src/cli/config.ts:25-107.
  *
  * All heavy work stays in Spark plans; the CLI only renders `collect()`ed
  * heads (reference renders whole results — we cap table rendering, the
  * full result goes to --output).
  */
object Main {

  final case class Args(
      command: String = "",
      file: String = "",
      n: Int = 10,
      column: Option[String] = None,
      columns: Option[String] = None,
      desc: Boolean = false,
      filter: Option[String] = None,
      to: String = "json",
      delimiter: Option[String] = None,
      noHeader: Boolean = false,
      output: Option[String] = None,
      format: Option[String] = None,
      iterations: Int = 3,
      minShare: Double = 0.001,
      shell: String = "bash")

  def main(argv: Array[String]): Unit = sys.exit(run(argv, Console.out))

  /** testable entry: returns exit code, prints to `out`. */
  def run(argv: Array[String], out: java.io.PrintStream): Int = {
    if (argv.isEmpty) { out.println(usage); return 1 }
    val fileConf = loadConfigFile()
    val envConf = sys.env.collect {
      case (k, v) if k.startsWith("GRAFT_") =>
        k.stripPrefix("GRAFT_").toLowerCase -> v
    }
    val conf = fileConf ++ envConf // env overrides file; CLI overrides both
    val a0 = Args(
      delimiter = conf.get("delimiter"),
      format = conf.get("format"),
      noHeader = conf.get("header").contains("false"))
    val a =
      try parseArgs(argv.toList, a0)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}"); return 1
      }

    a.command match {
      case "completions" => out.println(completions(a.shell)); 0
      case "" | "help" | "--help" => out.println(usage); 0
      case cmd =>
        val spark = session()
        try dispatch(cmd, a, spark, out)
        catch {
          case e: Exception => System.err.println(s"error: ${e.getMessage}"); 1
        }
    }
  }

  /** The host's live session when there is one, untouched — the CLI's
    * defaults apply only to a session the CLI creates itself (a builder
    * `config` on an existing session would rewrite the host's conf).
    */
  private def session(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse(SparkSession.builder()
        .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
        .appName("graft-cli")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
          graft.GraftSession.CodegenCacheEntries.toString)
        .getOrCreate())

  private def scan(spark: SparkSession, a: Args): DataFrame = {
    val opts = CsvOptions(
      delimiter = a.delimiter.orElse(Some(",")).filter(_ != "auto"),
      header = !a.noHeader)
    if (a.file.endsWith(".parquet")) spark.read.parquet(a.file)
    else if (a.file == "-") {
      val content = scala.io.Source.stdin.mkString
      CsvReader.readString(spark, content, opts).df
    } else CsvReader.read(spark, a.file, opts).df
  }

  private def dispatch(cmd: String, a: Args, spark: SparkSession,
      out: java.io.PrintStream): Int = {
    val t0 = System.nanoTime()
    // rows processed, for the reference's stderr run summary
    // (src/cli/index.ts:190-204 printSummary)
    var processed: Option[Long] = None
    def note(n: Long): Long = { processed = Some(n); n }
    val code = cmd match {
      case "count" =>
        out.println(note(scan(spark, a).count())); 0
      case "head" =>
        note(render(scan(spark, a).firstN(a.n), a, out)); 0
      case "tail" =>
        val df = scan(spark, a).withRowIndex("__idx")
        note(render(df.lastN(a.n, "__idx").drop("__idx"), a, out)); 0
      case "select" =>
        val df = scan(spark, a)
        val cols = a.columns.getOrElse(a.column.getOrElse("")).split(",")
          .map(_.trim).filter(_.nonEmpty)
          .map(c => if (c.forall(_.isDigit)) df.columns(c.toInt) else c)
        note(render(df.selectCols(cols.toIndexedSeq: _*), a, out)); 0
      case "filter" =>
        val expr = a.filter.getOrElse(
          throw new IllegalArgumentException("filter requires -f <expr>"))
        note(render(scan(spark, a).filterExpr(expr), a, out)); 0
      case "sort" =>
        val c = a.column.getOrElse(
          throw new IllegalArgumentException("sort requires -c <column>"))
        note(render(scan(spark, a).sorted(c, descending = a.desc), a, out)); 0
      case "convert" =>
        val dest = a.output.getOrElse(a.file + "." + a.to)
        note(counted(scan(spark, a)) { df =>
          a.to match {
            case "json"  => java.nio.file.Files.writeString(
              java.nio.file.Paths.get(dest), CsvWriter.toJsonString(df))
            case "jsonl" => CsvWriter.writeJsonl(df, dest)
            case "tsv"   => CsvWriter.writeTsv(df, dest)
            case "csv"   => CsvWriter.write(df, dest)
            case other => throw new IllegalArgumentException(s"unknown format $other")
          }
        })
        System.err.println(s"wrote $dest"); 0
      case "validate" =>
        val s = CsvReader.read(spark, a.file, CsvOptions(
          delimiter = a.delimiter.filter(_ != "auto").orElse(Some(",")),
          header = !a.noHeader))
        val errs = s.errors.limit(10).collect()
        // count only on the OK path — the error path exits 1, whose
        // summary never prints a row count, so the pass would be wasted
        if (errs.isEmpty) { note(s.df.count()); out.println("OK"); 0 }
        else {
          errs.foreach(e => out.println(
            s"${e.getString(0)}/${e.getString(1)}: ${e.getString(2)}" +
              (if (!e.isNullAt(3)) s" (row ${e.getLong(3)})" else "")))
          1
        }
      case "stats" =>
        val df = scan(spark, a)
        val n = render(Stats.profile(df), a, out)
        // -c COL adds a heavy-hitter panel: every value of COL holding at
        // least --min-share of rows, with its EXACT count — the Count-Min
        // gated path (Stats.heavyHittersShare), so the panel stays cheap
        // on high-cardinality columns where a full value groupBy would
        // shuffle every distinct value
        a.column.foreach { c =>
          val esc = s"`${c.replace("`", "``")}`"
          val hot = Stats.heavyHittersShare(df, col(esc), a.minShare)
            .orderBy(col("cnt").desc, col("key"))
            .withColumnRenamed("key", c)
          out.println(s"# heavy hitters: $c (share >= ${a.minShare})")
          render(hot, a.copy(output = None), out); ()
        }
        note(n); 0
      case "benchmark" =>
        val bytes = new java.io.File(a.file).length()
        var rows = 0L
        val times = (0 to a.iterations).map { _ =>
          val s0 = System.nanoTime()
          rows = scan(spark, a).count()
          (System.nanoTime() - s0) / 1e9
        }.drop(1) // warmup
        note(rows)
        val mbps = times.map(t => bytes / 1e6 / t)
        out.println(f"avg ${mbps.sum / mbps.size}%.1f MB/s  " +
          f"best ${mbps.max}%.1f  worst ${mbps.min}%.1f  (${a.iterations} iters)")
        0
      case other =>
        System.err.println(s"unknown command: $other\n$usage"); 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // reference summary line (src/cli/index.ts:190-204): row count with
    // thousands separators, elapsed seconds, MB/s when the input is a
    // real file whose size is knowable
    val rowsTxt = processed.map(n =>
      String.format(java.util.Locale.US, "%,d", Long.box(n)))
    val mb = Option(a.file).filter(f => f.nonEmpty && f != "-")
      .map(new java.io.File(_)).filter(_.isFile).map(_.length() / 1024.0 / 1024.0)
    // Locale.US throughout: the f"" interpolator uses the default locale,
    // which prints '0,12s' under comma-decimal locales and breaks parsers
    def us(fmt: String, v: Double) =
      String.format(java.util.Locale.US, fmt, Double.box(v))
    val secsTxt = us("%.2f", secs)
    val tput = mb.filter(_ => secs > 0)
      .map(m => s" (${us("%.1f", m / secs)} MB/s)").getOrElse("")
    rowsTxt match {
      case Some(r) if code == 0 =>
        System.err.println(s"✓ Processed $r rows in ${secsTxt}s$tput")
      case _ =>
        System.err.println(s"✓ done in ${secsTxt}s")
    }
    code
  }

  // -------------------------------------------------------------- render

  /** The number of rows `write` wrote, taken from an Observation on the
    * frame it writes — the write is the only pass over `df`.
    */
  private def counted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** Returns the number of rows rendered/written (for the run summary). */
  private def render(df: DataFrame, a: Args, out: java.io.PrintStream): Long = {
    a.output match {
      case Some(path) =>
        counted(df)(CsvWriter.write(_, path))
      case None =>
        val fmt = a.format.getOrElse(
          if (System.console() != null) "table" else "csv")
        val rows = df.limit(1000).collect()
        fmt match {
          case "json" =>
            out.println(df.limit(1000).toJSON.collect().mkString("[", ",", "]"))
          case "table" =>
            val header = df.columns
            val data = rows.map(r => (0 until r.length)
              .map(i => Option(r.get(i)).map(_.toString).getOrElse("")).toArray)
            val widths = header.indices.map(i =>
              (header(i).length +: data.map(_(i).length)).max)
            def line(vals: Seq[String]) = vals.zip(widths)
              .map { case (v, w) => v.padTo(w, ' ') }.mkString(" | ")
            out.println(line(header.toIndexedSeq))
            out.println(widths.map("-" * _).mkString("-+-"))
            data.foreach(r => out.println(line(r.toIndexedSeq)))
          case _ => // csv
            out.println(CsvWriter.unparseString(df.limit(1000),
              CsvWriter.WriteOptions(lineEnding = "\n")))
        }
        rows.length.toLong
    }
  }

  // ---------------------------------------------------------------- args

  /** `v` parsed as `flag`'s value, or an IllegalArgumentException
    * saying what the flag expects. */
  private def num[T](flag: String, v: String, expects: String)(
      parse: String => Option[T]): T =
    parse(v).getOrElse(
      throw new IllegalArgumentException(s"$flag expects $expects, got '$v'"))

  @annotation.tailrec
  private def parseArgs(rest: List[String], acc: Args): Args = rest match {
    case Nil => acc
    case (f @ ("-n" | "--lines")) :: v :: t =>
      parseArgs(t, acc.copy(n = num(f, v, "an integer")(_.toIntOption)))
    case ("-c" | "--column") :: v :: t => parseArgs(t, acc.copy(column = Some(v)))
    case "--columns" :: v :: t => parseArgs(t, acc.copy(columns = Some(v)))
    case "--desc" :: t => parseArgs(t, acc.copy(desc = true))
    case ("-f" | "--filter") :: v :: t => parseArgs(t, acc.copy(filter = Some(v)))
    case "--to" :: v :: t => parseArgs(t, acc.copy(to = v))
    case ("-d" | "--delimiter") :: v :: t => parseArgs(t, acc.copy(delimiter = Some(v)))
    case "--no-header" :: t => parseArgs(t, acc.copy(noHeader = true))
    case ("-o" | "--output") :: v :: t => parseArgs(t, acc.copy(output = Some(v)))
    case "--format" :: v :: t => parseArgs(t, acc.copy(format = Some(v)))
    case (f @ "--iterations") :: v :: t =>
      parseArgs(t, acc.copy(iterations =
        num(f, v, "an integer >= 1")(_.toIntOption.filter(_ >= 1))))
    case (f @ "--min-share") :: v :: t =>
      parseArgs(t, acc.copy(minShare = num(f, v, "a number")(_.toDoubleOption)))
    case v :: t if acc.command.isEmpty => parseArgs(t, acc.copy(command = v))
    case v :: t if acc.command == "completions" => parseArgs(t, acc.copy(shell = v))
    case v :: t if acc.file.isEmpty => parseArgs(t, acc.copy(file = v))
    case _ :: t => parseArgs(t, acc)
  }

  private def loadConfigFile(): Map[String, String] = {
    val candidates = Iterator.iterate(
      new java.io.File(".").getAbsoluteFile.getParentFile)(_.getParentFile)
      .takeWhile(_ != null).map(d => new java.io.File(d, ".graftrc")) ++
      Iterator(new java.io.File(sys.props("user.home"), ".graftrc"))
    candidates.find(_.exists()).map { f =>
      scala.io.Source.fromFile(f).getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split("=", 2) match {
            case Array(k, v) => Some(k.trim -> v.trim)
            case _ => None
          }
        }.toMap
    }.getOrElse(Map.empty)
  }

  private def completions(shell: String): String = shell match {
    case "zsh" =>
      """#compdef graft
        |_arguments '1:command:(count head tail select filter sort convert validate stats benchmark completions)' '*:file:_files'""".stripMargin
    case "fish" =>
      """complete -c graft -n __fish_use_subcommand -a 'count head tail select filter sort convert validate stats benchmark completions'""".stripMargin
    case _ =>
      """_graft() { COMPREPLY=($(compgen -W "count head tail select filter sort convert validate stats benchmark completions" -- "${COMP_WORDS[1]}")); }
        |complete -F _graft graft""".stripMargin
  }

  private val usage: String =
    """graft <command> <file> [options]
      |commands:
      |  count | head -n N | tail -n N | select --columns a,b | filter -f EXPR
      |  sort -c COL [--desc] | convert --to json|jsonl|tsv|csv | validate
      |  stats [-c COL [--min-share S]] | benchmark [--iterations N] | completions bash|zsh|fish
      |options: -d DELIM | --no-header | -o OUT | --format table|csv|json""".stripMargin
}
