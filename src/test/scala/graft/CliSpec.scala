package graft

import graft.cli.Main

/** CLI end-to-end (reference test/phase6-test.ts shape): run commands
  * against a fixture file, capture stdout.
  */
class CliSpec extends SparkSpec {

  private lazy val fixture: String = writeTmp("cli.csv",
    "name,qty,price\nApple,10,1.50\nBanana,25,0.25\nCherry,100,5.00\n")

  private def runCli(args: String*): (Int, String) = {
    spark // force shared session so the CLI reuses it (getOrCreate)
    val bos = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(bos, true, "UTF-8")
    val code = Main.run(args.toArray, ps)
    (code, bos.toString("UTF-8"))
  }

  test("count") {
    val (code, out) = runCli("count", fixture)
    assert(code == 0 && out.trim == "3")
  }

  test("stdin scan: file '-' reads the CSV from standard input " +
      "(reference src/cli/index.ts:294-299)") {
    val csv = "name,qty\nApple,10\nBanana,25\n"
    val prev = System.in
    def withStdin[T](body: => T): T =
      try {
        System.setIn(new java.io.ByteArrayInputStream(
          csv.getBytes("UTF-8")))
        body
      } finally System.setIn(prev)
    val (code, out) = withStdin(runCli("count", "-"))
    assert(code == 0 && out.trim == "2")
    // fields parse too, not just the row count
    val (code2, out2) = withStdin(
      runCli("select", "-", "--columns", "name", "--format", "csv"))
    assert(code2 == 0 && out2.startsWith("name") && out2.contains("Banana"))
  }

  test("head respects -n and csv format") {
    val (code, out) = runCli("head", fixture, "-n", "2", "--format", "csv")
    assert(code == 0)
    assert(out.contains("Apple") && out.contains("Banana") && !out.contains("Cherry"))
  }

  test("select by names and by indices") {
    val (_, byName) = runCli("select", fixture, "--columns", "name,price", "--format", "csv")
    assert(byName.startsWith("name,price"))
    val (_, byIdx) = runCli("select", fixture, "--columns", "0,2", "--format", "csv")
    assert(byIdx.startsWith("name,price"))
  }

  test("filter expression") {
    val (_, out) = runCli("filter", fixture, "-f", "qty > 20", "--format", "csv")
    assert(out.contains("Banana") && out.contains("Cherry") && !out.contains("Apple"))
  }

  test("sort desc") {
    val (_, out) = runCli("sort", fixture, "-c", "qty", "--desc", "--format", "csv")
    val names = out.linesIterator.drop(1).map(_.split(",")(0)).toSeq
    // string sort: "100" < "25" lexicographically → desc gives 25-qty first? No:
    // raw CSV is string-typed → lexicographic desc: "25","100","10"→ "25" first
    assert(names == Seq("Banana", "Cherry", "Apple"))
  }

  test("validate reports mismatches with exit 1") {
    val bad = writeTmp("bad.csv", "a,b\n1,2,3\n4\n5,6\n")
    val (code, out) = runCli("validate", bad)
    assert(code == 1)
    assert(out.contains("TooManyFields") && out.contains("TooFewFields"))
  }

  test("a host session keeps its own shuffle partitions") {
    // the CLI's defaults are for a session it creates, not the host's
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      val (code, out) = runCli("count", fixture)
      assert(code == 0 && out.trim == "3")
      assert(spark.conf.get(key) == "7")
    } finally spark.conf.set(key, prev)
  }

  test("validate OK file") {
    val (code, out) = runCli("validate", fixture)
    assert(code == 0 && out.trim == "OK")
  }

  test("stats profile") {
    val (_, out) = runCli("stats", fixture, "--format", "csv")
    assert(out.contains("col_name") && out.contains("name") && out.contains("qty"))
  }

  test("stats -c COL adds a heavy-hitter panel with exact counts") {
    val hot = writeTmp("hot.csv", "tok\n" +
      (Seq.fill(6)("the") ++ Seq.fill(3)("a") ++ Seq("rare")).mkString("\n") + "\n")
    // min-share 0.3 → bar = ceil(0.3·10) = 3: 'the' (6) and 'a' (3) make
    // it, 'rare' (1) must not
    val (code, out) = runCli("stats", hot, "-c", "tok",
      "--min-share", "0.3", "--format", "csv")
    assert(code == 0)
    assert(out.contains("# heavy hitters: tok"))
    val panel = out.substring(out.indexOf("# heavy hitters"))
    assert(panel.contains("the,6") && panel.contains("a,3"), panel)
    assert(!panel.contains("rare"), panel)
  }

  test("convert to jsonl") {
    val dest = java.nio.file.Files.createTempDirectory("conv").toString + "/out"
    val (code, _) = runCli("convert", fixture, "--to", "jsonl", "-o", dest)
    assert(code == 0)
    val lines = spark.read.textFile(dest).collect()
    assert(lines.length == 3 && lines.forall(_.startsWith("{")))
  }

  test("completions emit for all shells") {
    for (sh <- Seq("bash", "zsh", "fish")) {
      val (code, out) = runCli("completions", sh)
      assert(code == 0 && out.nonEmpty)
    }
  }

  test("table render is default-ish and aligned") {
    val (_, out) = runCli("head", fixture, "--format", "table")
    assert(out.linesIterator.next().contains("name"))
    assert(out.contains("-+-"))
  }

  test("stdin scan via '-' path") {
    val in = new java.io.ByteArrayInputStream(
      "a,b\n1,2\n3,4\n".getBytes("UTF-8"))
    val old = System.in
    try {
      System.setIn(in)
      val (code, out) = runCli("count", "-")
      assert(code == 0 && out.trim == "2")
    } finally System.setIn(old)
  }

  test("benchmark command reports MB/s") {
    val (code, out) = runCli("benchmark", fixture, "--iterations", "1")
    assert(code == 0 && out.contains("MB/s"))
  }

  /** Exit code and stderr of one CLI run. */
  private def runCliErr(args: String*): (Int, String) = {
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    val code = try runCli(args: _*)._1 finally System.setErr(oldErr)
    (code, errBuf.toString("UTF-8"))
  }

  test("a malformed -n is a usage error, not a stack trace") {
    val (code, err) = runCliErr("head", fixture, "-n", "abc")
    assert(code == 1 && err.contains("error: -n expects an integer"), err)
  }

  test("benchmark --iterations must be at least 1") {
    val (code, err) = runCliErr("benchmark", fixture, "--iterations", "0")
    assert(code == 1 &&
      err.contains("error: --iterations expects an integer >= 1"), err)
  }

  test("a malformed --min-share is a usage error") {
    val (code, err) = runCliErr("stats", fixture, "-c", "name",
      "--min-share", "lots")
    assert(code == 1 && err.contains("error: --min-share expects a number"),
      err)
  }

  test("unknown command exits nonzero") {
    val (code, _) = runCli("frobnicate", fixture)
    assert(code == 1)
  }

  test("stderr run summary: ✓ Processed N rows in S s (MB/s)") {
    // reference src/cli/index.ts:190-204 printSummary
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try {
      val (code, out) = runCli("count", fixture)
      assert(code == 0 && out.trim == "3")
    } finally System.setErr(oldErr)
    val err = errBuf.toString("UTF-8")
    val re = """✓ Processed 3 rows in \d+\.\d{2}s \(\d+(\.\d+)? MB/s\)""".r
    assert(re.findFirstIn(err).isDefined, s"stderr was: $err")
  }

  /** Data rows in a CLI output: JSON objects in a `json` file, else the
    * lines of a directory's part files minus their header lines. */
  private def rowsIn(dest: String, kind: String): Int = {
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val f = new java.io.File(dest)
    if (kind == "json") text(f).count(_ == '{')
    else {
      val header = if (kind == "tsv") "name\tqty\tprice" else "name,qty,price"
      f.listFiles().filter(_.getName.startsWith("part-"))
        .flatMap(p => text(p).linesIterator).count(_ != header)
    }
  }

  test("writes report the rows they wrote: sort/filter -o, convert --to " +
      "jsonl|json|csv|tsv, and 0 for an empty result") {
    val dir = java.nio.file.Files.createTempDirectory("cliout")
    SparkSpec.cleanupAtExit(dir.toFile)
    def at(name: String) = dir.resolve(name).toString
    val cases = Seq(
      (Seq("sort", fixture, "-c", "qty", "-o", at("sort")), "csv", 3),
      (Seq("filter", fixture, "-f", "qty > 20", "-o", at("filter")), "csv", 2),
      (Seq("filter", fixture, "-f", "qty > 1000", "-o", at("empty")), "csv", 0),
      // a limit 0, optimized to an empty relation
      (Seq("head", fixture, "-n", "0", "-o", at("head0")), "csv", 0)) ++
      Seq("jsonl", "json", "csv", "tsv").map(to =>
        (Seq("convert", fixture, "--to", to, "-o", at(s"convert.$to")), to, 3))
    for ((args, kind, rows) <- cases) {
      val (code, err) = runCliErr(args: _*)
      assert(code == 0, s"$args: $err")
      assert(rowsIn(args.last, kind) == rows, args)
      assert(err.contains(s"✓ Processed $rows rows in"), s"$args: $err")
    }
  }
}
