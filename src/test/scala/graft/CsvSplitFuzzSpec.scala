package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.{CsvOptions, CsvReader}

/** Split-boundary fuzz: files big enough to split one way per core, with
  * a planted record straddling EVERY split cut — the cut lands inside a
  * CRLF, a doubled quote, a quoted delimiter, a ragged row, or a 3-/4-byte
  * UTF-8 character. A split file scan must give the rows and error codes
  * of the buffer path (`readString`, no splits) on the same content.
  */
class CsvSplitFuzzSpec extends SparkSpec {

  private lazy val cores = spark.sparkContext.defaultParallelism

  /** A planted line for cut k and the byte offsets inside it the cut may
    * land on (cycled by k).
    */
  private final case class Feature(name: String, eol: String,
      line: (Int, String) => String, cutAt: String => Seq[Int])

  private def bytes(s: String) = s.getBytes(UTF_8).length
  private val Q = "\""

  private val features = Seq(
    Feature("CRLF", "\r\n", (i, eol) => s"$i,crlf,x$eol",
      l => Seq(bytes(l) - 1, bytes(l) - 2)),
    Feature("doubled quote", "\n", (i, eol) => s"$i,${Q}say $Q${Q}hi$Q$Q$Q,q$eol",
      l => Seq(l.indexOf(Q * 2) + 1, l.lastIndexOf(Q * 3) + 1)),
    Feature("quoted delimiter", "\n", (i, eol) => s"$i,${Q}a,b$Q,d$eol",
      l => Seq(l.indexOf("a,b") + 1, l.indexOf("a,b") + 2)),
    Feature("ragged row", "\n",
      (i, eol) => if (i % 2 == 0) s"$i,short$eol" else s"$i,long,x,extra$eol",
      l => Seq(bytes(l) / 2)),
    Feature("3-byte UTF-8", "\n", (i, eol) => s"$i,€uro,u$eol",
      l => Seq(1, 2).map(bytes(l.take(l.indexOf('€'))) + _)),
    Feature("4-byte UTF-8", "\n", (i, eol) => s"$i,😀!,u$eol",
      l => Seq(1, 2, 3).map(bytes(l.take(l.indexOf('\uD83D'))) + _)))

  /** Content of `total` bytes whose every cut (multiples of `split`)
    * falls inside a planted `f` line.
    */
  private def planted(f: Feature, total: Long, split: Long): String = {
    val sb = new StringBuilder(s"id,name,note${f.eol}")
    var size = bytes(sb.toString).toLong
    var i = 0
    def put(s: String): Unit = { sb.append(s); size += bytes(s); i += 1 }
    // filler up to exactly `to` bytes: whole rows, then one padded row
    def fill(to: Long): Unit = {
      while (to - size > 300) put(s"$i,row-$i,w${i % 13}${f.eol}")
      val head = s"$i,pad,"
      put(head + "x" * (to - size - head.length - f.eol.length).toInt + f.eol)
    }
    for (k <- 1 until ((total + split - 1) / split).toInt) {
      val line = f.line(i, f.eol)
      val offs = f.cutAt(line)
      fill(k * split - offs(k % offs.size))
      assert(size < k * split && k * split < size + bytes(line))
      put(line)
    }
    fill(total)
    assert(size == total)
    sb.toString
  }

  private val shapes = Seq("default" -> CsvOptions(),
    "dynamicTyping" -> CsvOptions(dynamicTyping = true),
    "skipRecordsWithError" -> CsvOptions(skipRecordsWithError = true))

  private def rows(s: CsvReader.CsvScan) =
    (s.df.schema, s.df.collect().map(_.toString).sorted.toSeq)
  private def errorCodes(s: CsvReader.CsvScan) =
    s.errors.select("errType", "code", "message").collect()
      .map(_.toString).sorted.toSeq

  for (f <- features) test(s"a ${f.name} straddling every split cut") {
    val total = cores * CsvReader.SplitFloorBytes + 9 * cores + 5
    val split = CsvReader.splitBytes(total, cores,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val content = planted(f, total, split)
    val path = writeTmp("fuzz.csv", content)
    for ((shape, opts) <- shapes) {
      val file = CsvReader.read(spark, path, opts)
      assert(file.df.rdd.getNumPartitions > 1, shape)
      val buffer = CsvReader.readString(spark, content, opts)
      assert(rows(file) == rows(buffer), shape)
      assert(errorCodes(file) == errorCodes(buffer), shape)
    }
  }
}
