package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType}

import graft.sources.{CsvOptions, CsvReader}

/** One pass per CSV-layer operation: the strict shape reads through the
  * file parse (its rows and error lines still equal the line path's),
  * `read` starts no job beyond dynamicTyping's inference, and the CSV
  * kernels resolve on the session that owns the frame.
  */
class CsvOnePassSpec extends SparkSpec {

  private val strict = CsvOptions(skipRecordsWithError = true)

  /** A 3-column CSV of `rows` records with planted ragged rows, quoted
    * commas, doubled quotes and unclosed quotes. */
  private def raggedCsv(rows: Int): String = {
    val sb = new StringBuilder("id,name,note\n")
    for (i <- 0 until rows) sb.append(i % 97 match {
      case 0 => s"$i,short\n"
      case 1 => s"$i,a,b,extra\n"
      case 2 => s"$i,\"q, \"\"x\"\"\",n\n"
      case 3 => s"$i,\"open,n\n"
      case _ => s"$i,name-$i,w${i % 13}\n"
    })
    sb.toString
  }

  // above the split floor, so the file scan has several splits
  private lazy val content = raggedCsv(120000)
  private lazy val ragged = writeTmp("ragged.csv", content)
  private lazy val lineRows = sortedRows(CsvReader.readString(spark, content, strict))
  private lazy val lineErrors = errorLines(CsvReader.readString(spark, content, strict))

  private def sortedRows(s: CsvReader.CsvScan) =
    s.df.collect().map(_.toString).sorted.toSeq
  private def errorLines(s: CsvReader.CsvScan) =
    s.errors.collect().map(r => (r.getString(1), r.getLong(3))).sorted.toSeq

  private def checkStrict(): Unit = {
    val file = CsvReader.read(spark, ragged, strict)
    assert(file.df.rdd.getNumPartitions >= 2)
    val rows = sortedRows(file)
    assert(file.df.count() == rows.length)
    assert(rows == lineRows)
    assert(errorLines(file) == lineErrors)
  }

  test("strict shape on a split file: count, rows and error line numbers " +
      "equal the line path's") {
    checkStrict()
  }

  test("strict shape on an input above cores × maxPartitionBytes") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (256 * 1024).toString)
    try {
      assert(new java.io.File(ragged).length() >
        spark.sparkContext.defaultParallelism * 256L * 1024)
      checkStrict()
    } finally spark.conf.set(key, prev)
  }

  test("strict shape with a multi-character comment prefix reads on the " +
      "line path") {
    val f = writeTmp("comment.csv", "a,b\n// note\n1,2\n3\n4,5\n")
    val s = CsvReader.read(spark, f, strict.copy(comments = Some("//")))
    assert(sortedRows(s) == Seq("[1,2]", "[4,5]"))
    assert(errorLines(s) == Seq(("TooFewFields", 3L)))
  }

  test("the errors frame evaluates the line kernel once per line") {
    val plan = CsvReader.read(spark, ragged).errors
      .queryExecution.optimizedPlan.toString
    assert("csv_line_check".r.findAllIn(plan).size == 1, plan)
  }

  /** `body`'s result and the number of jobs it started. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet(): Unit
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("read starts no job for the default and strict shapes, and only " +
      "the inference job(s) for dynamicTyping") {
    assert(jobsIn(CsvReader.read(spark, ragged))._2 == 0)
    assert(jobsIn(CsvReader.read(spark, ragged, strict))._2 == 0)
    val (typed, typedJobs) =
      jobsIn(CsvReader.read(spark, ragged, CsvOptions(dynamicTyping = true)))
    // inference is one single-stage job
    assert(typedJobs == 1)
    assert(typed.df.schema("id").dataType == DoubleType)
  }

  test("kernels resolve on the frame's own session, active or not") {
    val other = spark.newSession()
    assert(SparkSession.active ne other)
    val f = writeTmp("typed.csv", "a,b,c\n1,true,x\n2.5,FALSE,y\n3,true,\"z\n")
    val typed = CsvReader.read(other, f, CsvOptions(dynamicTyping = true))
    assert(typed.df.schema.map(_.dataType) ==
      Seq(DoubleType, BooleanType, StringType))
    assert(typed.errors.count() == 1)
    assert(CsvReader.read(other, f, strict).df.count() == 3)
  }
}
