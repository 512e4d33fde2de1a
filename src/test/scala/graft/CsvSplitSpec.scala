package graft

import graft.sources.{CsvOptions, CsvReader}

/** Per-read split sizing (`CsvReader.splitBytes`): every file scan
  * CsvReader plans is cut into one split per core, never below the
  * floor, never above the caller's `maxPartitionBytes` — and the
  * caller's session is left exactly as found.
  */
class CsvSplitSpec extends SparkSpec {

  private val floor = CsvReader.SplitFloorBytes
  private lazy val cores = spark.sparkContext.defaultParallelism

  /** An ASCII 3-column CSV of exactly `bytes` bytes. */
  private def csvOf(bytes: Long): String = {
    val sb = new StringBuilder("id,name,qty\n")
    var i = 0
    while (bytes - sb.length > 40) { sb.append(s"$i,name-$i,${i % 97}\n"); i += 1 }
    val pad = (bytes - sb.length - s"$i,,0\n".length).toInt
    sb.append(s"$i,${"x" * pad},0\n").toString
  }

  private val shapes = Seq(CsvOptions(), CsvOptions(dynamicTyping = true),
    CsvOptions(skipRecordsWithError = true))

  test("read leaves the caller's session conf exactly as found") {
    val f = writeTmp("big.csv", csvOf(cores * floor + 12345))
    // a windows-1252 read needs Spark's full Java charset set, on the
    // scan's own session, never on the caller's
    def conf = spark.conf.getAll
    val before = conf
    val scans = (shapes :+ CsvOptions(encoding = Some("windows-1252")))
      .map(CsvReader.read(spark, f, _))
    scans.foreach { s => s.df.count(); s.errors.count() }
    assert(conf == before)
    assert(scans.forall(s => (s.df.sparkSession eq spark) &&
      (s.errors.sparkSession eq spark)))
  }

  test("an input of at least cores × floor bytes scans in exactly " +
      "defaultParallelism partitions") {
    for (bytes <- Seq(cores * floor, cores * floor + 1,
        3 * cores * floor + 777)) {
      val f = writeTmp(s"n$bytes.csv", csvOf(bytes))
      for (opts <- shapes)
        assert(CsvReader.read(spark, f, opts).df.rdd.getNumPartitions ==
          cores, s"$bytes bytes, $opts")
    }
  }

  test("a sub-floor input scans in one partition; between floor and " +
      "cores × floor, one per floor") {
    val small = writeTmp("small.csv", csvOf(floor - 1))
    for (opts <- shapes)
      assert(CsvReader.read(spark, small, opts).df.rdd.getNumPartitions == 1)
    val mid = 2 * floor + floor / 2
    assume(mid < cores * floor)
    val f = writeTmp("mid.csv", csvOf(mid))
    assert(CsvReader.read(spark, f).df.rdd.getNumPartitions == 3)
  }

  test("splitBytes rounds to exactly one split per core") {
    for (p <- Seq(1, 2, 3, 4, 7, 8, 32, 96);
        t <- Seq(p * floor, p * floor + 1, p * floor + p - 1, 10 * p * floor + 3,
          123456789L)) {
      val split = CsvReader.splitBytes(t, p, Long.MaxValue)
      assert((t + split - 1) / split == p, s"$t bytes on $p cores")
    }
    assert(CsvReader.splitBytes(100, 4, Long.MaxValue) == floor)
    assert(CsvReader.splitBytes(1L << 40, 4, 128L << 20) == (128L << 20))
  }

  test("an input the caller's maxPartitionBytes already spreads plans " +
      "exactly as a plain spark.read.csv") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (floor / 4).toString)
    try {
      val f = writeTmp("capped.csv", csvOf(cores * floor))
      val plain = spark.read.option("header", "true").csv(f)
        .rdd.getNumPartitions
      assert(plain > cores)
      assert(CsvReader.read(spark, f).df.rdd.getNumPartitions == plain)
    } finally spark.conf.set(key, prev)
  }

  test("count() on a split scan still prunes every column") {
    val f = writeTmp("prune.csv", csvOf(cores * floor))
    val df = CsvReader.read(spark, f).df
    val q = df.groupBy().count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan csv") && plan.contains("ReadSchema: struct<>"),
      plan)
    assert(q.head().getLong(0) == df.rdd.count())
  }
}
