package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.sources.{CsvOptions, CsvReader}

/** One closed-loop client driving graft through its public entry points.
  *
  * Usage: Driver --workload W --input PATH --out REPORT.json --seconds S
  *   --min-passes P --trace 0|1 --cores N --seed N
  *   --scratch DIR [--queries q1,q2,...]
  *
  * It sets up once (session start plus one untimed warm pass), then runs
  * passes over the workload's operations back to back until S seconds
  * have gone and at least P passes have run. Every operation reports what
  * it observed, and run.py checks that against the ground truth. With
  * --trace 1, passes 2, 3, 6, 7, ... are traced (ABBA order): spans around
  * each call into a layer, the benchmark's listener, and query-phase times.
  */
object Driver {

  val OpProp = "perfbench.op"

  /** A workload: named operations making up one pass. `run` returns the
    * observation as a thunk evaluated after the operation's clock stops. */
  trait Workload {
    def ops(pass: Int): Seq[String]
    def run(spark: SparkSession, op: String, t: Tracer): () => Any
  }

  final case class OpRecord(pass: String, name: String, seconds: Double,
      error: Option[String], obs: Any, spans: Seq[(String, Double)],
      stats: Option[Map[String, Any]])

  @volatile private var currentOp = ""

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val minPasses = a("min-passes").toInt
    val seed = a("seed").toLong
    val workload: Workload = a("workload") match {
      case "csv_scan" => new CsvScan(a("input"), a("scratch"))
      case "catalog_mix" => new CatalogMix(a("input"),
        a("queries").split(",").toSeq, seed, a("scratch"))
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = new Tracer
    val records = ArrayBuffer[OpRecord]()
    // ---- set-up: session start + one untimed warm pass (below)
    val setupStart = System.nanoTime()
    val spark = newSession(cores, a("scratch"))

    def runOp(pass: String, name: String, listener: Option[BenchListener]): Unit = {
      val key = s"$pass/$name"
      currentOp = key
      spark.sparkContext.setLocalProperty(OpProp, key)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (err, observe) =
        try (None, workload.run(spark, name, tracer))
        catch { case NonFatal(e) => (Some(e.toString.take(500)), () => null) }
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      listener.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
      val obs =
        try observe()
        catch { case NonFatal(e) => Map("observe_error" -> e.toString.take(500)) }
      records += OpRecord(pass, name, secs, err, obs, tracer.take(),
        listener.map(_.stat(key).toMap(w0, w1)))
      spark.sparkContext.setLocalProperty(OpProp, null)
    }

    workload.ops(-1).foreach(op => runOp("s0", op, None))
    val setupSeconds = (System.nanoTime() - setupStart) / 1e9
    val builds = graft.BuildTimes.drain()
    val gcBefore = gcSeconds()
    jvmPools.foreach(_.resetPeakUsage())

    // ---- timed passes (closed loop)
    val listener = new BenchListener(() => currentOp)
    val passes = ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      // pass 0 is still warming the JIT; after it, ABBA order (untraced,
      // traced, traced, untraced, ...), so a steady warm-up trend does not
      // bias the traced-versus-untraced comparison
      val on = traced && (pass % 4 == 2 || pass % 4 == 3)
      if (on) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      tracer.enabled = on
      val p0 = System.nanoTime()
      workload.ops(pass).foreach(op => runOp(pass.toString, op,
        if (on) Some(listener) else None))
      passes += Map("pass" -> pass, "traced" -> on,
        "seconds" -> (System.nanoTime() - p0) / 1e9)
      if (on) {
        spark.listenerManager.unregister(listener)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracer.enabled = false
      pass += 1
    }
    val timedSeconds = (System.nanoTime() - start) / 1e9
    val buildsInTimed = graft.BuildTimes.drain()
    val gcTimed = gcSeconds() - gcBefore
    val heapPeak = jvmPools.map(_.getPeakUsage.getUsed).sum
    val info = Map(
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "tmpdir" -> System.getProperty("java.io.tmpdir"))
    workload match {
      case c: CatalogMix => c.writeResults(spark)
      case _ =>
    }
    spark.stop()

    val report = Map(
      "workload" -> a("workload"), "cores" -> cores,
      "setup_s" -> setupSeconds, "timed_s" -> timedSeconds,
      "builds" -> builds.map { case (k, s) => Map("key" -> k, "s" -> s) },
      "builds_in_timed" -> buildsInTimed.map(_._1),
      "passes" -> passes,
      "ops" -> records.map { r =>
        Map("pass" -> r.pass, "name" -> r.name, "s" -> r.seconds,
          "error" -> r.error.orNull, "obs" -> r.obs,
          "spans" -> r.spans.map { case (n, s) => Map("name" -> n, "s" -> s) },
          "stats" -> r.stats.orNull)
      },
      "jvm" -> Map("gc_s" -> gcTimed, "heap_peak_mb" -> heapPeak / 1048576.0,
        "rss_peak_mb" -> rssPeakMb()),
      "cache_peak_mb" -> listener.peakCacheBytes / 1048576.0,
      "info" -> info)
    writeJson(a("out"), report)
  }

  def writeJson(path: String, value: AnyRef): Unit =
    Files.write(Paths.get(path),
      Serialization.write(value)(DefaultFormats).getBytes(UTF_8)): Unit

  def newSession(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def jvmPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  // ------------------------------------------------------------ workloads

  /** The CSV layer: three read shapes fully materialized, the error
    * frame and the count path, then CLI commands through `cli.Main.run`
    * on the same file as a user would type them — a sort and a convert
    * that write (CSV, JSONL) and a validate that exits 1 on this input.
    * CLI outputs land in `scratch/cli`. */
  final class CsvScan(path: String, scratch: String) extends Workload {
    private val shapes = Map(
      "scan.default" -> CsvOptions(),
      "scan.typed" -> CsvOptions(dynamicTyping = true),
      "scan.strict" -> CsvOptions(skipRecordsWithError = true))
    private val out = s"$scratch/cli"
    private val commands = Map(
      "sort" -> Seq("sort", path, "-c", "code", "-o", s"$out/sort"),
      "convert_jsonl" -> Seq("convert", path, "--to", "jsonl", "-o", s"$out/convert_jsonl"),
      "validate" -> Seq("validate", path))
    private lazy val header = firstLine(new File(path))

    def ops(pass: Int): Seq[String] =
      Seq("scan.default", "scan.typed", "scan.strict", "scan.errors", "scan.count",
        "sort", "convert_jsonl", "validate")

    def run(spark: SparkSession, op: String, t: Tracer): () => Any = op match {
      case "scan.errors" =>
        val scan = t.span("open")(CsvReader.read(spark, path))
        val rows = t.span("materialize")(scan.errors.collect())
        () => Map("rows" -> rows.length,
          "codes" -> rows.groupBy(_.getString(1)).map { case (c, rs) => c -> rs.length })
      case "scan.count" =>
        val scan = t.span("open")(CsvReader.read(spark, path))
        val n = t.span("materialize")(scan.df.count())
        () => Map("rows" -> n)
      case shape if shapes.contains(shape) =>
        val scan = t.span("open")(CsvReader.read(spark, path, shapes(shape)))
        val row = t.span("materialize")(checksums(scan.df).head())
        () => observeChecksums(scan.df.schema, row)
      case command =>
        val argv = commands(command)
        val buf = new ByteArrayOutputStream()
        val ps = new PrintStream(buf, true, "UTF-8")
        val code = t.span(command)(graft.cli.Main.run(argv.toArray, ps))
        () => Map("exit" -> code,
          "stdout" -> new String(buf.toByteArray, UTF_8).take(65536),
          "output" -> argv.sliding(2).collectFirst { case Seq("-o", d) => outputSummary(d) }.orNull)
    }

    /** Part files of a written directory: count, bytes, lines, and how
      * many begin with the input's header line. */
    private def outputSummary(dir: String): Map[String, Any] = {
      val parts = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      var lines, headers = 0L
      parts.foreach { f =>
        if (firstLine(f) == header) headers += 1
        val in = Files.newBufferedReader(f.toPath, UTF_8)
        try while (in.readLine() != null) lines += 1 finally in.close()
      }
      Map("files" -> parts.length, "bytes" -> parts.map(_.length).sum,
        "lines" -> lines, "headers" -> headers)
    }
  }

  private def firstLine(f: File): String = {
    val in = Files.newBufferedReader(f.toPath, UTF_8)
    try Option(in.readLine()).getOrElse("") finally in.close()
  }

  /** One aggregate that evaluates every column of `df`: row count, then per
    * column its non-null count and a sum — crc32 of the UTF-8 bytes for
    * strings, cents for doubles, trues for booleans. */
  def checksums(df: DataFrame): DataFrame = {
    val aggs = count(lit(1)) +: df.schema.fields.toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      val sum0 = f.dataType match {
        case DoubleType => sum(round(c * 100).cast(LongType))
        case BooleanType => sum(c.cast(LongType))
        case _ => sum(crc32(c.cast(StringType).cast(BinaryType)))
      }
      Seq(count(c), coalesce(sum0, lit(0L)))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  def observeChecksums(schema: StructType, row: Row): Map[String, Any] =
    Map("rows" -> row.getLong(0),
      "cols" -> schema.fields.zipWithIndex.map { case (f, i) =>
        Map("name" -> f.name, "type" -> f.dataType.simpleString,
          "nonnull" -> row.getLong(1 + 2 * i), "sum" -> row.getLong(2 + 2 * i))
      }.toSeq)

  /** Catalog queries through `SparkEntry.queries`; the seed sets each
    * timed pass's query order. The set-up's warm pass pays for the shared
    * builds. */
  final class CatalogMix(dir: String, names: Seq[String], seed: Long,
      scratch: String) extends Workload {
    private val queries = graft.SparkEntry.queries
    private val results = scala.collection.mutable.Map[String, (StructType, Array[Row])]()

    def ops(pass: Int): Seq[String] =
      if (pass < 0) names
      else new scala.util.Random(seed * 7919 + pass).shuffle(names)

    def run(spark: SparkSession, op: String, t: Tracer): () => Any = {
      val df = t.span("build")(queries(op)(spark, dir))
      t.span("plan")(df.queryExecution.executedPlan)
      val rows = t.span("exec")(df.collect())
      results(op) = (df.schema, rows)
      () => Map("rows" -> rows.length, "hash" -> hash(rows))
    }

    /** Order-insensitive digest of a result. */
    private def hash(rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
      md.digest().map(b => f"$b%02x").mkString
    }

    /** Each query's last result as parquet, plus the oracle SQL, for the
      * DuckDB check in run.py (outside all timing). */
    def writeResults(spark: SparkSession): Unit = {
      val oracles = graft.SparkEntry.oracleSql
      new File(s"$scratch/results").mkdirs()
      results.foreach { case (q, (schema, rows)) =>
        if (oracles.contains(q))
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$scratch/results/$q")
      }
      writeJson(s"$scratch/results/oracle_sql.json",
        names.flatMap(q => oracles.get(q).map(q -> _)).toMap)
    }
  }
}
