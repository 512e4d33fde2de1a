package graft.tools

import org.apache.spark.sql.functions._

/** Documents-only scale-rehearsal synthesizer (the ScaleUpEmbeddings
  * pattern): replicate ONLY documents.parquet `factor`× under the full
  * [[ScaleUp]] replication model — id offsets of k·1e8 and the
  * per-replica lowercase Caesar rotation — so image/text operators can
  * be measured a decade past sf10 (q203 needs 5M docs = sf0.1 × 1000)
  * without synthesizing the 600M-row lineitem that a full ScaleUp of
  * that factor would drag along. Rotation classes repeat every 26
  * replicas, so factor 1000 plants ~38 EXACT text copies per class —
  * the duplicate-raster mass the q203 collapse is designed for, at a
  * realistic multiple.
  */
object ScaleUpDocs {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/docs5m"
    val factor = if (args.length > 2) args(2).toInt else 1000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val d = spark.read.parquet(s"$src/documents.parquet")
    val out = (0 until factor).map { k =>
      val rot = lower.drop(k % 26) + lower.take(k % 26)
      d.select((col("doc_id") + lit(k * ScaleUp.Off)).as("doc_id"),
        (if (k == 0) col("text")
         else translate(col("text"), lower, rot)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    out.repartition(cpus.toInt * 4)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val n = spark.read.parquet(s"$dst/documents.parquet").count()
    println(s"""{"scaled":"$dst","factor":$factor,"src":"$src","table":"documents","rows":$n}""")
    spark.stop()
  }
}
