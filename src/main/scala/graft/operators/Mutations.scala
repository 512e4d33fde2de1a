package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Copy-on-write mutation emulation (reference: writable parser —
  * src/ts/parser.ts:279-299,744-899; edit log src/ts/writer.ts:207-290).
  *
  * The reference mutates a parsed file in place via an edit log replayed at
  * `save()`. Spark has no in-place mutation; the equivalent is a
  * DETERMINISTIC TRANSFORMATION PLAN keyed by a row index:
  *  - `setCell`/`deleteRow` become `when`-projections / filters (edits live
  *    in the plan, broadcast-sized — the log is driver state exactly like
  *    the reference's);
  *  - `insertRow(pos, …)` interleaves at the output position among
  *    surviving rows (reference replay loop parser.ts:813-850) via a
  *    fractional sort key — no shuffle beyond the final order-by;
  *  - `save()` materializes through [[graft.sources.CsvWriter]];
  *  - `discardChanges` is just dropping the log (plans are immutable).
  *
  * Edits apply to STRING-typed frames (the reference edits raw text cells).
  */
final case class WritableFrame(
    base: DataFrame,
    indexCol: String,
    cellEdits: Vector[(Long, String, String)] = Vector.empty,
    inserts: Vector[(Long, Seq[String])] = Vector.empty,
    deletes: Set[Long] = Set.empty) {

  def setCell(row: Long, column: String, value: String): WritableFrame =
    copy(cellEdits = cellEdits :+ ((row, column, value)))

  def insertRow(pos: Long, values: Seq[String]): WritableFrame =
    copy(inserts = inserts :+ ((pos, values)))

  def deleteRow(row: Long): WritableFrame = copy(deletes = deletes + row)

  def discardChanges: WritableFrame =
    copy(cellEdits = Vector.empty, inserts = Vector.empty, deletes = Set.empty)

  /** Edit-aware cell read (reference getCell, parser.ts:876-890). Edits are
    * consulted BEFORE the delete set — deliberately: the reference returns a
    * pending edit even on a deleted row (deleteRow never clears the edit
    * log, writer.ts:236-245), and only then reports deleted rows as null.
    */
  def getCell(row: Long, column: String): Option[String] = {
    cellEdits.reverse.collectFirst {
      case (r, c, v) if r == row && c == column => Some(v)
    }.getOrElse {
      if (deletes.contains(row)) None
      else base.filter(col(indexCol) === row).select(column)
        .collect().headOption.map(r => Option(r.getString(0)).orNull)
    }
  }

  /** Materialize the edited frame in final row order (without the index). */
  def result(): DataFrame = {
    val dataCols = base.columns.filterNot(_ == indexCol).toSeq

    // 1. cell edits — fold into per-column when-chains
    val editsByCol = cellEdits.groupBy(_._2)
    var df = base.select(col(indexCol) +: dataCols.map { c =>
      editsByCol.get(c) match {
        case Some(es) =>
          es.foldLeft(col(s"`$c`")) { case (acc, (r, _, v)) =>
            when(col(indexCol) === r, lit(v)).otherwise(acc)
          }.as(c)
        case None => col(s"`$c`")
      }
    }: _*)

    // 2. deletes
    if (deletes.nonEmpty) df = df.filter(!col(indexCol).isin(deletes.toSeq: _*))

    // 3. survivors ranked to contiguous output positions — distributed
    //    rank (bucketed prefix sum), not a global-ORDER-BY window
    val ranked = Sampling
      .withOrderIndex(df, Seq(SortKey(col(indexCol))), "__rank")
      .withColumn("__ord", (col("__rank") - 1).cast(DoubleType))
      .drop(indexCol, "__rank")

    // 4. inserts at fractional positions (k-th insert at pos p sorts just
    //    before the survivor currently at p; stable across multiple inserts)
    val out =
      if (inserts.isEmpty) ranked
      else {
        val spark = base.sparkSession
        val insertRows = inserts.zipWithIndex.map { case ((pos, vals), k) =>
          Row.fromSeq(vals.padTo(dataCols.length, null).take(dataCols.length) :+
            (pos - 0.5 + k * 1e-6))
        }
        val schema = StructType(
          dataCols.map(c => base.schema(c)).toArray :+
            org.apache.spark.sql.types.StructField("__ord", DoubleType, false))
        val insDf = spark.createDataFrame(
          spark.sparkContext.parallelize(insertRows.toList), schema)
        ranked.unionByName(insDf)
      }
    out.orderBy(col("__ord")).drop("__ord")
  }

  /** Replay edits and write as CSV (reference save(path)). */
  def save(path: String,
      opts: graft.sources.CsvWriter.WriteOptions =
        graft.sources.CsvWriter.WriteOptions()): Unit =
    graft.sources.CsvWriter.write(result(), path, opts)
}

object Mutations {
  /** Open a frame for writing: threads a contiguous row index (the COW
    * key), mirroring `writable: true` at parse time.
    */
  def writable(df: DataFrame): WritableFrame = {
    import graft.operators.Ops._
    WritableFrame(df.withRowIndex("__cow_idx"), "__cow_idx")
  }
}
