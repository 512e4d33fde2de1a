package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DataFrame veneer mirroring the reference's operator surface
  * (reference: src/ts/dataframe.ts — select/filter/map/sort/first/last/at;
  * CLI head/tail — src/cli/commands/head.ts, tail.ts).
  *
  * Everything stays a lazy Catalyst plan: `selectCols` prunes columns at the
  * scan, `filterExpr` pushes predicates, `sorted().firstN()` fuses to
  * TakeOrderedAndProject. Order-dependent ops (lastN/at/fromLine) need an
  * explicit total order — at distributed scale "file order" is only
  * meaningful if the caller threads an index column (`withRowIndex`).
  */
object Ops {

  implicit class GraftDataFrame(val df: DataFrame) extends AnyVal {

    /** reference dataframe.ts:95-105 `select(...cols)` */
    def selectCols(names: String*): DataFrame = df.select(names.map(col): _*)

    /** CLI filter expression (reference filter.ts) → Catalyst predicate. */
    def filterExpr(e: String): DataFrame =
      df.filter(FilterLang.parse(e, Some(df.schema)))

    /** reference dataframe.ts:124-145 sort/sorted. Raw (untyped) data sorts
      * lexicographically in the reference; on typed columns Spark's native
      * ordering matches the Zig typed sort. `lexicographic=true` forces the
      * reference's string comparison on any column.
      */
    def sorted(c: String, descending: Boolean = false,
               lexicographic: Boolean = false): DataFrame = {
      val base = if (lexicographic) col(c).cast("string") else col(c)
      df.orderBy(if (descending) base.desc else base.asc)
    }

    /** head — reference dataframe.ts:212-215 / head.ts. */
    def firstN(n: Int): DataFrame = df.limit(n)

    /** tail over an explicit order column — reference tail.ts ring buffer.
      * Returns the last n rows by `orderCol`, in ascending order.
      */
    def lastN(n: Int, orderCol: String): DataFrame =
      df.orderBy(col(orderCol).desc).limit(n).orderBy(col(orderCol).asc)

    /** point access by position under an explicit order — dataframe.ts:222-227.
      * Rank comes from [[Sampling.withOrderIndex]]'s bucketed prefix sum,
      * not a global-ORDER-BY window (which plans every row through ONE
      * partition — the round-6 bench still logged the WindowExec warning
      * for this op).
      */
    def at(i: Long, orderCol: String): DataFrame =
      Sampling.withOrderIndex(df, Seq(SortKey(col(orderCol))), "__rn")
        .filter(col("__rn") === (i + 1))
        .drop("__rn")

    /** Contiguous 0-based row index in current row order. The reference
      * exposes `CSVRow.index` (row.ts:88-89); distributed equivalent is
      * zipWithIndex. This is a narrow-dependency op (no shuffle) but it does
      * break columnar codegen — use only where order semantics are required.
      */
    def withRowIndex(name: String = "row_index"): DataFrame = {
      require(!df.columns.contains(name),
        s"input already has a '$name' column — pass a different name")
      val spark = df.sparkSession
      val schema = df.schema
      val indexed = df.rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
      }
      spark.createDataFrame(indexed,
        schema.add(name, org.apache.spark.sql.types.LongType, nullable = false))
    }

    /** 1-based inclusive line window over an order column
      * (reference fromLine/toLine, parser.ts:170-181). Distributed rank —
      * see [[at]].
      */
    def lineRange(from: Long, to: Long, orderCol: String): DataFrame =
      Sampling.withOrderIndex(df, Seq(SortKey(col(orderCol))), "__ln")
        .filter(col("__ln") >= from && col("__ln") <= to)
        .drop("__ln")

    /** Apply a value transform to each (or selected) column — the
      * reference's `transform` parse hook (parser.ts:95-98).
      */
    def transformValues(f: Column => Column, cols: Seq[String] = Nil): DataFrame = {
      val targets = if (cols.isEmpty) df.columns.toSeq else cols
      df.select(df.columns.toSeq.map { c =>
        if (targets.contains(c)) f(col(s"`$c`")).as(c) else col(s"`$c`")
      }: _*)
    }

    /** Driver-side chunked iteration — the reference's `chunk` callback
      * (parser.ts:101-104, default 1000 rows). Streams partitions through
      * the driver via toLocalIterator: only one partition is resident.
      */
    def foreachChunk(chunkSize: Int = 1000)(
        f: Seq[org.apache.spark.sql.Row] => Unit): Unit =
      df.toLocalIterator().asScala.grouped(chunkSize).foreach(g => f(g.toSeq))

    /** Driver-side per-row `step` callback with the reference's
      * `{abort, pause, resume}` parser handle (parser.ts:99-100,
      * 1137-1201). Iteration is pull-based over toLocalIterator, so
      * `abort()` stops fetching immediately (unstarted partitions are
      * never computed), `pause()` returns control to the caller after the
      * current row, and `resume()` — from the callback or later from the
      * caller — continues where iteration stopped.
      */
    def stepRows(f: (org.apache.spark.sql.Row, Ops.StepHandle) => Unit): Ops.StepResult = {
      val handle = stepper(f)
      handle.resume()
      Ops.StepResult(handle.rowsSeen, handle.isAborted, handle.isPaused,
        Some(handle))
    }

    /** Un-driven form of [[stepRows]]: returns the handle without starting
      * — the caller owns the drive loop (`resume()`), so a `pause()` from
      * the callback hands control back to the caller, who resumes later.
      */
    def stepper(f: (org.apache.spark.sql.Row, Ops.StepHandle) => Unit): Ops.StepHandle =
      new Ops.StepHandle(df.toLocalIterator().asScala, f)

    /** Drop rows whose every column is null or blank (reference
      * skipRecordsWithEmptyValues / greedy skipEmptyLines,
      * parser.ts:125-129,1304-1316).
      */
    def skipEmptyRows(greedy: Boolean = true): DataFrame = {
      val nonEmpty = df.columns
        .map { c =>
          val s = col(c).cast("string")
          if (greedy) col(c).isNotNull && trim(s) =!= "" else col(c).isNotNull && s =!= ""
        }
        .reduce(_ || _)
      df.filter(nonEmpty)
    }
  }

  /** Outcome of a [[GraftDataFrame.stepRows]] drive: rows delivered to the
    * callback, whether the handle aborted (reference meta.aborted), and
    * whether the drive stopped on a pause — in which case `handle` resumes
    * it (a paused partial drive is NOT a completed one).
    */
  final case class StepResult(rowsSeen: Long, aborted: Boolean,
      paused: Boolean = false, handle: Option[StepHandle] = None)

  /** The reference's ParserHandle (parser.ts:47-56): abort stops the
    * drive; pause stops it resumably; resume continues it — callable from
    * inside the step callback or from the caller afterwards.
    */
  final class StepHandle private[operators] (
      it: Iterator[org.apache.spark.sql.Row],
      cb: (org.apache.spark.sql.Row, StepHandle) => Unit) {
    private var aborted = false
    private var paused = false
    private var running = false
    private var seen = 0L

    def abort(): Unit = aborted = true
    def pause(): Unit = paused = true
    def isAborted: Boolean = aborted
    def isPaused: Boolean = paused
    def rowsSeen: Long = seen

    /** Drive (or continue driving) the iterator. Re-entrant-safe: calling
      * resume() from within the callback just clears the pause flag — the
      * outer loop keeps going; no nested drive starts.
      */
    def resume(): Unit = {
      paused = false
      if (running) return
      running = true
      try {
        while (!aborted && !paused && it.hasNext) {
          val row = it.next()
          seen += 1
          cb(row, this)
        }
      } finally running = false
    }
  }
}
