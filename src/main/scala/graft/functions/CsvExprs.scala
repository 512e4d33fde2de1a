package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{lit, shiftright}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-loop checks for the CSV layer (`sources.CsvReader`): one pass
  * per raw line or per cell instead of regex scans. Each kernel is
  * bit-identical to the Column formula it replaced — the formulas are
  * kept as the oracle in `CsvKernelSpec` — and generates code that calls
  * a static helper below, so its child stays in whole-stage codegen.
  *
  * Byte matching is exact for char matching on valid UTF-8: a quote or
  * separator's encoding begins with a lead byte, which never occurs inside
  * another character's encoding, so byte occurrences fall on character
  * boundaries.
  */
object CsvExprs {

  /** `csv_line_check(line, sep, quote)` → `fieldCount << 1 | badQuote`
    * (null for a null line; read the parts with [[fieldCount]] and
    * [[badQuote]]).
    *
    * fieldCount is `size(split(regexp_replace(line, q(?:[^q]|qq)*q, ""),
    * sep, -1))`: quoted segments removed, then separators counted over
    * what is left, so a multi-char separator may span a removed segment.
    * The regex's backtracking is reproduced: a segment ends at the first
    * lone quote; an unclosed segment ends at the first quote of its last
    * doubled pair (or is not removed at all when it has no pair).
    *
    * badQuote is `odd quote count && line.rlike((^|sep)q)`: an odd number
    * of quotes on a line where some field starts with a quote.
    */
  case class CsvLineCheck(child: Expression, sep: String, quote: String)
      extends UnaryExpression {
    override def prettyName: String = "csv_line_check"
    override def dataType: DataType = IntegerType
    private val sepBytes = sep.getBytes(UTF_8)
    private val quoteBytes = quote.getBytes(UTF_8)

    override def nullSafeEval(input: Any): Any =
      lineCheck(input.asInstanceOf[UTF8String], sepBytes, quoteBytes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val s = ctx.addReferenceObj("sep", sepBytes, "byte[]")
      val q = ctx.addReferenceObj("quote", quoteBytes, "byte[]")
      defineCodeGen(ctx, ev, c => s"graft.functions.CsvExprs.lineCheck($c, $s, $q)")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `csv_cell_class(v)` → bits [[Present]] | [[NotBoolean]] |
    * [[NotNumeric]]; 0 for null and "" (never null itself, so `bit_or`
    * over a column is its inference summary).
    *
    * NotBoolean is `!lower(v).isin("true", "false")`; NotNumeric is
    * `!v.rlike("^-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")` — Java `\d` is
    * ASCII only, and `$` also matches before one final line terminator.
    */
  case class CsvCellClass(child: Expression) extends UnaryExpression {
    override def prettyName: String = "csv_cell_class"
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      cellClass(child.eval(input).asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        int ${ev.value} = graft.functions.CsvExprs.cellClass(
          ${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  val Present = 1
  val NotBoolean = 2
  val NotNumeric = 4

  /** Does `b` occur in `s` at byte `at`? */
  private def at(s: UTF8String, n: Int, at: Int, b: Array[Byte]): Boolean = {
    if (at < 0 || at + b.length > n) return false
    var k = 0
    while (k < b.length) { if (s.getByte(at + k) != b(k)) return false; k += 1 }
    true
  }

  def lineCheck(s: UTF8String, sep: Array[Byte], quote: Array[Byte]): Int = {
    val n = s.numBytes()
    val qn = quote.length
    // kept bytes, materialized only when the separator is several bytes
    // long (its occurrences may span a removed segment)
    val kept = if (sep.length > 1) new Array[Byte](n) else null
    var keptLen = 0
    var seps = 0
    val sep0 = sep(0)
    def keep(from: Int, until: Int): Unit =
      if (kept == null) {
        var k = from
        while (k < until) { if (s.getByte(k) == sep0) seps += 1; k += 1 }
      } else {
        var k = from
        while (k < until) { kept(keptLen) = s.getByte(k); keptLen += 1; k += 1 }
      }
    var quotes = 0
    var fieldStartQuote = false
    def sawQuote(p: Int): Unit = {
      quotes += 1
      if (p == 0 || at(s, n, p - sep.length, sep)) fieldStartQuote = true
    }
    var i = 0
    var plain = 0 // start of the kept run ending at i
    var done = false
    while (!done && i < n) {
      if (!at(s, n, i, quote)) i += 1
      else {
        sawQuote(i)
        var j = i + qn
        var lastPair = -1
        var closed = false
        while (!closed && j < n) {
          if (!at(s, n, j, quote)) j += 1
          else if (at(s, n, j + qn, quote)) {
            sawQuote(j); sawQuote(j + qn); lastPair = j; j += 2 * qn
          } else closed = true
        }
        if (closed) {
          // segment i..j (the closing quote) is removed
          sawQuote(j)
          keep(plain, i)
          i = j + qn
          plain = i
        } else {
          // unclosed: no quote follows the last pair, so nothing after
          // this segment can start another one
          if (lastPair >= 0) { keep(plain, i); plain = lastPair + qn }
          done = true
        }
      }
    }
    keep(plain, n)
    val fields =
      if (kept == null) seps + 1
      else {
        var c = 1
        var k = 0
        while (k <= keptLen - sep.length) {
          var m = 0
          while (m < sep.length && kept(k + m) == sep(m)) m += 1
          if (m == sep.length) { c += 1; k += sep.length } else k += 1
        }
        c
      }
    val bad = quotes % 2 == 1 && fieldStartQuote
    (fields << 1) | (if (bad) 1 else 0)
  }

  def cellClass(s: UTF8String): Int =
    if (s == null || s.numBytes() == 0) 0
    else Present |
      (if (isBoolean(s)) 0 else NotBoolean) |
      (if (isNumeric(s)) 0 else NotNumeric)

  /** `lower(s)` is "true" or "false". A non-ASCII cell never is: every
    * code point above U+007F lowercases, in both of `lower`'s case-mapping
    * modes, to text holding a non-ASCII character or to `k` (U+212A KELVIN
    * SIGN), and the context-dependent final sigma gives σ or ς
    * (`CellLowerSpec` checks every code point).
    */
  private def isBoolean(s: UTF8String): Boolean = {
    val n = s.numBytes()
    (n == 4 || n == 5) && s.isFullAscii && {
      val w = if (n == 4) "true" else "false"
      var m = 0
      while (m < n && (s.getByte(m) | 0x20) == w.charAt(m)) m += 1
      m == n
    }
  }

  @inline private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** `^-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$` on the bytes of `s`. */
  private def isNumeric(s: UTF8String): Boolean = {
    val n = s.numBytes()
    def b(k: Int): Int = if (k < n) s.getByte(k) & 0xff else -1
    def digits(from: Int): Int = {
      var k = from
      while (k < n && digit(s.getByte(k))) k += 1
      k
    }
    var i = if (b(0) == '-') 1 else 0
    if (i < n && digit(s.getByte(i))) {
      i = digits(i)
      if (b(i) == '.') i = digits(i + 1)
    } else if (b(i) == '.' && i + 1 < n && digit(s.getByte(i + 1)))
      i = digits(i + 1)
    else return false
    if (b(i) == 'e' || b(i) == 'E') {
      var j = i + 1
      if (b(j) == '+' || b(j) == '-') j += 1
      if (j < n && digit(s.getByte(j))) i = digits(j)
    }
    // `$`: end of input, or one final line terminator (LF, CR, CRLF,
    // U+0085, U+2028 or U+2029)
    n - i match {
      case 0 => true
      case 1 => b(i) == '\n' || b(i) == '\r'
      case 2 => (b(i) == '\r' && b(i + 1) == '\n') ||
        (b(i) == 0xc2 && b(i + 1) == 0x85)
      case 3 => b(i) == 0xe2 && b(i + 1) == 0x80 &&
        (b(i + 2) == 0xa8 || b(i + 2) == 0xa9)
      case _ => false
    }
  }

  private def stringArg(what: String, e: Expression): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private[graft] val kernels: Seq[(String, Kernels.Builder)] = Seq(
    "csv_line_check" -> (e => CsvLineCheck(e.head,
      stringArg("csv_line_check sep", e(1)),
      stringArg("csv_line_check quote", e(2)))),
    "csv_cell_class" -> (e => CsvCellClass(e.head)))

  /** [[CsvLineCheck]] of `line`, resolved in `spark`. */
  def csv_line_check(spark: SparkSession, line: Column, sep: String,
      quote: String): Column =
    Kernels.call(spark, "csv_line_check", line, lit(sep), lit(quote))

  /** The quote-aware field count part of a [[csv_line_check]] value. */
  def fieldCount(check: Column): Column = shiftright(check, 1)

  /** The invalid-quote part of a [[csv_line_check]] value. */
  def badQuote(check: Column): Column = (check % 2) === 1

  /** [[CsvCellClass]] of `v`, resolved in `spark`. */
  def csv_cell_class(spark: SparkSession, v: Column): Column =
    Kernels.call(spark, "csv_cell_class", v)
}
