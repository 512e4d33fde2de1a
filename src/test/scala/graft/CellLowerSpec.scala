package graft

import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CsvExprs

/** Why `csv_cell_class` needs no case mapping for non-ASCII cells:
  * `lower` (both of its case-mapping modes) maps every code point above
  * U+007F to text holding a non-ASCII character, or to `k` (U+212A
  * KELVIN SIGN) — a letter of neither "true" nor "false" — and the one
  * context-dependent mapping, final sigma, gives σ or ς. So no cell with
  * a non-ASCII character lowercases to "true" or "false".
  */
class CellLowerSpec extends AnyFunSuite {

  private def lower(s: String, icu: Boolean): String =
    CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icu).toString

  test("no code point above U+007F lowercases into the letters of " +
      "true or false") {
    val letters = "truefals".toSet
    for (icu <- Seq(false, true)) {
      val asciiOnly = (0x80 to 0x10ffff).iterator
        .filterNot(cp => cp >= 0xd800 && cp <= 0xdfff)
        .map(cp => cp -> lower(new String(Character.toChars(cp)), icu))
        .filter { case (_, l) => l.forall(_ < 0x80) }
        .toSeq
      assert(asciiOnly.map(_._1) == Seq(0x212a), s"icu $icu")
      assert(asciiOnly.forall(_._2.forall(c => !letters(c))), s"icu $icu")
    }
  }

  test("final sigma lowercases to sigma in every context") {
    for (icu <- Seq(false, true); s <- Seq("Σ", "AΣ", "ΣA", "AΣA", "TRUEΣ", "ΣFALSE")) {
      val l = lower(s, icu)
      assert(l.exists(c => c == 'σ' || c == 'ς'), s"$s icu $icu")
    }
  }

  test("a cell with a non-ASCII character is never boolean") {
    for (s <- Seq("Kalse", "İrue", "TRUÉ", "ｔｒｕｅ", "trueΣ", "faLSE\u0085"))
      assert((CsvExprs.cellClass(UTF8String.fromString(s)) & CsvExprs.NotBoolean) != 0, s)
  }
}
