package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-ROW sketch expressions: compute a document's MinHash signature or
  * SimHash fingerprint directly from its shingle/token array — no explode,
  * no shuffle, no aggregation. At 100 TB this turns sketching into a pure
  * map over the corpus (the explode+groupBy formulation shuffles
  * |docs|×|shingles| rows; this shuffles nothing).
  *
  * Hashing matches the SQL `xxhash64(string)` function exactly (XXH64 over
  * the UTF-8 bytes, seed 42), so results are identical to the
  * explode-based pipeline they replace. Per-element work happens once per
  * DOCUMENT (not per compared pair), so interpreted eval (CodegenFallback)
  * costs only boxing per row — the inner loops are primitive.
  */
object SketchExprs {

  private val XxSeed = 42L

  @inline private[functions] def xxh64(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), XxSeed)

  @inline private[functions] def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** shingle_hashes(tokens, k) → array<long>: DISTINCT hashes of the
    * k-token windows, combined directly from per-token hashes — no shingle
    * string is ever materialized (building "w1 w2 w3" strings for
    * |corpus|×|tokens| windows was the dominant allocation cost of the
    * shingle pipelines). Equality of combined hashes ≡ equality of token
    * windows (collision odds ~2^-64 per pair).
    */
  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "shingle_hashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < k) return new GenericArrayData(Array.empty[Long])
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        th(i) = if (s == null) 0L else xxh64(s)
        i += 1
      }
      val m = n - k + 1
      val out = new Array[Long](m)
      i = 0
      while (i < m) {
        var h = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < k) { h = fmix64(h ^ th(i + j)) * 31L + j; j += 1 }
        out(i) = h
        i += 1
      }
      // distinct (reference shingle sets are distinct): sort + unique
      java.util.Arrays.sort(out)
      var w = 0
      i = 0
      while (i < m) {
        if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, w))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** ngram_hashes(tokens, k) → array<long>: POSITIONAL xxhash64 of every
    * k-token gram string, bit-identical to
    * `transform(ngrams(text, k), g => xxhash64(g))` over
    * `tokens = tokensWs(text)` — i.e. element i is
    * `xxhash64(concat_ws(" ", tokens[i..i+k-1]))` (seed 42 over the
    * UTF-8 bytes of the space-joined gram), duplicates kept, document
    * order preserved, empty array when there are fewer than k tokens.
    * Unlike [[ShingleHashes]] (combined per-token hashes, deduped and
    * sorted for set-similarity) these are hashes OF THE GRAM STRING, so
    * they equal what the explode(ngrams)+xxhash64 pipelines (q71 spans,
    * q119 distinct sketch, q210 span dedup) already compute — those
    * pipelines built a slice array, a concat string and a hash per gram
    * through interpreted HOFs; this reuses one byte buffer per row.
    * concat_ws parity: null tokens are SKIPPED (no separator), empty
    * strings kept (tokensWs emits "" edge tokens, never null).
    */
  case class NgramHashes(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1, "k must be >= 1")
    override def prettyName: String = "ngram_hashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < k) return new GenericArrayData(Array.empty[Long])
      // token byte slices, materialized once per row
      val toks = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        toks(i) = if (s == null) null else s.getBytes
        i += 1
      }
      val m = n - k + 1
      val out = new Array[Long](m)
      var buf = new Array[Byte](64)
      i = 0
      while (i < m) {
        var len = 0
        var wrote = false
        var j = i
        while (j < i + k) {
          val t = toks(j)
          if (t != null) { // concat_ws skips nulls, keeps empties
            val need = len + t.length + 1
            if (need > buf.length)
              buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
            if (wrote) { buf(len) = ' '; len += 1 }
            System.arraycopy(t, 0, buf, len, t.length)
            len += t.length
            wrote = true
          }
          j += 1
        }
        out(i) = XXH64.hashUnsafeBytes(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, XxSeed)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** minhash_array(shingles, n) → array<long>: component-wise minima of
    * the Kirsch–Mitzenmacher family h1 + i·h2 over all elements. Accepts
    * either string elements (hashed here) or long elements (pre-hashed,
    * e.g. ShingleHashes output).
    */
  case class MinHashArray(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "minhash_array"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private lazy val elemIsLong =
      child.dataType.asInstanceOf[ArrayType].elementType == LongType

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val sig = Array.fill(numHashes)(Long.MaxValue)
      val n = arr.numElements()
      var e = 0
      while (e < n) {
        val x =
          if (elemIsLong) arr.getLong(e)
          else {
            val s = arr.getUTF8String(e)
            if (s == null) 0L else xxh64(s)
          }
        val h1 = fmix64(x)
        val h2 = fmix64(x ^ 0x9e3779b97f4a7c15L) | 1L
        var h = h1
        var i = 0
        while (i < numHashes) {
          if (h < sig(i)) sig(i) = h
          h += h2
          i += 1
        }
        e += 1
      }
      new GenericArrayData(sig)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** simhash_array(tokens) → long: 64-bit SimHash with ±1 bit votes per
    * token occurrence — identical values to the explode-based simhash64.
    */
  case class SimHashArray(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "simhash_array"
    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      val n = arr.numElements()
      var e = 0
      while (e < n) {
        val s = arr.getUTF8String(e)
        if (s != null) {
          val h = xxh64(s)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
            i += 1
          }
        }
        e += 1
      }
      var fp = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
      fp
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** band_hashes(sig, bands, rpb) → array<long>: all LSH band keys of
    * a MinHash signature in ONE kernel pass — value-identical to
    * `(0 until bands).map(j => xxhash64(slice(sig, j*rpb+1, rpb)))`
    * (spec-pinned): Spark's `xxhash64` over an array<long> folds
    * XXH64.hashLong(elem, acc) over the elements with seed 42, and
    * `slice` only selects which elements fold. The expression-per-band
    * form pays `bands` GenericArrayData slice copies + boxed element
    * walks per ROW and bloats the projection (the q92 LshBands /
    * 144-vec_dot lesson — measured here: the 64-column corpus band
    * derivation was 13.4 s of a 21 s admission step at 495k docs, vs
    * 0.7 s to scan the signatures).
    */
  case class BandHashes(child: Expression, bands: Int, rpb: Int)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "band_hashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val out = new Array[Long](bands)
      var j = 0
      while (j < bands) {
        var acc = 42L
        var i = j * rpb
        val end = math.min(i + rpb, arr.numElements())
        while (i < end) {
          acc = XXH64.hashLong(arr.getLong(i), acc)
          i += 1
        }
        out(j) = acc
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private[graft] val kernels: Seq[(String, Kernels.Builder)] = {
    import Kernels.intArg
    Seq(
      "minhash_array" -> (e => MinHashArray(e(0), intArg(e(1)))),
      "simhash_array" -> (e => SimHashArray(e.head)),
      "band_hashes" -> (e => BandHashes(e(0), intArg(e(1)), intArg(e(2)))),
      "shingle_hashes" -> (e => ShingleHashes(e(0), intArg(e(1)))),
      "ngram_hashes" -> (e => NgramHashes(e(0), intArg(e(1)))))
  }

  def ngram_hashes(tokens: Column, k: Int): Column =
    Kernels.call("ngram_hashes", tokens, lit(k))

  def shingle_hashes(tokens: Column, k: Int): Column =
    Kernels.call("shingle_hashes", tokens, lit(k))

  def minhash_array(shingles: Column, numHashes: Int): Column =
    Kernels.call("minhash_array", shingles, lit(numHashes))

  def simhash_array(tokens: Column): Column =
    Kernels.call("simhash_array", tokens)

  def band_hashes(sig: Column, bands: Int, rpb: Int): Column =
    Kernels.call("band_hashes", sig, lit(bands), lit(rpb))
}
