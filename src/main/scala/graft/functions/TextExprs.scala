package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-scoring expressions. The Column-function formulation of
  * language-ID (`tokensWs` + four `filter(toks, _.isin(...))` lambdas) walks
  * the token array once per language through INTERPRETED higher-order
  * functions and materializes the split array per row — measured ~150 µs/doc
  * at sf0.1. At 100 TB that is the dominant text-op cost; this expression
  * replaces it with one primitive byte scan per document and no token-array
  * allocation.
  */
object TextExprs {

  /** lang_marker_scores(loweredText) → array<int>, one marker-hit count per
    * language in [[TextFunctions.LangMarkers]] order. Token semantics are
    * EXACTLY `split(trim(text), "\\s+")` + equality against the marker
    * list: tokens are maximal runs of non-`\s` bytes (Java `\s` =
    * space/tab/LF/VT/FF/CR — all ASCII, so byte-wise scanning is UTF-8
    * safe). Callers pass already-lowercased text so Unicode case folding
    * stays identical to the Column pipeline this replaces.
    */
  case class LangMarkerScores(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "lang_marker_scores"
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    // markers as UTF-8 byte arrays, grouped per language
    @transient private lazy val markerBytes: Array[Array[Array[Byte]]] =
      TextFunctions.LangMarkers.map { case (_, words) =>
        words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
      }.toArray

    @inline private def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val nLangs = markerBytes.length
      val scores = new Array[Int](nLangs)
      val n = bytes.length
      var i = 0
      while (i < n) {
        while (i < n && isWs(bytes(i))) i += 1
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val len = i - start
        if (len > 0) {
          var li = 0
          while (li < nLangs) {
            val words = markerBytes(li)
            var wi = 0
            var matched = false
            while (wi < words.length && !matched) {
              val w = words(wi)
              if (w.length == len) {
                var k = 0
                while (k < len && bytes(start + k) == w(k)) k += 1
                matched = k == len
              }
              wi += 1
            }
            if (matched) scores(li) += 1
            li += 1
          }
        }
      }
      new GenericArrayData(scores)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** quality_score(text) → double, bit-identical to the Column
    * composition `round(lenScore·0.4 + punctOk·0.3 + stopOk·0.3, 4)`
    * over `length`/`punctRatio`/`stopwordRatio` (TextFunctions), fused
    * into ONE byte scan — the composition walks the text three times,
    * runs a regex replace, and materializes a token array per document
    * just to count stopwords. Exact-parity notes:
    *  - chars are counted as codepoints (non-continuation bytes) =
    *    Spark `length`;
    *  - the punctuation class `[!-/:-@[-`{-~]` is pure ASCII, so byte
    *    ranges match regex codepoint semantics;
    *  - tokens replicate `split(trim(lower(text)), "\\s+")` with
    *    limit -1: space-only trim, Java `\s` (all ASCII), one leading
    *    and one trailing EMPTY token when ws borders remain — those
    *    count toward `size()` exactly like the Column form;
    *  - stopword equality lowercases A-Z only: full Unicode lowering
    *    never maps any other codepoint onto these eight stopwords
    *    (none contains 'k', the one ASCII letter reachable from a
    *    non-ASCII uppercase, U+212A) and never changes `\s` boundaries;
    *  - HALF_UP rounding via BigDecimal, as Spark's `round`;
    *  - NULL text scores 0.0, not NULL: the when-chains it replaces
    *    fall through their null conditions to `otherwise` (length(null)
    *    >= 200 is null -> false), so the composition never returned
    *    null either.
    */
  case class QualityScore(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "quality_score"
    override def dataType: DataType =
      org.apache.spark.sql.types.DoubleType
    override def nullable: Boolean = false

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) 0.0d else nullSafeEval(v)
    }

    @transient private lazy val stopBytes: Array[Array[Byte]] =
      TextFunctions.StopwordsEn
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

    @inline private def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

    @inline private def isPunct(b: Byte): Boolean = {
      val u = b & 0xff
      (u >= '!' && u <= '/') || (u >= ':' && u <= '@') ||
        (u >= '[' && u <= '`') || (u >= '{' && u <= '~')
    }

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val n = bytes.length
      var nChars = 0L
      var nPunct = 0L
      var i = 0
      while (i < n) {
        val b = bytes(i)
        if ((b & 0xc0) != 0x80) nChars += 1
        if (isPunct(b)) nPunct += 1
        i += 1
      }
      // token window: trim removes SPACES only (UTF8String.trim)
      var ts = 0
      var te = n
      while (ts < n && bytes(ts) == ' ') ts += 1
      while (te > ts && bytes(te - 1) == ' ') te -= 1
      var nToks = 0L
      var nStop = 0L
      if (te > ts) {
        if (isWs(bytes(ts))) nToks += 1 // leading empty token
        if (isWs(bytes(te - 1))) nToks += 1 // trailing empty token
        i = ts
        while (i < te) {
          if (isWs(bytes(i))) i += 1
          else {
            val start = i
            while (i < te && !isWs(bytes(i))) i += 1
            nToks += 1
            val len = i - start
            var wi = 0
            var matched = false
            while (wi < stopBytes.length && !matched) {
              val w = stopBytes(wi)
              if (w.length == len) {
                var k = 0
                while (k < len) {
                  var c = bytes(start + k)
                  if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
                  if (c != w(k)) k = len + 1 else k += 1
                }
                matched = k == len
              }
              wi += 1
            }
            if (matched) nStop += 1
          }
        }
      }
      val lenScore =
        if (nChars >= 200 && nChars <= 20000) 1.0d
        else if (nChars >= 50) 0.5d
        else 0.0d
      val punctRatio = if (nChars == 0) 0.0d else nPunct.toDouble / nChars
      val punctOk = if (punctRatio <= 0.2d) 1.0d else 0.0d
      val stopRatio = if (nToks == 0) 0.0d else nStop.toDouble / nToks
      val stopOk = if (stopRatio >= 0.05d) 1.0d else 0.0d
      val raw = lenScore * 0.4d + punctOk * 0.3d + stopOk * 0.3d
      BigDecimal(raw)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** normalize_text(text) → string, bit-identical to
    * `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", ""),
    * "\\s+", " "))` in ONE pass: lowercase, keep [a-z0-9], collapse any
    * `\s` run between kept characters to a single space, never emit
    * leading/trailing space. Pure-ASCII inputs stay on the byte path;
    * anything else lowercases through `toString.toLowerCase()` first —
    * the same split `UTF8String.toLowerCase` makes, so locale behavior
    * matches Spark's `lower` exactly. Dropped characters do NOT create
    * separators ("a.b" → "ab", "a . b" → "a b"), matching the regex
    * chain's remove-then-collapse order.
    */
  case class NormalizeText(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "normalize_text"
    override def dataType: DataType =
      org.apache.spark.sql.types.StringType

    @inline private def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val raw = s.getBytes
      var ascii = true
      var i = 0
      while (ascii && i < raw.length) {
        if ((raw(i) & 0x80) != 0) ascii = false
        i += 1
      }
      val bytes =
        if (ascii) raw
        else s.toString.toLowerCase // UTF8String.toLowerCase's own path
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new Array[Byte](bytes.length)
      var o = 0
      var pendingWs = false
      i = 0
      while (i < bytes.length) {
        var b = bytes(i)
        if ((b & 0x80) == 0) {
          if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
          if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
            if (pendingWs && o > 0) { out(o) = ' '; o += 1 }
            out(o) = b
            o += 1
            pendingWs = false
          } else if (isWs(b)) pendingWs = true
          // other ASCII: dropped, no separator
        }
        // non-ASCII byte: dropped (post-lowercase, [^a-z0-9\s] removes it)
        i += 1
      }
      UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** first_diff_pos(a, b) → bigint: the 1-based CODEPOINT position of
    * the first difference between two strings, bit-identical to the
    * HOF chain it replaces (q170's histogram key):
    * `cast(filter(sequence(1, greatest(length(a), length(b))),
    *   i -> substr(a, i, 1) <> substr(b, i, 1))[0] as bigint)`
    * — i.e. the first index where the single-codepoint substrings
    * differ, where an exhausted side yields "" (so the first position
    * past the shorter string differs unless both are exhausted), and
    * NULL when the strings are equal. The chain allocates a sequence
    * array plus 2·max(len) single-char UTF8Strings per row through
    * interpreted HOF machinery (~2 s of q170's 6.4 s on 262k verified
    * pairs); this is one lockstep byte walk, zero allocation.
    *
    * Codepoint accounting matches Spark `length`/`substr`
    * (UTF8String.numChars: UTF-8 lead bytes); single-codepoint string
    * equality is byte equality of the codepoint's UTF-8 encoding, so
    * comparing the byte slices is exact.
    */
  case class FirstDiffPos(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def prettyName: String = "first_diff_pos"
    override def dataType: DataType =
      org.apache.spark.sql.types.LongType
    // equal strings yield null even when both inputs are non-nullable —
    // BinaryExpression would otherwise derive nullable=false from the
    // children and Catalyst could miscompile a caller (r18 ADVICE item)
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val ab = a.asInstanceOf[UTF8String].getBytes
      val bb = b.asInstanceOf[UTF8String].getBytes
      var i = 0
      var j = 0
      var pos = 1L
      while (i < ab.length && j < bb.length) {
        val la = UTF8String.numBytesForFirstByte(ab(i))
        val lb = UTF8String.numBytesForFirstByte(bb(j))
        if (la != lb) return pos
        var k = 0
        while (k < la) {
          // clamp to the buffer (malformed tail: a lead byte promising
          // more bytes than remain) — substr's copy would just be short,
          // and the shorter slice compares unequal to a longer one
          val ai = i + k; val bj = j + k
          val av: Int = if (ai < ab.length) ab(ai).toInt else -1
          val bv: Int = if (bj < bb.length) bb(bj).toInt else -1
          if (av != bv) return pos
          k += 1
        }
        i += la
        j += lb
        pos += 1L
      }
      // one side exhausted: "" vs a real codepoint differs; both
      // exhausted: equal strings -> null (filter kept nothing)
      if (i < ab.length || j < bb.length) pos else null
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** winnow_fps(normalizedText, k, w) → array<string>: the DISTINCT
    * winnowing-selected gram fingerprints of an already-normalized
    * document, bit-identical to the Column chain it replaces
    * (Dedup.winnowingFingerprints r17 form):
    * {{{
    * toks    = split(trim(t), "\\s+")              // t pre-normalized
    * grams_i = substring(md5(concat_ws("", slice(toks, i, k))), 1, 15)
    * out     = array_distinct(transform(sequence(1, nGrams - w + 1),
    *             i => array_min(slice(grams, i, w))))
    * }}}
    * The chain runs per-row through INTERPRETED higher-order functions
    * — per gram it allocates a slice array, a concat string, a fresh
    * commons-codec digest, a 32-char hex string and a substring; per
    * window another slice plus w string comparisons. Measured 4.0 s
    * for 5,500 docs at sf0.1 (0.7 ms/doc) where the pair join beneath
    * it is 0.44 s. This kernel does ONE pass: tokenize by space, md5
    * each gram from a reused byte buffer through a thread-local
    * MessageDigest, keep only the first 60 bits as a long (15
    * lowercase hex chars = 60 bits, and lexicographic order on
    * fixed-width lowercase hex IS numeric order on those bits), take
    * window minima with a monotonic deque in O(G), dedup into a hash
    * set, and hex-render only the survivors.
    *
    * Input MUST be the [[NormalizeText]] output (single spaces, no
    * border whitespace, never null unless the raw text was null):
    * tokenization here is split-on-' ' which equals
    * `split(trim(t), "\\s+")` exactly on that alphabet.
    */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    override def prettyName: String = "winnow_fps"
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

    @transient private lazy val md5Local =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      // token boundaries (normalized text: single 0x20 separators)
      var nTok = 0
      var i = 0
      val n = bytes.length
      // upper bound on token count for the boundary arrays
      val starts = new Array[Int](n / 2 + 2)
      val ends = new Array[Int](n / 2 + 2)
      while (i < n) {
        while (i < n && bytes(i) == ' ') i += 1
        if (i < n) {
          starts(nTok) = i
          while (i < n && bytes(i) != ' ') i += 1
          ends(nTok) = i
          nTok += 1
        }
      }
      val nGrams = nTok - (k - 1)
      if (nGrams < 1) return new GenericArrayData(Array.empty[Any])
      val md = md5Local.get()
      val grams = new Array[Long](nGrams)
      var g = 0
      while (g < nGrams) {
        md.reset()
        var t = g
        while (t < g + k) {
          md.update(bytes, starts(t), ends(t) - starts(t))
          t += 1
        }
        val d = md.digest()
        // first 15 hex chars = top 60 bits of the first 8 digest bytes
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        grams(g) = v >>> 4
        g += 1
      }
      val nWin = nGrams - (w - 1)
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      if (nWin < 1) {
        // the Column chain emits nothing when there are fewer grams
        // than a full window (transform over an empty sequence)
        return new GenericArrayData(Array.empty[Any])
      }
      // monotonic deque sliding-window minimum over grams, window w
      val dq = new Array[Int](nGrams)
      var head = 0
      var tail = 0 // [head, tail) holds candidate indices, values increasing
      var p = 0
      while (p < nGrams) {
        while (tail > head && grams(dq(tail - 1)) >= grams(p)) tail -= 1
        dq(tail) = p; tail += 1
        val winStart = p - (w - 1)
        if (dq(head) < winStart) head += 1
        if (winStart >= 0) seen.add(grams(dq(head))): Unit
        p += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var o = 0
      val hexDigits = "0123456789abcdef"
      while (it.hasNext) {
        val v = it.next().longValue()
        val cs = new Array[Byte](15)
        var h = 0
        while (h < 15) {
          cs(h) = hexDigits.charAt(((v >>> (4 * (14 - h))) & 0xf).toInt)
            .toByte
          h += 1
        }
        out(o) = UTF8String.fromBytes(cs)
        o += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** del_var_hashes(s, maxDist) → array<long>: the xxhash64 (seed 42 —
    * Spark's `xxhash64`) values of the string's deletion-neighborhood
    * variant SET — the string itself, every single-codepoint deletion,
    * and (maxDist = 2) every two-codepoint deletion — deduplicated.
    * SET-equal by construction to
    * `transform(array_distinct(delVariants), v -> xxhash64(v))` over
    * the interpreted `transform(sequence → concat(substr, substr))`
    * chain it replaces in [[graft.operators.Dedup.editDistanceTextPairs]]
    * (spec-pinned, fuzz incl. multi-byte): substr counts CODEPOINTS, so
    * deletions remove whole UTF-8 codepoint spans. One byte pass + one
    * reused buffer per row, no variant strings materialized — the
    * FastSS blocking join then shuffles 8-byte longs instead of name
    * strings, and a 64-bit collision can only ADD a candidate, which
    * the exact banded-levenshtein verify drops (output lossless, not
    * merely up-to-collision).
    */
  case class DeletionVariantHashes(child: Expression, maxDist: Int)
      extends UnaryExpression with CodegenFallback {
    require(maxDist >= 1 && maxDist <= 2, "maxDist must be 1 or 2")
    override def prettyName: String = "del_var_hashes"
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[UTF8String].getBytes
      val len = b.length
      // codepoint start offsets (offs(n) = len)
      var n = 0
      var i = 0
      while (i < len) {
        i += math.max(1, UTF8String.numBytesForFirstByte(b(i))); n += 1
      }
      val offs = new Array[Int](n + 1)
      i = 0; var c = 0
      while (i < len) {
        offs(c) = i
        i += math.max(1, UTF8String.numBytesForFirstByte(b(i))); c += 1
      }
      offs(n) = len
      val seen = new java.util.HashSet[java.lang.Long]()
      val out = new scala.collection.mutable.ArrayBuffer[Long](
        n + 1 + (if (maxDist == 2) n * (n - 1) / 2 else 0))
      def add(h: Long): Unit =
        if (seen.add(h)) { out += h; () }
      val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
      // the identity string
      add(XXH64.hashUnsafeBytes(b, off, len, 42L))
      val buf = new Array[Byte](len)
      // single deletions: bytes minus codepoint i's span
      i = 0
      while (i < n) {
        val (s0, s1) = (offs(i), offs(i + 1))
        System.arraycopy(b, 0, buf, 0, s0)
        System.arraycopy(b, s1, buf, s0, len - s1)
        add(XXH64.hashUnsafeBytes(buf, off, len - (s1 - s0), 42L))
        i += 1
      }
      if (maxDist == 2 && n >= 2) {
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val (a0, a1) = (offs(i), offs(i + 1))
            val (c0, c1) = (offs(j), offs(j + 1))
            System.arraycopy(b, 0, buf, 0, a0)
            System.arraycopy(b, a1, buf, a0, c0 - a1)
            val p = a0 + (c0 - a1)
            System.arraycopy(b, c1, buf, p, len - c1)
            add(XXH64.hashUnsafeBytes(buf, off, p + (len - c1), 42L))
            j += 1
          }
          i += 1
        }
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private def intLiteral(what: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  private[graft] val kernels: Seq[(String, Kernels.Builder)] = Seq(
    "lang_marker_scores" -> (e => LangMarkerScores(e.head)),
    "quality_score" -> (e => QualityScore(e.head)),
    "normalize_text" -> (e => NormalizeText(e.head)),
    "first_diff_pos" -> (e => FirstDiffPos(e.head, e(1))),
    "winnow_fps" -> (e => WinnowFingerprints(e.head,
      intLiteral("winnow_fps k", e(1)), intLiteral("winnow_fps w", e(2)))),
    "del_var_hashes" -> (e => DeletionVariantHashes(e.head,
      intLiteral("del_var_hashes maxDist", e(1)))))

  def del_var_hashes(s: Column, maxDist: Int): Column =
    Kernels.call("del_var_hashes", s, lit(maxDist))

  def winnow_fps(normalizedText: Column, k: Int, w: Int): Column =
    Kernels.call("winnow_fps", normalizedText, lit(k), lit(w))

  def first_diff_pos(a: Column, b: Column): Column =
    Kernels.call("first_diff_pos", a, b)

  def lang_marker_scores(loweredText: Column): Column =
    Kernels.call("lang_marker_scores", loweredText)

  def quality_score(text: Column): Column =
    Kernels.call("quality_score", text.cast("string"))

  def normalize_text(text: Column): Column =
    Kernels.call("normalize_text", text.cast("string"))
}
