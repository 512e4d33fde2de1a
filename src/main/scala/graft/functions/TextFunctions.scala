package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * quality scoring, language-ID heuristics, fingerprinting, shingling.
  *
  * All pure `Column` expressions (no UDFs) so they stay inside whole-stage
  * codegen and are oracle-checkable in DuckDB with the same regex/lambda
  * semantics. Designed to run per-row over 100 TB of documents — each
  * function is O(doc length), no shuffle, no driver state.
  */
object TextFunctions {

  /** whitespace tokens (empty input → empty array, not [""]). */
  def tokensWs(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCountWs(c: Column): Column = size(tokensWs(c))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric glyphs each count as one token — the standard cheap
    * proxy for subword-tokenizer counts.
    */
  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def charCount(c: Column): Column = length(c)

  private def ratioOf(c: Column, charClass: String): Column = {
    val n = length(c) - length(regexp_replace(c, charClass, ""))
    when(length(c) === 0, 0.0d).otherwise(n.cast("double") / length(c))
  }

  /** fraction of characters that are punctuation (explicit class kept
    * RE2-compatible so the DuckDB oracle matches Java regex exactly).
    */
  def punctRatio(c: Column): Column = ratioOf(c, "[!-/:-@\\[-`{-~]")
  def digitRatio(c: Column): Column = ratioOf(c, "[0-9]")

  val StopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** fraction of whitespace tokens that are (lowercased) English stopwords. */
  def stopwordRatio(c: Column): Column = {
    val toks = tokensWs(lower(c))
    val nStop = size(filter(toks, t => t.isin(StopwordsEn.map(x => x: Any): _*)))
    when(size(toks) === 0, 0.0d).otherwise(nStop.cast("double") / size(toks))
  }

  /** composite quality score in [0,1] — heuristic mix of length band,
    * punctuation sanity, and stopword presence (the usual pretraining
    * quality-filter shape; weights are documented constants, not learned).
    */
  def qualityScore(c: Column): Column = TextExprs.quality_score(c)

  /** Stopword markers for language-ID by stopword voting (n-gram-free
    * heuristic, scored by [[TextExprs.LangMarkerScores]]; deterministic
    * argmax with fixed priority en > de > fr > es on ties).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "et", "est", "une", "dans"),
    "es" -> Seq("el", "y", "es", "una", "en"))

  /** argmax over score COLUMNS (callers should materialize the token array
    * and scores in a prior projection — inlining them here would re-split
    * the text once per comparison operand, ~12× per row).
    */
  def langIdFromScores(en: Column, de: Column, fr: Column, es: Column): Column =
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")

  /** canonical text normalization for fingerprinting/dedup: lowercase,
    * collapse whitespace, strip non-alphanumeric (keeps spaces).
    */
  def normalizeText(c: Column): Column = TextExprs.normalize_text(c)

  /** document fingerprint: md5 of the normalized text — reproducible in
    * any engine (the rolling-hash variant is in Dedup.simhash64).
    */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** vocabulary fingerprint: md5 over the SORTED DISTINCT lowercase
    * token set — a cheap order-insensitive near-dup signal (word-shuffled
    * rewrites of the same text collide; [[fingerprint]] would not).
    */
  def vocabFingerprint(c: Column): Column =
    md5(array_join(array_sort(array_distinct(tokensWs(lower(c)))), " "))

  /** PII patterns, kept RE2-compatible (no backreferences/lookaround) so
    * the DuckDB oracle evaluates them identically to Java regex.
    */
  val EmailRegex: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex: String =
    "(\\+\\d{1,2}[ .-])?(\\(\\d{3}\\)[ .-]?|\\d{3}[ .-])\\d{3}[ .-]\\d{4}"

  /** redact emails then phone numbers with typed placeholders — the
    * standard pre-training PII scrub. Pure per-row regex projection: no
    * shuffle, codegen-friendly, O(doc length).
    */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRegex, "<EMAIL>"),
      PhoneRegex, "<PHONE>")

  def emailCount(c: Column): Column = regexp_count(c, lit(EmailRegex))
  def phoneCount(c: Column): Column = regexp_count(c, lit(PhoneRegex))

  /** ALL word k-grams in document order (duplicates kept — for corpus
    * frequency counting / vocab building, unlike [[wordShingles]] which
    * dedups for set-similarity).
    */
  def ngrams(c: Column, k: Int): Column = {
    val toks = tokensWs(c)
    val n = size(toks)
    when(n < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Within-document n-gram repetition ratio:
    * 1 − distinct(ngrams)/total(ngrams) — the Gopher-style repetition
    * quality signal (0 = no repeated n-gram, → 1 as the doc degenerates
    * into a loop). Pure per-row column work; n-gram-less docs → 0.
    */
  def repetitionRatio(c: Column, n: Int): Column = {
    val g = ngrams(c, n)
    when(size(g) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(g)).cast("double") / size(g))
  }

  /** Shannon entropy (nats) of the document's whitespace-token
    * distribution — low entropy flags repetitive/boilerplate text, the
    * standard cheap quality signal beside length/punctuation ratios.
    * Pure per-row HOF work (distinct types × token scan, O(types·n) on
    * one row's tokens): no shuffle, unlike an explode→groupBy(doc)
    * formulation that would re-key the whole corpus by document.
    * Empty input → 0.0.
    */
  def tokenEntropy(c: Column): Column = {
    val toks = tokensWs(c)
    val n = size(toks).cast("double")
    when(n === 0, lit(0.0)).otherwise(
      -aggregate(array_distinct(toks), lit(0.0), (acc, w) => {
        val p = size(filter(toks, t => t === w)).cast("double") / n
        acc + p * log(p)
      }))
  }
}
