package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, shingling, language ID, quality scoring, fingerprinting.
  *
  * All are compositions of built-in `org.apache.spark.sql.functions` — they
  * stay inside whole-stage codegen (no UDFs), so a 100 TB scan pays no
  * serialization tax. Expressions are ANSI-safe (guards on empty arrays, no
  * overflowing arithmetic).
  */
object TextFunctions {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Token count (0 for null/empty). */
  def tokenCount(text: Column): Column =
    coalesce(size(tokens(text)), lit(0))

  /** A BPE-ish subword count: words plus extra units for long words
    * (approximates byte-pair-encoded token counts with ~4 chars/unit, the
    * usual heuristic for LLM budgeting) — ceil(len/4) summed over words.
    */
  def bpeTokenCountEstimate(text: Column): Column =
    coalesce(
      aggregate(tokens(text), lit(0L),
        (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long")),
      lit(0L))

  /** Word k-shingles joined by a single space, over an already-computed
    * token array column; empty array when there are fewer than k tokens.
    * The lambda body touches only the array attribute (cheap slice), not
    * the tokenizer: higher-order-function lambdas are interpreted and
    * re-evaluate any embedded expression per element, so tokenizing inside
    * the lambda would be quadratic in document length.
    */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Character n-grams over an already-normalized string column (see
    * [[normalized]]; same interpreted-lambda caveat as shingles).
    */
  def ngramsFromNormalized(norm: Column, n: Int): Column =
    when(length(norm) >= n,
      transform(sequence(lit(1), length(norm) - (n - 1)),
        i => substring(norm, i.cast("int"), lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Lowercase + collapse whitespace runs to single spaces + trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Deterministic document fingerprint: md5 of the normalized text.
    * Engine-portable (identical in any ANSI SQL engine with md5).
    */
  def contentFingerprint(text: Column): Column = md5(normalized(text))

  // ---- quality scoring ----

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len > 0,
      (len - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / len)
      .otherwise(lit(0.0))
  }

  /** Mean word length (0 for empty). */
  def meanWordLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** English stopwords used by the quality score and language ID. */
  val enStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "are", "was", "for", "on", "with", "as", "at", "by",
    "it", "this", "that", "be", "from")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    val ts = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(ts) > 0,
      size(filter(ts, t => array_contains(sw, t))).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Composite quality heuristic in [0, 1]: rewards mid-length documents,
    * some stopword presence, low punctuation density and sane word lengths —
    * the usual cheap pre-filter before expensive model-based scoring.
    *
    * Built on the codegen [[HashExpressions.TextStats]] counts, not the
    * composable HOF ratios above: one interpreted lambda in a Project
    * evicts the whole projection from whole-stage codegen (the round-13
    * q77.quality finding). The arithmetic below replicates the composable
    * forms' casts/divisions exactly, so scores are bit-identical.
    */
  def qualityScore(text: Column): Column = {
    val ts = HashExpressions.textStats(text, enStopwords)
    val nTokI = ts.getField("n_tokens")
    val nChars = ts.getField("n_chars")
    val nTok = nTokI.cast("double")
    val stopRatio = when(nTokI > 0,
      ts.getField("n_stopwords").cast("double") / nTokI).otherwise(lit(0.0))
    val pRatio = when(nChars > 0,
      ts.getField("n_punct").cast("double") / nChars).otherwise(lit(0.0))
    val mwl = when(nTokI > 0,
      ts.getField("sum_word_len").cast("double") / nTokI).otherwise(lit(0.0))
    val lengthScore = least(nTok / 64.0, lit(1.0))
    val stopScore = least(stopRatio * 4.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - pRatio * 4.0)
    val wordLenScore = when(mwl.between(2.0, 12.0), 1.0).otherwise(0.5)
    round((lengthScore + stopScore + punctScore + wordLenScore) / 4.0, 6)
  }

  // ---- language identification ----

  /** Marker stopwords per language for the n-gram/stopword-heuristic
    * language ID (tiny, deterministic; a real system would plug a model in —
    * the operator shape is what matters at scale).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur"))

  /** Best-guess language code by marker-stopword hit count; 'und'
    * (undetermined) when nothing matches.
    */
  def langId(text: Column): Column = {
    val ts = array_distinct(tokens(text))
    val scores: Seq[(String, Column)] = langMarkers.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        lang -> size(array_intersect(ts, array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }
}
