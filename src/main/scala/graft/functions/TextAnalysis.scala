package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis function library for training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  * All pure Column expressions (codegen'd, distributed, no UDFs) so they
  * compose with any scan and stay inside WholeStageCodegen at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokenization (empty tokens dropped). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** BPE-ish subword proxy: count of alphanumeric runs + punctuation
    * marks (a cheap, deterministic stand-in for a real tokenizer's token
    * count; ~chars/4 heuristics are common for LLM budgeting). */
  def subwordCountApprox(text: Column): Column =
    size(filter(split(text, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), t => trim(t) =!= ""))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^\\p{Punct}]", ""))
    when(length(text) > 0, punct / length(text).cast("double")).otherwise(lit(0.0))
  }

  /** English stopword markers shared by stopwordRatio and the gated
    * q_text_stats query (one definition — the two formulas must agree). */
  val EnStopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    val stops = size(filter(tokens(text), t => t.isInCollection(EnStopwords)))
    when(n > 0, stops / n.cast("double")).otherwise(lit(0.0))
  }

  /** Heuristic quality score in [0,1]: length sufficiency, lexical
    * diversity, and stopword balance — the standard cheap pre-filters for
    * pretraining corpora. Deterministic arithmetic (oracle-friendly). */
  def qualityScore(text: Column): Column = qualityScoreFromTokens(tokens(text))

  /** [[qualityScore]] over an already-materialized token array — for
    * callers that tokenize once and reuse the array (a bare
    * qualityScore(text) expands the \s+ tokenization ~5× inside its
    * sub-terms). Identical formula and rounding. */
  def qualityScoreFromTokens(toks: Column): Column = {
    val n = size(toks).cast("double")
    val lenScore = least(lit(1.0), n / 50.0)
    val diversity = when(n > 0, size(array_distinct(toks)) / n).otherwise(lit(0.0))
    val sr = when(n > 0,
      size(filter(toks, t => t.isInCollection(EnStopwords))) / n).otherwise(lit(0.0))
    // NULL tokens (null text) => NULL score: no evidence either way.
    // Without the guard, least() SKIPS the null n/50 term and a null
    // document scores 0.7 — passing quality filters on no evidence, and
    // diverging from the oracles' NULL branch
    when(toks.isNotNull,
      round4Stable(lit(0.4) * lenScore + lit(0.3) * diversity +
        lit(0.3) * (lit(1.0) - sr)))
  }

  /** 4-decimal rounding for NON-NEGATIVE gated ratios as pure double
    * arithmetic — `⌊x·10⁴ + 0.5⌋ / 10⁴` — identical bit-for-bit on any
    * engine. `ROUND(x, 4)` is NOT: Spark rounds the shortest decimal
    * representation HALF_UP, DuckDB rounds half-to-even, and quality
    * scores (rationals over small token counts) land exactly on
    * .xxxx5 often enough to split the two (seen at sf0.1: 0.8402 vs
    * 0.8403 on 3 docs). */
  def round4Stable(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0)

  /** Marker-stopword sets per language for n-gram-free language ID.
    * (Real pipelines use char-n-gram models; marker scoring is the
    * deterministic, SQL-expressible variant.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "que", "por"))

  def langScore(text: Column, markers: Seq[String]): Column =
    langScoreFromTokens(tokens(text), markers)

  /** [[langScore]] over an already-materialized token array — callers
    * scoring several languages should tokenize once and reuse the array
    * (each bare langScore(text, …) expands its own \s+ split). */
  def langScoreFromTokens(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Predicted language from per-language marker counts: argmax (ties
    * broken by input order); no hits → "unknown". Callers with the
    * counts already materialized as columns (q_lang_id) pass those, so
    * the counts are computed once, not once per CASE branch. */
  def langIdFromCounts(counts: Seq[(String, Column)]): Column = {
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight builds nested CASE WHEN — earlier languages win ties
    counts.foldRight(lit("unknown")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Predicted language of a text column (one-shot form). */
  def langId(text: Column): Column =
    langIdFromCounts(LangMarkers.map { case (l, m) => (l, langScore(text, m)) })

  /** Canonical content fingerprint: md5 over the sorted distinct token
    * set — detects reordered/duplicated-token near-copies exactly
    * (the "exact dedup after normalization" key). Uses [[tokens]]
    * (\s+ split, empties dropped) so whitespace-variant copies — double
    * spaces, tabs, leading blanks — normalize to the same fingerprint. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Rolling-hash style 60-bit content hash (first 15 md5 hex digits —
    * 16 would overflow a signed long under the ANSI cast). */
  def contentHash64(text: Column): Column =
    conv(substring(md5(text), 1, 15), 16, 10).cast("long")

  // ---- URL extraction / text normalization ------------------------
  // Same Java-regex ∩ RE2 discipline as the PII patterns.

  /** Optional userinfo before the host — without it, 'https://login@evil
    * .com' would truncate at the '@' and report 'login' as the host,
    * letting the real domain escape a blocklist. */
  val UrlPattern =
    "https?://([A-Za-z0-9._%+-]+@)?[A-Za-z0-9._-]+(/[A-Za-z0-9._%+/-]*)?"

  /** Host capture — shared verbatim with the q_url_extract oracle so
    * the two engines cannot drift. */
  val UrlHostGroup = "https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9._-]+)"

  /** All URLs in a text column, in order. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  /** Hostnames of all URLs, in order (the web-corpus provenance /
    * domain-blocklist key). */
  def extractHosts(text: Column): Column =
    transform(extractUrls(text),
      u => regexp_extract(u, UrlHostGroup, 1))

  /** Unicode normalization ([[UnicodeNormalize]] — codegen'd, no
    * UDF): canonicalize combining sequences before any hash-keyed
    * dedup/match so byte-different spellings of the same text
    * collide. Requires a registered function (operator entry points
    * call `VectorExpressions.ensureRegistered`; extension-built
    * sessions have it already). */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.functions.call_function(
      "unicode_normalize", text, org.apache.spark.sql.functions.lit(form))

  /** Canonical text normalization for matching/dedup keys: lowercase,
    * non-alphanumerics to spaces, whitespace runs collapsed, trimmed.
    * ASCII-scoped on purpose — the arithmetic must be identical in ANSI
    * SQL, and locale-dependent case folding is not. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(Scalars.lowerCase(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  // ---- PII detection / redaction ----------------------------------
  // Patterns restricted to the Java-regex ∩ RE2 common subset (char
  // classes, bounded repeats, \b ASCII word boundary) so the DuckDB
  // oracle evaluates the EXACT same language.

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val SsnPattern = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Number of matches of one PII pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Replace emails, phone numbers and SSNs with typed placeholder
    * tokens. SSN runs before phone (disjoint shapes, but the order is
    * part of the defined semantics); email last. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(SsnPattern), lit("[SSN]")),
        lit(PhonePattern), lit("[PHONE]")),
      lit(EmailPattern), lit("[EMAIL]"))

  // ---- HTML boilerplate stripping ---------------------------------
  // Web-corpus extraction: drop script/style blocks wholesale (inline
  // (?s) DOTALL + lazy body, so a '<' INSIDE a script — `if (x<2)` —
  // goes with its block instead of derailing the tag pass), then any
  // remaining tag, then collapse whitespace. Same Java∩RE2 common-
  // subset discipline as the PII patterns, so the DuckDB oracle
  // evaluates the exact same language.

  val ScriptBlockPattern = "(?s)<script[^>]*>.*?</script>"
  val StyleBlockPattern = "(?s)<style[^>]*>.*?</style>"
  val TagPattern = "<[^>]+>"
  /** An opening anchor tag — the link-density numerator. */
  val AnchorPattern = "(?i)<a[\\s>]"

  /** Visible text of an HTML payload: blocks, tags, whitespace runs. */
  def stripHtml(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, lit(ScriptBlockPattern), lit(" ")),
          lit(StyleBlockPattern), lit(" ")),
        lit(TagPattern), lit(" ")),
      lit("\\s+"), lit(" ")))

  /** Number of anchor tags — with [[stripHtml]]'s token count this is
    * the link-density boilerplate signal (nav/footer pages score high,
    * content pages low). */
  def linkCount(text: Column): Column =
    size(regexp_extract_all(text, lit(AnchorPattern), lit(0)))
}
