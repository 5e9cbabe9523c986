package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * normalization, tokenization, shingling, quality metrics, a language-ID
  * heuristic, token counting, and content fingerprinting. All are pure
  * codegen-friendly built-in compositions (no UDFs), so they stay inside
  * whole-stage codegen and scale linearly with executors — each is a
  * narrow per-row transform with zero shuffle.
  */
object TextFunctions {

  /** Lowercase, collapse every non-alphanumeric run to a single space,
    * trim — the canonical form used for hashing/dedup.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** ALL word n-grams of a token array, in order, duplicates kept — the
    * unit of repetition scoring (a doc that repeats itself has few
    * distinct n-grams relative to total).
    */
  def allShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))

  /** Distinct word n-grams ("shingles") of a token array — the unit of
    * Jaccard/MinHash near-dedup.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(allShingles(toks, n)))

  /** Exact content fingerprint over the normalized text. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** BPE-ish token count: alphanumeric runs and single punctuation marks
    * each count as one token (a cheap, deterministic proxy for subword
    * tokenizers).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** English-ish stopword list used by the quality score. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** Ratio of stopword tokens — a classic quality-score component. */
  def stopwordRatio(toks: Column): Column = {
    val stops = array(Stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stops, t))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Mean token length (chars), exact integer arithmetic then one double
    * division so engines agree bit-for-bit.
    */
  def avgTokenLength(text: Column, toks: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** PII-redaction regexes. Kept to character classes + bounded repeats so
    * the same pattern string is valid in both Java regex and RE2-family
    * engines (the DuckDB oracle runs them verbatim).
    */
  val EmailRe: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe: String = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Redact emails then phone numbers with typed placeholders — the
    * standard pre-training scrub pass. Pure codegen'd regexp_replace,
    * zero shuffle, linear scan.
    */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  /** HTML entity decodes applied after tag stripping, in this order (the
    * order is part of the contract — `&amp;lt;` decodes to `&lt;` then
    * stays, the standard single-pass semantics).
    */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ")

  /** HTML/boilerplate stripping — the markup-removal pass every web
    * corpus runs before quality scoring. Four stages, all codegen'd
    * built-ins, zero shuffle:
    *
    *  1. block-level closers (`</p>`, `</div>`, `</nav>`, …) become
    *     newlines, so the document's LINE structure survives tag removal;
    *  2. every remaining tag is stripped;
    *  3. entities decode ([[HtmlEntities]]);
    *  4. the boilerplate heuristic drops SHORT lines (< 20 chars): nav
    *     bars, cookie banners, footers and titles are short,
    *     content paragraphs are long — the classic length-based
    *     boilerplate filter — then whitespace collapses to single spaces.
    *
    * Every regex is character-class + bounded-repeat only, valid and
    * identical in Java regex and RE2 (the DuckDB oracle runs the same
    * pattern strings verbatim).
    */
  def stripHtml(html: Column): Column = {
    val lined = regexp_replace(html, "</(title|p|div|nav|footer|h[1-6]|li)>", "\n")
    val untagged = regexp_replace(lined, "<[^>]*>", "")
    val decoded = HtmlEntities.foldLeft(untagged) {
      case (c, (e, r)) => replace(c, lit(e), lit(r))
    }
    val deboiler = regexp_replace(decoded, "(?m)^.{0,19}$\\n?", "")
    trim(regexp_replace(deboiler, "\\s+", " "))
  }

  /** URL canonicalization — the key for URL-level dedup, the cheapest
    * first pass of corpus curation (dedup by normalized URL before any
    * content dedup): lowercase the scheme+host, strip default ports
    * (`:80`/`:443`), the fragment, and tracking params (`utm_*`, `ref`),
    * then tidy dangling separators. Pure narrow projection.
    *
    * RE2 has no lookbehind, so the tracking-param strip keeps its leading
    * `?`/`&` via a capture group — the one place the Spark (`$1`) and
    * DuckDB (`\1`) REPLACEMENT strings differ by dialect; every pattern
    * string is shared verbatim.
    */
  def canonicalUrl(url: Column): Column = {
    val prefix = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    val rest = url.substr(length(prefix) + 1, length(url))
    val canonPrefix = regexp_replace(lower(prefix), ":(443|80)$", "")
    val noFrag = regexp_replace(rest, "#.*", "")
    val noTrack =
      regexp_replace(noFrag, "([?&])(utm_[a-z]+|ref)=[^&#]*", "$1")
    val tidy = regexp_replace(replace(noTrack, lit("?&"), lit("?")), "[?&]+$", "")
    concat(canonPrefix, tidy)
  }

  /** Marker-stopword + script-range language-ID heuristic. Deterministic
    * and cheap (no model); the CASE order is part of the contract.
    */
  def langId(text: Column, toks: Column): Column = {
    def hasAny(words: Seq[String]): Column =
      arrays_overlap(toks, array(words.map(lit): _*))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(hasAny(Seq("der", "die", "das", "und", "nicht")), "de")
      .when(hasAny(Seq("el", "los", "las", "una", "es")), "es")
      .when(hasAny(Seq("le", "les", "une", "est", "et")), "fr")
      .otherwise("en")
  }
}
