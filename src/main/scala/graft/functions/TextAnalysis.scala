package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, language-ID (n-gram/function-word
  * heuristic), quality scoring, and document fingerprinting.
  *
  * Everything here is a per-row narrow transform built from codegen'd
  * built-ins (split/regexp/higher-order array functions) — no UDFs, no
  * shuffle, so it streams at scan speed over 100 TB and pushes column
  * pruning down to the parquet reader (only `text` is read).
  */
object TextAnalysis {

  /** Lowercased whitespace tokens, empties removed.
    *
    * Whitespace is Java `\s+`, which includes vertical tab `\x0B`; RE2
    * (the DuckDB oracles' regex engine) excludes it, so a corpus
    * containing `\x0B` would tokenize differently across engines and
    * break the hash-exact gates built on this split (the driver corpora
    * contain none). This is the FINGERPRINT-DEFINING split — migrating
    * it to the explicit class `[ \t\n\r\f]+` (as [[subwordCount]] and
    * [[normalizeText]] already use) would change every stored canonical
    * fingerprint, so it stays documented rather than changed. */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))

  /** Whitespace + BPE-ish subword count: word tokens are further split on
    * letter/digit/punct class boundaries, approximating a byte-pair-encoder
    * token budget without a vocab file. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Piece count = maximal letter runs + maximal digit runs + one piece
    * per other non-space char (a zero-width class-boundary split yields
    * exactly these pieces). Phrased as run/char COUNTS instead of a
    * lookaround split so the semantics are RE2-expressible — DuckDB can
    * oracle it exactly (RE2 has no lookarounds) — and no piece array is
    * ever materialized. Whitespace is the explicit ASCII class
    * [ \t\n\r\f] in both engines (Java \s adds \x0B, RE2 \s lacks it). */
  def subwordCount(c: Column): Column = {
    val s = lower(c)
    regexp_count(s, lit("[a-z]+")) +
      regexp_count(s, lit("[0-9]+")) +
      (length(s) - length(regexp_replace(s, "[^a-z0-9 \\t\\n\\r\\f]", "")))
  }

  /** Character-class counts for quality scoring (all integer-exact). */
  def nChars(c: Column): Column = length(c)
  def nPunct(c: Column): Column = length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))
  def nDigits(c: Column): Column = length(c) - length(regexp_replace(c, "[0-9]", ""))

  /** Small function-word profiles per language. Real pipelines load large
    * frequency tables; the mechanism (score = matched function words per
    * token) is identical and the profiles are trivially swappable. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour")
  )

  def stopwordCount(c: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(tokens(c), t => array_contains(arr, t)))
  }

  /** Language ID: argmax over per-language function-word hit counts, with a
    * deterministic tiebreak (profile order); no hits at all -> "und". */
  def langId(c: Column): Column = {
    val toks   = tokens(c)
    val scored = LangProfiles.zipWithIndex.map { case ((lang, words), i) =>
      val arr = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(arr, t))).as("score"),
        lit(-i).as("nrank"), lit(lang).as("lang"))
    }
    // stable argmax via array_max over (score, -profileIndex, lang):
    // earlier profiles win ties. (A when/otherwise reduce would duplicate
    // the accumulated tree exponentially — see Similarity.IvfIndex.assign.)
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Heuristic quality signals (length / punct / stopword / repetition),
    * integer-exact so results are engine-portable. `qualityOk` is the usual
    * boolean gate a filtering pipeline applies before training. */
  def qualitySignals(c: Column): Column = {
    val t = tokens(c)
    struct(
      nChars(c).as("n_chars"),
      size(t).as("n_tokens"),
      nPunct(c).as("n_punct"),
      nDigits(c).as("n_digits"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      stopwordCount(c, LangProfiles.head._2).as("n_stopwords_en")
    )
  }

  def qualityOk(c: Column, minTokens: Int = 5, maxTokens: Int = 100000): Column = {
    val s = qualitySignals(c)
    val nTok = s.getField("n_tokens")
    nTok.between(minTokens, maxTokens) &&
      // repetition gate: distinct/total >= 20% (integer cross-multiply, exact)
      s.getField("n_distinct_tokens") * 5 >= nTok &&
      // punctuation gate: punct <= 30% of chars
      s.getField("n_punct") * 10 <= s.getField("n_chars") * 3
  }

  /** All filter signals in ONE pass over the string (native expression,
    * graft.plans.TextStats): the composable `qualityOk(c) && langId(c)`
    * tree tokenizes each row once per signal reference; this tokenizes
    * once, full stop. Use with [[qualityOkFromStats]]/[[langIdFromStats]]
    * — same results, bit-exact. */
  def textStats(c: Column): Column =
    graft.plans.TextFunctions.textStats(c, LangProfiles.map(_._2))

  /** [[qualityOk]] evaluated from a materialized [[textStats]] struct. */
  def qualityOkFromStats(st: Column, minTokens: Int = 5, maxTokens: Int = 100000): Column = {
    val nTok = st.getField("n_tokens")
    nTok.between(minTokens, maxTokens) &&
      st.getField("n_distinct_tokens") * 5 >= nTok &&
      st.getField("n_punct") * 10 <= st.getField("n_chars") * 3
  }

  /** [[langId]] evaluated from a materialized [[textStats]] struct: same
    * argmax-with-profile-order-tiebreak over the per-profile hit counts. */
  def langIdFromStats(st: Column): Column = {
    val hits = st.getField("n_stopwords")
    val scored = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      struct(element_at(hits, i + 1).as("score"), lit(-i).as("nrank"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** URL literal (http/https up to the next whitespace) — RE2-safe like
    * the PII patterns, so the exact same regex runs in Java and the
    * DuckDB oracle. Whitespace is the explicit ASCII class (see
    * [[subwordCount]] for why \s is not portable). */
  val UrlRe: String = "https?://[^ \\t\\n\\r\\f]+"

  /** URL count as [[normalizeText]] sees them (case-folded first, so
    * HTTP:// and https:// count alike). */
  def countUrls(c: Column): Column = regexp_count(lower(c), lit(UrlRe))

  /** Text CANONICALIZATION — the cleanup pass a crawl corpus goes through
    * before dedup/scoring: lowercase, URL literals dropped, control chars
    * dropped, whitespace runs collapsed to single spaces, ends trimmed.
    * Deterministic, per-row, order-sensitive (unlike [[tokens]]-based
    * fingerprints it preserves inner punctuation), and every step is an
    * RE2-safe regexp so the oracle replays it byte-for-byte.
    *
    * Pure narrow projection: three regexp passes per row, no shuffle —
    * streams at scan speed and composes with [[canonicalFingerprint]]
    * for normalized-content dedup. */
  def normalizeText(c: Column): Column = {
    val noUrl = regexp_replace(lower(c), UrlRe, " ")
    val noCtrl = regexp_replace(noUrl, "[\\x00-\\x1f]", " ")
    trim(regexp_replace(noCtrl, " {2,}", " "))
  }

  /** Canonical content fingerprint: md5 of the whitespace-normalized,
    * lowercased text — engine-portable (md5 is standard everywhere), used
    * for exact near-canonical dedup. */
  def canonicalFingerprint(c: Column): Column =
    md5(concat_ws(" ", tokens(c)).cast("binary"))

  /** 64-bit rolling (chained) hash fingerprint: xxhash64 folded across the
    * token stream. Order-sensitive (unlike a bag-of-words hash) and
    * overflow-free under ANSI mode because xxhash64 mixes internally. */
  def rollingFingerprint(c: Column): Column =
    aggregate(tokens(c), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Portable sibling of [[rollingFingerprint]]: the md5-slice chain
    * (graft.plans.PortableSketch.rollingFp) — same order-sensitivity,
    * replayable as a DuckDB list_reduce, so it can be oracled hash-exact
    * (q33). xxhash64 stays the production default; this is the auditable
    * form, the same trade as the q26/q27 portable sketch family. */
  def portableRollingFingerprint(c: Column): Column =
    graft.plans.SketchFunctions.portableRollingFp(tokens(c))

  /** PII patterns — deliberately RE2-safe (no lookarounds, plain classes
    * and word boundaries) so the exact same regex runs in Java, RE2, and
    * the DuckDB oracle. Conservative by design: emails and IPv4 literals
    * only — the two formats with near-zero false-positive rates in prose;
    * anything fuzzier (phone numbers, names) needs corpus-specific rules
    * and belongs upstream of this generic pass. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** Count of PII spans (emails + IPv4) in the text. */
  def countPii(c: Column): Column =
    regexp_count(c, lit(EmailRe)) + regexp_count(c, lit(Ipv4Re))

  /** Mask PII spans with stable placeholders — the curation-pipeline
    * scrub step (training on raw emails/IPs is both a privacy and a
    * memorization problem). Codegen regexp_replace, single pass each. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")

  /** Word n-gram shingles ("w1 w2 .. wn" strings); the unit of Jaccard /
    * MinHash near-dup. Documents shorter than n yield an empty array. */
  def shingles(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(t) - lit(n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
  }
}
