package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  * All pure `org.apache.spark.sql.functions` compositions (whole-stage codegen;
  * no UDFs), so they run at full vectorized speed over 100 TB of documents.
  */
object TextOps {

  /** Non-empty whitespace-separated token count (the "whitespace tokenizer"). */
  def tokenCount(text: Column): Column =
    size(filter(split(text, " "), t => length(t) > 0))

  /** The subword delimiter class: ASCII whitespace + punctuation + digits,
    * spelled as EXPLICIT hex ranges — never `\s`/`\p{Punct}`/`[:punct:]`
    * shorthands. Shorthand classes silently diverge between regex dialects
    * (Java's `\s` matches U+000B vertical tab, RE2's `\s` does not — a
    * hash-gate failure found the hard way), while hex ranges parse identically
    * in Java regex and RE2/POSIX, so this ONE string is used verbatim in both
    * the Spark split and the DuckDB oracle. Ranges: \x20-\x40 = space + `!`-`/`
    * + digits + `:`-`@`; \x5b-\x60 = `[`-`` ` ``; \x7b-\x7e = `{`-`~`. */
  val subwordDelimClass: String =
    "[\\t\\n\\x0b\\f\\r\\x20-\\x40\\x5b-\\x60\\x7b-\\x7e]+"

  /** Pure-Scala twin of [[subwordDelimClass]] — the FunctionsSpec character
    * sweep asserts the regex matches exactly this set, so a shorthand class
    * can never sneak back in. */
  def isSubwordDelim(c: Char): Boolean =
    c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r' ||
      (c >= ' ' && c <= '@') || (c >= '[' && c <= '`') ||
      (c >= '{' && c <= '~')

  /** A BPE-ish subword count: tokens split on whitespace AND punctuation/digit
    * boundaries, counting ~4-char subword units for long words (approximates BPE
    * vocabulary granularity without a vocab file). */
  def subwordCount(text: Column): Column = {
    val words = filter(split(text, subwordDelimClass), t => length(t) > 0)
    aggregate(words, lit(0), (acc, w) => acc + ceil(length(w) / 4.0).cast("int"))
  }

  /** Occurrences of literal substring `s` (codegen'd replace-trick, no regex). */
  def occurrences(text: Column, s: String): Column =
    ((length(text) - length(replace(text, lit(s), lit("")))) / s.length).cast("long")

  /** Ratio helpers for quality scoring. */
  def punctRatio(text: Column): Column = {
    val punct = occurrences(text, ".") + occurrences(text, ",") +
      occurrences(text, "!") + occurrences(text, "?")
    punct.cast("double") / greatest(length(text), lit(1)).cast("double")
  }

  def stopwordRatio(text: Column): Column = {
    val stops = Seq("the", "a", "of", "and", "to", "is", "in")
      .map(w => occurrences(concat(lit(" "), text, lit(" ")), s" $w "))
      .reduce(_ + _)
    stops.cast("double") / greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Document quality score in [0,1]: length band + stopword presence − punctuation
    * excess. Heuristic in the Gopher/C4 filtering tradition. NULL text scores
    * NULL (not the 0.2 baseline): a contentless row is not a quality sample —
    * without the outer guard every `when` condition on null goes to its 0.0
    * branch but the unconditional baseline still adds, so a delete burst would
    * read as a corpus-quality collapse on the streaming monitor. */
  def qualityScore(text: Column): Column = {
    val lenScore = when(length(text).between(50, 10000), 0.5).otherwise(0.0)
    val stopScore = when(stopwordRatio(text) > 0.01, 0.3).otherwise(0.0)
    val punctPenalty = when(punctRatio(text) > 0.1, 0.2).otherwise(0.0)
    when(text.isNotNull, round(lenScore + stopScore + lit(0.2) - punctPenalty, 2))
  }

  /** N-gram-heuristic language ID: scores each language by counts of its marker
    * words, returns the argmax (ties broken by fixed language order). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"),
    "zh" -> Seq("的", "是", "了"))

  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scores = langMarkers.map { case (lang, ms) =>
      (lang, ms.map(m => occurrences(padded, s" $m ")).reduce(_ + _))
    }
    // argmax via struct max: (score, reverse-order tiebreak, lang)
    val structs = scores.zipWithIndex.map { case ((lang, s), i) =>
      struct(s.as("s"), lit(langMarkers.size - i).as("tb"), lit(lang).as("lang"))
    }
    greatest(structs: _*).getField("lang")
  }

  /** Exact content fingerprint (md5 — portable across engines). */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))

  /** Deterministic train/val/test routing: portable-md5 CONTENT hash → one of
    * 100 buckets. Content-keyed on purpose — ids are assigned at ingest, so an
    * id-keyed split sends re-ingested or near-identical shards of the same
    * document to different splits (eval leakage); hashing the text itself makes
    * the assignment stable under re-ingest, repartitioning, and id reassignment.
    * Pure codegen'd column math: the split is a map-side projection, no shuffle,
    * and the same derivation runs in any md5-bearing engine. */
  def splitBucket(text: Column): Column =
    pmod(PortableHash.md5Long(text), lit(100L))

  /** Bucket → split name, default 90/5/5. */
  def splitName(bucket: Column, trainPct: Int = 90, valPct: Int = 5): Column =
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))

  // ── PII redaction (training-data curation) ────────────────────────────────
  // Patterns live in the RE2 ∩ Java dialect and are shared VERBATIM with the
  // oracle (the subwordDelimClass discipline): no lookaround (RE2 lacks it),
  // no \s (Java matches U+000B, RE2 doesn't), no \d shorthand — enumerated
  // [0-9] classes only. \b is the ASCII word boundary in both dialects.
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re: String = {
    val oct = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    s"\\b$oct(\\.$oct){3}\\b"
  }
  val phoneRe: String = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Sequential PII redaction: emails, then IPv4, then phone-style digit runs.
    * Order matters — an address's local part can contain a digit run the phone
    * pattern would half-eat, so each stage runs over the previous stage's
    * output, and per-type counts (below) are taken at the same stage. Pure
    * codegen'd column regexes: a map-side projection, no shuffle, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Per-stage match counts on the same inputs [[redactPii]] replaces at. */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4Re, "<IP>")
    (size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long"),
      size(regexp_extract_all(afterEmail, lit(ipv4Re), lit(0))).cast("long"),
      size(regexp_extract_all(afterIp, lit(phoneRe), lit(0))).cast("long"))
  }

  /** DuckDB twin of one [[piiCounts]] stage, built from the SAME pattern
    * constants. Patterns contain no single quotes, so direct splice into a
    * standard SQL string literal is safe (backslashes are literal). */
  def piiCountSql(expr: String, re: String): String =
    s"CAST(len(regexp_extract_all($expr, '$re')) AS BIGINT)"

  /** Rolling polynomial fingerprint over whitespace tokens (order-sensitive,
    * unlike a set hash). Token hashes derive from md5 ([[SimOps]] portability
    * rationale) so the DuckDB oracle reproduces the value bit-for-bit. */
  val rollingFpModulus: Long = 1000000007L // M < 2^30 keeps acc*31+h inside Long
  def rollingFingerprint(text: Column): Column = {
    val tokens = filter(split(text, " "), t => length(t) > 0)
    val M = rollingFpModulus
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * 31L + pmod(PortableHash.md5Long(t), lit(M)), lit(M)))
  }
}
