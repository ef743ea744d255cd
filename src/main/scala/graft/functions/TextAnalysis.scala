package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines, all expressed as
  * codegen'd `functions._` trees (no UDFs): language ID, quality scoring,
  * token counting, fingerprinting.
  *
  * Determinism-first: hash primitives are md5-based so results are
  * reproducible across engines and runs (Spark's murmur `hash()` has no
  * cross-engine mirror).
  */
object TextAnalysis {

  /** Whitespace tokens of a text column (collapsed runs, then trimmed) —
    * the DataFrame form of the engine-wide policy in [[Tokenize]]. The
    * explicit `[ \t\n\f\r]` class (NOT `\s`, whose membership differs
    * between Java and DuckDB's RE2) keeps this bit-identical to the
    * oracle SQL and the native signature expressions.
    */
  def tokens(text: Column): Column =
    split(trim(regexp_replace(text, Tokenize.WsClass + "+", " ")), " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Hashing-trick feature bucket of a token: the md5 24-bit prefix mod
    * `buckets` — the fixed-dimension feature map of hashed-n-gram models
    * (fastText-style classifiers, DSIR importance weights). md5-based so
    * the bucket is engine-exact (oracle mirror:
    * `CAST(concat('0x', substr(md5(token), 1, 6)) AS BIGINT) % buckets`);
    * 24 bits keeps the pre-mod value integral in both engines.
    */
  def featureBucket(token: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in 1..2^24 (md5 24-bit prefix), got $buckets")
    pmod(conv(substring(md5(token), 1, 6), 16, 10).cast("long"), lit(buckets.toLong))
  }

  /** BPE-ish subword proxy: count of `[a-z]+` word pieces, digits, and
    * non-alphanumeric symbols — the regex families a byte-pair tokenizer
    * would split on.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]|[^a-z0-9 \\t\\n\\f\\r]"), lit(0)))

  /** N-gram language-ID heuristic: vote on language-characteristic
    * function words. Tiny stopword inventories per language keep this a
    * pure expression tree; swap for real profiles at scale.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " la "),
    "es" -> Seq(" el ", " y ", " los "),
    "zh" -> Seq(" de5 ", " shi4 ", " le5 "))

  /** Canonical text for multilingual dedup/fingerprinting: Unicode NFC
    * ([[NormalizeText]] — composed accents, one codepoint sequence per
    * glyph), control characters stripped (C0/C1 minus tab/newline, which
    * the whitespace policy handles), and the exotic Unicode spaces
    * (NBSP, en/em/thin spaces U+2000–200A, U+202F, U+205F, U+3000)
    * collapsed to plain space so the `[ \t\n\f\r]` tokenizer class sees
    * them. Feed this to [[fingerprint]]/`Dedup.exact` for dedup that is
    * insensitive to encoding form — pure codegen'd map-side expression
    * chain, zero shuffle.
    */
  def canonicalize(text: Column): Column =
    regexp_replace(
      regexp_replace(NormalizeText(text),
        "[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f\\x80-\\x9f]", ""),
      "[\\xa0\\u1680\\u2000-\\u200a\\u202f\\u205f\\u3000]", " ")

  /** HTML → text extraction: the boilerplate-strip stage a crawl pipeline
    * runs before ANY text analysis (quality, lang-id, dedup all assume
    * prose, not markup). Pure regexp chain — map-side, codegen'd, no UDF,
    * same policy as [[redactPii]]. Order matters: script/style elements
    * drop WITH their content (code is not prose), comments drop, every
    * remaining tag becomes a space (so `<p>a</p><p>b</p>` keeps the word
    * boundary), then the HTML-core named entities decode — `&amp;` LAST,
    * so `&amp;lt;` yields the literal text `&lt;` rather than
    * double-decoding to `<`. Whitespace collapses to single spaces and
    * trims.
    *
    * Deliberate heuristic bounds (documented, not bugs): a literal `>`
    * inside a quoted attribute value ends the tag early, and numeric
    * character references (`&#…;`) pass through undecoded — a full HTML5
    * tokenizer is a parser, not an expression; this is the map-side
    * approximation that handles machine-generated crawl markup.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&" // last: earlier entities must not re-decode
    ).foldLeft(noTags) { case (c, (entity, ch)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(entity),
        java.util.regex.Matcher.quoteReplacement(ch))
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\f\\r]+", " "))
  }

  /** Occurrences of a literal substring. */
  def occurrences(text: Column, token: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(token), ""))) / token.length).cast("long")

  /** Predicted language = profile with the most stopword hits; ties break
    * by profile order; no hits → "unknown".
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scored = langProfiles.map { case (lang, words) =>
      (lang, words.map(w => occurrences(padded, w)).reduce(_ + _))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("unknown"): Column) { case ((lang, score), els) =>
      when(score === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Quality signals: length, token stats, punctuation/space ratios. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9 \\t\\n\\f\\r]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: favors longer docs (saturating at
    * 500 chars) with low punctuation noise (the q_quality oracle pins
    * this two-factor formula).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5, lit(1.0))
    (lenScore * (lit(1.0) - punctPenalty))
  }

  /** Content fingerprint: md5 of the normalized text (lowercase, collapsed
    * whitespace) — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, Tokenize.WsClass + "+", " "))))

  /** Rolling-hash-style document sketch: the lexicographic minimum md5 over
    * character 8-grams sampled every 4 positions (winnowing-lite). Used as
    * a cheap near-dup signal; full MinHash lives in [[graft.ops.Dedup]].
    */
  def charShingleSketch(text: Column): Column =
    array_min(transform(
      sequence(lit(0), greatest(floor((length(text) - 8) / 4).cast("int"), lit(0))),
      i => md5(text.substr(i * 4 + 1, lit(8)))))

  // ------------------------------------------------------------- PII scrub

  /** The PII patterns a training-corpus scrub redacts before release:
    * emails, international-ish phone numbers, IPv4 addresses, and 13-16
    * digit card-shaped numbers. Conservative (digit-run based) on purpose:
    * a corpus scrub prefers false positives over leaked identifiers.
    * Plain Java-regex alternations — codegen'd `regexp_replace`/
    * `regexp_count`, no UDF.
    */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d(?:[ -]?\\d){12,15}\\b" -> "<CARD>",
    // IP BEFORE phone: the phone alternation also matches dotted IPv4
    // with wide octets (192.168.200.100 parses as country/area/number)
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\+?\\d{1,3}[ .-]?\\(?\\d{2,4}\\)?[ .-]?\\d{3,4}[ .-]?\\d{3,4}\\b" -> "<PHONE>")

  /** Text with every PII match replaced by its `<TYPE>` tag. Order
    * matters: emails first (their local parts contain digit runs), then
    * card-shaped runs (longer than phones), then IPs (dotted quads also
    * look like phones), then phones.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Count of PII matches by type: struct<emails, cards, phones, ips> —
    * the audit metric a scrub job reports. Counted on the progressively
    * redacted text so overlapping families (card/phone/IP digit runs)
    * are not double-counted, mirroring [[redactPii]]'s precedence.
    */
  def piiCounts(text: Column): Column = {
    val stages = PiiPatterns.scanLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }
    val byTag = PiiPatterns.zip(stages.init).map { case ((re, tag), stage) =>
      tag -> regexp_count(stage, lit(re)).cast("long")
    }.toMap
    struct(
      byTag("<EMAIL>").as("emails"), byTag("<CARD>").as("cards"),
      byTag("<PHONE>").as("phones"), byTag("<IP>").as("ips"))
  }
}
